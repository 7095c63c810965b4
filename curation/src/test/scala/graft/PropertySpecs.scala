package graft

import graft.functions.{NGrams, SimHash, VectorOps}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the native expression kernels and the tokenizer and
  * classifier trainers. ScalaCheck Properties run under sbt's built-in
  * framework support.
  */
object KernelProps extends Properties("ExpressionKernels") {

  private val genToken = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val genTokens = Gen.listOf(genToken)

  private def arr(tokens: Seq[String]): ArrayData =
    ArrayData.toArrayData(tokens.map(UTF8String.fromString).toArray)

  property("ngrams: count ≤ max(0, n_tokens - 2); all distinct; deterministic") =
    forAll(genTokens) { ts =>
      val out = NGrams.compute(arr(ts), 3)
      val n = out.numElements()
      val expectMax = math.max(0, ts.size - 2)
      val strs = (0 until n).map(out.getUTF8String(_).toString)
      n <= expectMax && strs.distinct.size == n &&
        strs.forall(_.split(" ").length == 3)
    }

  property("ngrams match a reference sliding-window implementation") =
    forAll(genTokens) { ts =>
      val expected = if (ts.size < 3) Seq.empty
        else ts.sliding(3).map(_.mkString(" ")).toSeq.distinct
      val out = NGrams.compute(arr(ts), 3)
      (0 until out.numElements()).map(out.getUTF8String(_).toString) == expected
    }

  property("simhash is order-invariant (bag semantics) and deterministic") =
    forAll(genTokens) { ts =>
      val a = SimHash.compute(arr(ts))
      val b = SimHash.compute(arr(scala.util.Random.shuffle(ts)))
      a == b
    }

  property("simhash of single-token docs equals sign pattern of its hash") =
    forAll(genToken) { t =>
      val h = SimHash.fnv1a64(t.getBytes("UTF-8"))
      SimHash.compute(arr(Seq(t))) == h
    }

  property("dot matches BigDecimal reference on small vectors") =
    forAll(Gen.listOfN(8, Gen.choose(-10.0, 10.0)),
           Gen.listOfN(8, Gen.choose(-10.0, 10.0))) { (a, b) =>
      val got = VectorOps.dot(
        ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray))
      val ref = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      got == ref // identical fold order ⇒ bitwise equal
    }
}

/** The rolling-hash kernel decodes code points from raw UTF-8 bytes (no
  * per-row String allocation); these properties pin it to the JDK's own
  * decoder across the full code-point space, including the supplementary
  * planes the byte walk must get right.
  */
object RollingHashProps extends Properties("RollingHashKernel") {
  import graft.functions.RollingHash

  // weighted toward multi-byte UTF-8: ASCII, Latin-1/BMP, and astral chars
  private val genCodePoint: Gen[Int] = Gen.frequency(
    4 -> Gen.choose(0x20, 0x7E),
    2 -> Gen.choose(0xA0, 0x2FFF),
    1 -> Gen.choose(0x10000, 0x10FFFF))
    .suchThat(cp => !Character.isSurrogate(cp.toChar) || cp > 0xFFFF)
  private val genText: Gen[String] =
    Gen.listOf(genCodePoint).map(_.flatMap(Character.toChars(_)).mkString)

  private def reference(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % RollingHash.Modulus
      i += Character.charCount(cp)
    }
    h
  }

  property("byte-walk decode == JDK codePointAt reference") =
    forAll(genText) { s =>
      RollingHash.compute(UTF8String.fromString(s)) == reference(s)
    }

  property("hash is always within the prime field") =
    forAll(genText) { s =>
      val h = RollingHash.compute(UTF8String.fromString(s))
      h >= 0L && h < RollingHash.Modulus
    }
}

/** Byte-level BPE invariants: the byte alphabet is a bijection on
  * 0..255, and encode→decode is the IDENTITY for any valid-unicode word
  * under ANY merge table over the alphabet — merges only concatenate
  * existing symbols, so the symbol space is closed over alphabet chars
  * and no byte is ever lost or reordered (the zero-OOV guarantee).
  */
object BpeBytesProps extends Properties("BpeByteLevel") {
  import graft.functions.Bpe

  // controls/whitespace (shifted symbols), ASCII, BMP, and astral chars
  private val genCodePoint: Gen[Int] = Gen.frequency(
    1 -> Gen.choose(0x00, 0x1F),
    4 -> Gen.choose(0x20, 0x7E),
    2 -> Gen.choose(0xA0, 0x2FFF),
    1 -> Gen.choose(0x10000, 0x10FFFF))
  private val genWord: Gen[String] =
    Gen.nonEmptyListOf(genCodePoint)
      .map(_.flatMap(Character.toChars(_)).mkString)
  private val genSym: Gen[String] =
    Gen.choose(1, 3).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf(Bpe.byteSymbols.toIndexedSeq)).map(_.mkString))
  private val genMerges: Gen[Seq[Bpe.Merge]] =
    Gen.listOf(Gen.zip(genSym, genSym)).map(_.zipWithIndex.map {
      case ((l, r), i) => Bpe.Merge(i, l, r, 1L)
    })

  property("alphabet is a 256-symbol bijection of printable BMP chars") =
    forAll(Gen.choose(0, 255)) { b =>
      val s = Bpe.byteSymbols(b)
      s.length == 1 && !s.charAt(0).isWhitespace &&
        Bpe.charToByte(s.charAt(0)) == b.toByte
    }

  property("encode -> decode is the identity under any alphabet merge table") =
    forAll(genWord, genMerges) { (w, ms) =>
      Bpe.decodeBytes(Bpe.segmentWord(w, ms, byteLevel = true)) == w
    }

  property("segmentation conserves the exact UTF-8 byte count") =
    forAll(genWord, genMerges) { (w, ms) =>
      val syms = Bpe.segmentWord(w, ms, byteLevel = true)
      // the out-of-band ByteEndMarker is a suffix of at most one symbol
      // (never content — it is outside the byte alphabet)
      val bytes = syms.map(_.stripSuffix(Bpe.ByteEndMarker).length).sum
      bytes == w.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    }
}

/** Unigram-LM trainer invariants: every output is a probability model
  * with full character coverage at or under the size target, and the
  * Viterbi kernel always yields a finite score that any explicit
  * segmentation can at best tie.
  */
object UnigramProps extends Properties("UnigramTrainer") {
  import graft.functions.Unigram

  private val genWord: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
  private val genHist: Gen[Seq[(String, Long)]] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, for {
      w <- genWord; c <- Gen.chooseNum(1L, 9L)
    } yield (w, c))).map(_.distinctBy(_._1)).suchThat(_.nonEmpty)

  property("probabilities sum to 1; chars never pruned; size within target") =
    forAll(genHist) { hist =>
      val chars = hist.flatMap(_._1.toSeq).map(_.toString).distinct
      val target = chars.size + 2
      val vocab = Unigram.trainLocal(hist, vocabSize = target,
        seedSize = 16, maxPieceLen = 3, emIters = 2)
      val pieces = vocab.map(_.piece).toSet
      math.abs(vocab.map(v => math.exp(v.logProb)).sum - 1.0) < 1e-9 &&
        chars.forall(pieces.contains) &&
        vocab.size <= target &&
        vocab.forall(_.logProb <= 0.0)
    }

  property("training is deterministic") =
    forAll(genHist) { hist =>
      val chars = hist.flatMap(_._1.toSeq).map(_.toString).distinct
      val t = chars.size + 2
      Unigram.trainLocal(hist, t, 16, 3, 2) ==
        Unigram.trainLocal(hist, t, 16, 3, 2)
    }

  property("viterbi segmentation reconstructs the word and its score is the max") =
    forAll(genHist, genWord) { (hist, w) =>
      val chars = hist.flatMap(_._1.toSeq).map(_.toString).distinct
      val vocab = Unigram.trainLocal(hist, chars.size + 2, 16, 3, 2)
      val seg = Unigram.segmentWord(w, vocab, maxPieceLen = 3)
      val lp = vocab.map(v => v.piece -> v.logProb).toMap
      seg.mkString == w && {
        // the greedy single-char segmentation can never beat the argmax
        val viaChars = w.map(c =>
          lp.getOrElse(c.toString, Unigram.OovFloor)).sum
        val best = seg.map(p => lp.getOrElse(p, Unigram.OovFloor)).sum
        best >= viaChars - 1e-9
      }
    }
}

/** Classifier-trainer invariants: determinism and the exported decision
  * rule's agreement with the real-valued model it quantizes.
  */
object ClassifierProps extends Properties("ClassifierTrainer") {
  import graft.functions.TextAnalysis

  private val words = Vector("alpha", "beta", "gamma", "delta")
  private val genDoc: Gen[(Seq[String], Int)] = for {
    n <- Gen.chooseNum(1, 6)
    ts <- Gen.listOfN(n, Gen.oneOf(words))
    y <- Gen.oneOf(0, 1)
  } yield (ts, y)
  private val genSet: Gen[Seq[(Seq[String], Int)]] =
    Gen.chooseNum(2, 10).flatMap(Gen.listOfN(_, genDoc)).suchThat(_.nonEmpty)

  property("training is deterministic and weights are finite micros") =
    forAll(genSet) { ex =>
      val a = TextAnalysis.trainClassifierLocal(ex, words, iters = 5, lr = 0.5)
      val b = TextAnalysis.trainClassifierLocal(ex, words, iters = 5, lr = 0.5)
      a == b && a._1.forall(w => math.abs(w._2) < 100000000L)
    }

  property("zero iterations exports the zero model") =
    forAll(genSet) { ex =>
      val (w, b) = TextAnalysis.trainClassifierLocal(ex, words, iters = 0)
      w.forall(_._2 == 0L) && b == 0L
    }
}
