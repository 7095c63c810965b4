package graft

import graft.model._
import graft.plans.DependencyFinder
import graft.sources.SegmentStore
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the condition language, the greedy reuse cover,
  * exact reuse, the metadata codec, the segment kernel and the `city_tier`
  * byte scan.
  * ScalaCheck Properties run under sbt's built-in framework support.
  */
object ConditionProps extends Properties("ConditionLanguage") {

  private val genField = Gen.oneOf(
    "transaction_amount", "city_tier", "transaction_date",
    "total_spend", "transaction_count", "bogus_field", "")
  private val genOp = Gen.oneOf(CondOp.all.map(_.sym) ++ Seq("LIKE", "", "=="))
  private val genScalar = Gen.oneOf("500", "1", "2024-01-10", "", "not-a-number")
  private val genValue: Gen[CondValue] = Gen.oneOf(
    genScalar.map(CondValue.One),
    Gen.listOf(genScalar).map(vs => CondValue.Many(vs.toVector)))
  private val genCond: Gen[Condition] = for {
    f <- genField; o <- genOp; v <- genValue
    v2 <- Gen.option(genScalar)
  } yield Condition(f, o, v, v2)

  implicit val arbCond: Arbitrary[Condition] = Arbitrary(genCond)

  property("compile never throws; every condition lands in exactly one bucket") =
    forAll(Gen.listOf(genCond)) { cs =>
      val compiled = graft.operators.ConditionCompiler.compile(cs)
      val skipped = compiled.skipped.size
      // skipped + compiled counts account for all inputs
      skipped <= cs.size &&
        (compiled.where.isEmpty || cs.size > skipped) &&
        (cs.nonEmpty || compiled.isVacuous)
    }

  property("operator parse is case-insensitive but whitespace-EXACT") =
    forAll(Gen.oneOf(CondOp.all), Gen.choose(0, 3)) { (op, pad) =>
      // reference parity (rule_parser.py:51): `operator.upper() not in
      // allowed` — case folds, but any padding or doubled internal space
      // must be silently skipped, exactly as the reference skips it
      val munged = (" " * pad) + op.sym.toLowerCase + (" " * pad)
      CondOp.parse(op.sym.toLowerCase).contains(op) &&
        (pad == 0 || CondOp.parse(munged).isEmpty)
    }

  property("SetOp.parse round-trips its own names, any case") =
    forAll(Gen.oneOf(SetOp.Union, SetOp.Intersection, SetOp.Difference)) { op =>
      SetOp.parse(op.toString.toUpperCase).contains(op) &&
        SetOp.parse(op.toString.toLowerCase).contains(op)
    }

  // Any valid Unicode text (an unpaired UTF-16 surrogate has no UTF-8
  // encoding), weighted toward separators, escapes, quotes and newlines.
  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
    3 -> Gen.oneOf("|", ",", ";", "%", "%7c", "\"", "'", "\\", "\n", "\r\n", "\t", "\u0000",
      "é", "日本", "\uD83D\uDE00", "null", "[", "{"),
    1 -> Gen.choose(0, Character.MAX_CODE_POINT)
      .filter(cp => cp < Character.MIN_SURROGATE || cp > Character.MAX_SURROGATE)
      .map(cp => new String(Character.toChars(cp))))).map(_.mkString)
  private val genAnyCond: Gen[Condition] = for {
    f <- Gen.option(genText); o <- Gen.option(genText)
    v <- Gen.oneOf(genText.map(CondValue.One), Gen.listOf(genText).map(vs => CondValue.Many(vs.toVector)))
    v2 <- Gen.option(genText)
  } yield Condition(f.orNull, o.orNull, v, v2) // None ⇒ a null field/operator

  property("codec round-trips arbitrary condition lists") =
    forAll(Gen.listOf(genAnyCond), genText) { (cs, name) =>
      val entry = SegmentCatalogEntry(1L, name, "segment_output_1", cs, Nil, None)
      SegmentStore.fromJson[List[SegmentCatalogEntry]](SegmentStore.toJson(Seq(entry))) == Seq(entry)
    }
}

object DependencyFinderProps extends Properties("DependencyFinder") {

  private val conds: Vector[Condition] = Vector(
    Condition("transaction_amount", ">", "100"),
    Condition("transaction_amount", ">", "250"),
    Condition("city_tier", "=", "1"),
    Condition("city_tier", "=", "2"),
    Condition.between("transaction_date", "2024-01-01", "2024-01-10"),
    Condition("total_spend", ">", "500"))

  private val genCondSet = Gen.someOf(conds).map(_.toVector)
  private val genRules: Gen[Seq[Rule]] = Gen.listOfN(5, genCondSet).map(_.zipWithIndex
    .map { case (cs, i) => Rule(i + 1L, s"r${i + 1}", cs) })

  property("cover is sound: claimed rules' conditions ⊆ target, consumed ≥ 1") =
    forAll(genCondSet, genRules) { (target, rules) =>
      DependencyFinder.findBestDependency(target, rules) match {
        case None => Prop.passed
        case Some(d) =>
          val byId = rules.map(r => r.id -> r).toMap
          val claimed = d.dependencyRuleIds.flatMap(byId(_).conditions).toSet
          val t = target.toSet
          Prop(claimed.subsetOf(t)) :| "claimed ⊆ target" &&
            Prop(d.remaining.toSet == t -- claimed) :| "remaining = target - claimed" &&
            Prop(d.remaining.size < target.size) :| "consumed ≥ 1" &&
            Prop(d.dependencyRuleIds.nonEmpty) :| "≥1 dependency"
      }
    }

  property("excluded rule never appears in the cover") =
    forAll(genCondSet, genRules, Gen.choose(1L, 5L)) { (target, rules, ex) =>
      DependencyFinder.findBestDependency(target, rules.filterNot(_.id == ex))
        .forall(!_.dependencyRuleIds.contains(ex))
    }

  property("detection is deterministic") =
    forAll(genCondSet, genRules) { (target, rules) =>
      DependencyFinder.findBestDependency(target, rules) ==
        DependencyFinder.findBestDependency(target, rules)
    }
}

/** The segment kernel ([[graft.operators.SegmentEngine]]) against the
  * expression it replaced, kept here as the reference: `count`, an exact
  * `decimal(38,6)` sum and `sort_array(collect_set(...))`. Random frames
  * cover null users, amounts and types, HALF_UP ties at the 7th decimal,
  * amounts near 1e11 and names whose UTF-8 and UTF-16 orders differ, over
  * the four ways a view can hold its type names.
  */
object SegmentKernelProps extends Properties("SegmentKernel") {
  import graft.operators.SegmentEngine
  import graft.sources.Tables
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.functions._

  // each check runs about ten small Spark jobs
  override def overrideParameters(p: org.scalacheck.Test.Parameters) = p.withMinSuccessfulTests(12)

  private lazy val spark = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def reference(view: DataFrame, where: Option[org.apache.spark.sql.Column]): DataFrame =
    where.fold(view)(view.filter).groupBy(col("user_id")).agg(
        count(col("user_id")).as("total_transactions"),
        Tables.moneyOut(sum(col("amount").cast(Tables.MoneyExact))).as("total_spent"),
        concat_ws(",", sort_array(collect_set(col("transaction_type")))).as("transaction_types"))
      .filter(col("user_id").isNotNull)

  private type Tx = (Option[Long], Option[Double], Option[String])
  // "\uE000" and "Ａ" (U+FF21) sort after "😀" in UTF-16 code units but before
  // it in UTF-8 bytes, the order sort_array uses; every other frame holds both
  private val genNames: Gen[Seq[String]] = Gen.oneOf(
    Gen.const(Seq("😀pay", "Ａpay", "\uE000", "UPI")),
    Gen.choose(1, 5).flatMap(n => Gen.pick(n,
      Seq("UPI", "CREDIT_CARD", "é-wallet", "日本", "😀pay", "Ａpay", "", "a,b")).map(_.toSeq)))
  private val genAmount: Gen[Option[Double]] = Gen.frequency(
    3 -> Gen.oneOf(0.0000005, -0.0000005, 55.5555555, -55.5555555, 61.505, 0.015,
      1e11, -1e11, 99999999999.99998, 1234.5678915).map(Some(_)),
    2 -> Gen.choose(-1e6, 1e6).map(Some(_)),
    1 -> Gen.const(None))
  private def genTx(names: Seq[String]): Gen[Tx] = for {
    u <- Gen.frequency(6 -> Gen.choose(1L, 6L).map(Some(_)), 1 -> Gen.const(None))
    a <- genAmount
    t <- Gen.frequency(6 -> Gen.oneOf(names).map(Some(_)), 1 -> Gen.const(None))
  } yield (u, a, t)
  private val genFrame: Gen[(Seq[String], Seq[Tx])] = for {
    names <- genNames
    rows <- Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, genTx(names)))
  } yield (names, rows)

  // no shrinking: each shrink step reruns the whole check's Spark jobs
  property("kernel equals the decimal(38,6) sum and collect_set reference") =
    Prop.forAllNoShrink(genFrame, Gen.oneOf(None, Some("0"), Some("55.5555555"))) { case ((names, rows), over) =>
      val s = spark
      import s.implicits._
      val local = rows.toDF("user_id", "amount", "transaction_type")
      val dir = java.nio.file.Files.createTempDirectory("graft_kernel_props").toString
      local.write.mode("overwrite").parquet(dir)
      val parquet = spark.read.parquet(dir)
      val tt = col("transaction_type")
      val literal = parquet.withColumn("transaction_type", lit(names.head))
      val union = (names.map(n => parquet.filter(tt === n).withColumn("transaction_type", lit(n))) :+
        parquet.filter(tt.isNull).withColumn("transaction_type", lit(null).cast("string")))
        .reduce(_ unionByName _)
      val conds = over.toSeq.map(v => Condition("transaction_amount", ">", v))
      val where = graft.operators.ConditionCompiler.compile(conds).where
      def rowsOf(df: DataFrame): Seq[Row] = df.orderBy("user_id").collect().toSeq
      val mismatches = Seq("literal" -> literal, "union" -> union, "local" -> local,
          "parquet" -> parquet).flatMap { case (label, view) =>
        val got = rowsOf(SegmentEngine.materializeBase(view, conds))
        val want = rowsOf(reference(view, where))
        if (got == want) None else Some(s"$label view: $got != $want")
      }
      Prop(mismatches.isEmpty) :| mismatches.mkString("\n")
    }
}

/** Exact reuse end to end: on random rule sets over random transactions,
  * every segment [[graft.operators.SegmentRunner]] stores after `createRule`
  * and `runAll` equals the base segment of the conditions the rule was
  * submitted with. Each rule is fresh or an earlier rule plus one WHERE or
  * HAVING condition, so rules bind Compound several levels deep and WHERE
  * supersets, which must not reuse, occur as often as HAVING supersets. A
  * second `runAll` with a random subset of the rules inactive refreshes
  * Compound chains from their inactive parents' stored segments.
  */
object ExactReuseProps extends Properties("ExactReuse") {
  import graft.operators.{SegmentEngine, SegmentRunner}
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.functions._

  // each check runs about forty small Spark jobs
  override def overrideParameters(p: org.scalacheck.Test.Parameters) = p.withMinSuccessfulTests(8)

  private lazy val spark = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val atoms: Vector[Condition] = Vector(
    Condition("transaction_amount", ">", "200"),
    Condition("transaction_amount", "<", "700"),
    Condition("city_tier", "=", "1"),
    Condition.in("city_tier", Seq("1", "2")),
    Condition.between("transaction_date", "2024-01-02", "2024-01-04"),
    Condition("total_spend", ">", "600"),
    Condition("total_spend", "<", "2000"),
    Condition("transaction_count", ">=", "2"))

  private val genRuleSet: Gen[Vector[Seq[Condition]]] =
    Gen.listOfN(5, Gen.zip(Gen.oneOf(true, false), Gen.choose(0, 99), Gen.pick(2, atoms),
        Gen.oneOf(atoms)))
      .map(_.foldLeft(Vector.empty[Seq[Condition]]) { case (rules, (superset, j, fresh, extra)) =>
        if (superset && rules.nonEmpty) {
          val parent = rules(j % rules.size)
          rules :+ (if (parent.contains(extra)) parent else parent :+ extra)
        } else rules :+ fresh.toSeq.take(1 + j % 2)
      })

  private val genTx: Gen[Seq[(Long, Double, String, String, Int, String)]] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, for {
      user <- Gen.choose(1L, 6L)
      cents <- Gen.choose(100, 100000)
      day <- Gen.choose(1, 5)
      tier <- Gen.choose(1, 3)
      kind <- Gen.oneOf("UPI", "CREDIT_CARD")
    } yield (user, cents / 100.0, s"2024-01-0$day 10:00:00", "Dining", tier, kind)))

  // no shrinking: each shrink step reruns the whole check's Spark jobs
  property("every stored segment equals its submitted conditions' base segment") =
    Prop.forAllNoShrink(genTx, genRuleSet, Gen.listOfN(5, Gen.oneOf(true, false))) {
        (rows, rules, active) =>
      val s = spark
      import s.implicits._
      val tx = rows.toDF("user_id", "amount", "ts_s", "category", "city_tier", "transaction_type")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      def rowsOf(df: DataFrame): Seq[Row] = df.orderBy("user_id").collect().toSeq
      val dir = java.nio.file.Files.createTempDirectory("graft_exact_reuse_props")
      try {
        val store = new SegmentStore(spark, dir.toString)
        val runner = new SegmentRunner(store, () => tx)
        val bound = rules.zipWithIndex.map { case (cs, i) => runner.createRule(s"r$i", cs) }
        def stored(pass: String): Prop = Prop.all(bound.zip(rules).map { case ((id, plan), cs) =>
          Prop(rowsOf(store.read(id)) == rowsOf(SegmentEngine.materializeBase(tx, cs))) :|
            s"$pass: rule $id ${cs.mkString(", ")} bound $plan"
        }: _*)
        runner.runAll("2026-08-12T00:00:00Z")
        val first = stored("first runAll")
        bound.zip(active).foreach { case ((id, _), on) => runner.setActive(id, on) }
        val refreshed = runner.runAll("2026-08-12T01:00:00Z").keySet
        val want = bound.zip(active).collect { case ((id, _), true) => id }.toSet
        // `&&` takes its right side by name: read the store before it is deleted
        val second = stored("second runAll")
        first && second && Prop(refreshed == want) :| s"second runAll refreshed $refreshed, active $want"
      } finally {
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
        finally walk.close()
      }
    }
}

/** `Tables.transactionsWithId`'s `city_tier` against the expression it
  * replaced, `get_json_object(props, '$.k').cast(int) % 4 + 1`: `props`
  * drawn from the byte scan's shape ([[graft.sources.PropsK]]), its near
  * misses, other JSON and broken text. Where the old column raises
  * (ANSI `CAST_INVALID_INPUT`, e.g. `1e2` or `87.0`), the view must raise
  * too. A second property pins the scan's acceptance set to the shape.
  */
object PropsTierProps extends Properties("PropsTier") {
  import graft.sources.{PropsK, Tables}
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.functions._
  import scala.util.{Failure, Success, Try}

  // each check runs four small Spark jobs, plus one per row that raises
  override def overrideParameters(p: org.scalacheck.Test.Parameters) = p.withMinSuccessfulTests(40)

  private lazy val spark = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val genSpaces: Gen[String] = Gen.choose(0, 3).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(8 -> " ", 1 -> "\t", 1 -> "\n", 1 -> "\r"))).map(_.mkString)
  // 0-10 digits, sometimes a leading zero, `-` or `+`; and the Int edges
  private val genNumber: Gen[String] = Gen.frequency(
    8 -> (for {
      sign <- Gen.frequency(6 -> "", 3 -> "-", 1 -> "+")
      n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 9), 2 -> Gen.const(10))
      first <- Gen.frequency(3 -> Gen.choose('1', '9'), 1 -> Gen.const('0'))
      rest <- Gen.listOfN(math.max(0, n - 1), Gen.numChar)
    } yield sign + (if (n == 0) "" else first +: rest.mkString)),
    1 -> Gen.oneOf("0", "-0", "999999999", "-999999999", "2147483647", "2147483648",
      "-2147483648", "-2147483649", "4294967296"))
  private val genShape: Gen[String] =
    for (a <- genSpaces; v <- genNumber; b <- genSpaces) yield s"""{"k":$a$v$b}"""
  private val genProps: Gen[String] = Gen.frequency(
    6 -> genShape,
    2 -> (for {
      v <- Gen.oneOf("\"87\"", "87.0", "1e2", "-1E2", "null", "true", "\"x\"", "[1]",
        "{\"k\": 1}", "８７", "-")
      a <- genSpaces
    } yield s"""{"k":$a$v}"""),
    2 -> (for (v <- genNumber; w <- genNumber) yield s"""{"k": $v, "k": $w}"""),
    1 -> (for (v <- genNumber) yield s"""{"a": 1, "k": $v}"""),
    1 -> (for (v <- genNumber) yield s"""{"k": $v, "b": "x"}"""),
    1 -> (for (v <- genNumber) yield s"""{"x": {"k": $v}}"""),
    1 -> (for {
      key <- Gen.oneOf("K", "kk", "ķ", "", "\\\"k\\\"", "\\u006b")
      v <- genNumber
    } yield s"""{"$key": $v}"""),
    1 -> (for (v <- genNumber) yield s"{'k': $v}"),
    1 -> (for (sp <- genSpaces; s <- genShape) yield sp + s),
    1 -> (for (s <- genShape; cut <- Gen.choose(0, s.length)) yield s.take(cut)),
    1 -> (for (s <- genShape; t <- Gen.oneOf("x", " ", "}", "\n", "é", ",", "{}")) yield s + t))

  private val shape = java.util.regex.Pattern.compile("""\{"k": *(-?(?:0|[1-9][0-9]{0,8})) *\}""")

  property("the byte scan takes exactly the {\"k\": n} shape, and reads its integer") =
    forAll(Gen.listOfN(50, Gen.frequency(5 -> genProps, 1 -> Arbitrary.arbitrary[String]))) { ss =>
      val wrong = ss.flatMap { s =>
        val m = shape.matcher(s)
        val k = PropsK.scan(UTF8String.fromString(s))
        if (m.matches() && k == m.group(1).toLong || !m.matches() && k == PropsK.Miss) None
        else Some(s"$s -> $k")
      }
      Prop(wrong.isEmpty) :| wrong.mkString("\n")
    }

  private def raisesCastInvalid(df: DataFrame): Boolean = Try(df.collect()) match {
    case Failure(e) => Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("CAST_INVALID_INPUT"))
    case Success(_) => false
  }

  /** `body` under ANSI mode, given a corpus dir whose `events` rows carry
    * `props` in order, with `event_id` 0, 1, ...
    */
  private def withEvents(props: Seq[Option[String]])(body: String => Prop): Prop = {
    val s = spark
    import s.implicits._
    val key = "spark.sql.ansi.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_props_tier").toString
      props.zipWithIndex.map { case (p, i) => (i.toLong, 1L, 1.0, "view", p) }
        .toDF("event_id", "user_id", "value", "event_type", "props")
        .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .write.parquet(s"$dir/events.parquet")
      body(dir)
    } finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  private def tiers(dir: String): DataFrame = Tables.transactionsWithId(spark, dir)
    .select(col("transaction_id").as("event_id"), col("city_tier"))

  // no shrinking: each shrink step reruns the whole check's Spark jobs
  property("city_tier equals get_json_object(props, '$.k').cast(int) % 4 + 1, raises included") =
    Prop.forAllNoShrink(Gen.choose(1, 16).flatMap(n => Gen.listOfN(n, Gen.option(genProps)))) { props =>
      withEvents(props) { dir =>
        val s = spark
        import s.implicits._
        val raw = s.read.parquet(s"$dir/events.parquet")
        val k = get_json_object(col("props"), "$.k")
        val old = k.cast("int") % 4 + 1
        // the rows whose old column raises: a parse the ANSI cast refuses
        val raising = raw.filter(k.isNotNull && expr("try_cast(get_json_object(props, '$.k') AS INT)").isNull)
          .select("event_id").as[Long].collect().toSeq
        def rows(df: DataFrame): Seq[Row] =
          df.filter(!col("event_id").isin(raising: _*)).orderBy("event_id").collect().toSeq
        val want = rows(raw.select(col("event_id"), old.as("city_tier")))
        val got = rows(tiers(dir))
        val unraised = raising.filterNot(id => raisesCastInvalid(tiers(dir).filter(col("event_id") === id)))
        Prop(got == want && unraised.isEmpty) :|
          s"props $props: got $got, want $want; rows that raise only in the old column: $unraised"
      }
    }

  // the tier domain: a quoted integer reads, a missing or null `k` is a null
  // tier, a non-integer number raises
  property("a non-integer k raises CAST_INVALID_INPUT; a null or quoted k reads") =
    withEvents(Seq("""{"k": "87"}""", """{"k": null}""", """{"j": 1}""", """{"k": 1e2}""",
        """{"k": 87.0}""").map(Some(_))) { dir =>
      val s = spark
      import s.implicits._
      val read = tiers(dir).filter(col("event_id") < 3).orderBy("event_id")
        .select(col("city_tier").cast("string")).as[String].collect().toSeq
      Prop(read == Seq("4", null, null)) :| s"read $read" &&
        Prop(Seq(3L, 4L).forall(id => raisesCastInvalid(tiers(dir).filter(col("event_id") === id)))) :|
          "1e2 and 87.0 raise"
    }
}
