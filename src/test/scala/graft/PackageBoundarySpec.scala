package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The runtime packages have one behaviour: reference parity lives in
  * `graft.parity`, which they never name, and their signatures carry none
  * of the parity modes that package replaced.
  */
class PackageBoundarySpec extends AnyFunSuite {

  private val runtime = Seq("model", "operators", "plans", "sources", "streaming")
    .map(p => Paths.get("src/main/scala/graft", p))

  private def sources: Seq[Path] = runtime.flatMap { dir =>
    assert(Files.isDirectory(dir), s"$dir is missing; run the suite from the repo root")
    val files = Files.walk(dir)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally files.close()
  }

  private def offenders(word: String): Seq[String] =
    sources.filter(f => Files.readString(f).contains(word)).map(_.toString)

  test("no runtime package imports the parity package") {
    assert(sources.nonEmpty)
    assert(offenders("graft.parity").isEmpty)
  }

  test("no runtime package names a parity mode") {
    for (mode <- Seq("DropResidual", "residualMode", "faithfulSchedule", "faithfulParentGuard"))
      assert(offenders(mode).isEmpty, s"$mode is named")
  }
}
