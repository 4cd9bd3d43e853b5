package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The knob-audit invariant, beside [[GateAuditSpec]]: the main sources
  * read exactly the `spark.graft.*` session settings listed here. A
  * setting no measured configuration turns on is a code path nothing
  * exercises, so a new one must be added here on purpose — this spec
  * turns silent knob creep into a test failure. (No SparkSession
  * needed: it scans the source tree.)
  */
class KnobAuditSpec extends AnyFlatSpec with Matchers {

  private val allowed = Set(
    "spark.graft.pins.reliable",
    "spark.graft.dedup.prefixGuard",
    "spark.graft.dedup.prefixBudgetPerDoc",
    "spark.graft.reason.deltaCap")

  "src/main/scala" should "read exactly the allowed spark.graft.* settings" in {
    val root = new java.io.File("src/main/scala")
    withClue(s"${root.getAbsolutePath} must exist (run from the repo root)\n") {
      root.isDirectory shouldBe true
    }
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)".r
    val found = files(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      literal.findAllMatchIn(src).map(m => m.group(1) -> f.getName)
    }
    val keys = found.map(_._1).toSet
    withClue(s"unlisted: ${found.filterNot(k => allowed(k._1)).distinct.sorted}; " +
      s"listed but unread: ${(allowed -- keys).toSeq.sorted}\n") {
      keys shouldBe allowed
    }
  }
}
