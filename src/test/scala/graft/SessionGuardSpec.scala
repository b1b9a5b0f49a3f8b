package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session configuration serves specs, Verify, Bench and the
  * probes: only [[core.GraftSession]] builds a SparkSession, and the
  * kNN strategy and rewrite rule come from GraftExtensions, never from
  * the session's experimental hooks. A scan of the main sources keeps
  * it that way. */
class SessionGuardSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder""".r
  private val hookAssign =
    """experimental\s*\.\s*extra(Strategies|Optimizations)\s*=(?!=)""".r

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("the guard patterns match what they forbid") {
    assert(builder.findFirstIn("SparkSession\n  .builder()").nonEmpty)
    assert(hookAssign.findFirstIn(
      "spark.experimental.extraStrategies =\n  Seq(s)").nonEmpty)
    assert(hookAssign.findFirstIn(
      "spark.experimental.extraOptimizations = rules").nonEmpty)
    assert(hookAssign.findFirstIn(
      "spark.experimental.extraStrategies == Nil").isEmpty)
  }

  test("only core/GraftSession.scala builds a SparkSession; nothing assigns " +
      "the experimental planner hooks") {
    val files = mainSources
    assert(files.exists(_.endsWith(Paths.get("core", "GraftSession.scala"))))
    val offenders = files.flatMap { f =>
      val text = Files.readString(f)
      val own = f.endsWith(Paths.get("core", "GraftSession.scala"))
      (if (!own && builder.findFirstIn(text).nonEmpty)
        Seq(s"$f: SparkSession.builder") else Nil) ++
        (if (hookAssign.findFirstIn(text).nonEmpty)
          Seq(s"$f: experimental hook assignment") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
