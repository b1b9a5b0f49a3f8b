package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session configuration serves specs, Verify, Bench and the
  * probes: only [[core.GraftSession]] builds a SparkSession, and the
  * kNN strategy and rewrite rule come from GraftExtensions, never from
  * the session's experimental hooks. Environment reads stay in the
  * harness mains (data and output paths, the query filter) and the
  * session factory (the CPU count), so no process-wide knob can change
  * what a query computes. No function takes an optional frame it
  * would derive inline when absent: an approximate search takes its
  * trained index, and an ingest screen its batch's derived rows, as
  * required arguments. A scan of the main sources keeps it that way. */
class SessionGuardSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder""".r
  private val hookAssign =
    """experimental\s*\.\s*extra(Strategies|Optimizations)\s*=(?!=)""".r
  private val envRead = """sys\s*\.\s*env\b|System\s*\.\s*getenv\b""".r
  private val optionalFrame = """\w\s*:\s*Option\s*\[\s*DataFrame\s*\]""".r
  private val envReaders = Seq(Paths.get("Bench.scala"),
    Paths.get("ScaleCorpus.scala"), Paths.get("PerfProbe.scala"),
    Paths.get("core", "GraftSession.scala"))

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
    assert(envRead.findFirstIn("sys.env.get(\"X\")").nonEmpty)
    assert(envRead.findFirstIn("sys\n  .env.getOrElse(\"X\", \"\")").nonEmpty)
    assert(envRead.findFirstIn("System.getenv(\"X\")").nonEmpty)
    assert(envRead.findFirstIn("sys.environment").isEmpty)
    assert(optionalFrame.findFirstIn(
      "centroidsOpt: Option[DataFrame] = None)").nonEmpty)
    assert(optionalFrame.findFirstIn(
      "statsOpt: Option[ DataFrame ]=None,").nonEmpty)
    assert(optionalFrame.findFirstIn(
      "batchSigs: Option[DataFrame],").nonEmpty)
    assert(optionalFrame.findFirstIn(
      "batchShingles: Option[DataFrame])").nonEmpty)
    assert(optionalFrame.findFirstIn(
      "batchFps:\n    Option[DataFrame] = None)").nonEmpty)
    assert(optionalFrame.findFirstIn("stats: DataFrame,").isEmpty)
    assert(optionalFrame.findFirstIn("dirs: Option[Seq[DataFrame]]").isEmpty)
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

  test("only the harness mains and the session factory read the environment") {
    val root = Paths.get("src/main/scala", "graft")
    envReaders.foreach(a => assert(Files.exists(root.resolve(a)), s"$a missing"))
    val offenders = mainSources.filterNot(f =>
        envReaders.exists(a => f.endsWith(root.resolve(a))))
      .filter(f => envRead.findFirstIn(Files.readString(f)).nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no main source takes an optional DataFrame parameter") {
    val offenders = mainSources
      .filter(f => optionalFrame.findFirstIn(Files.readString(f)).nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
