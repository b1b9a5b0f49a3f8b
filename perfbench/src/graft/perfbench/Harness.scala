package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    opSeconds: Seq[Double],      // timed operations, in run order
    timedWallSeconds: Double,    // wall time of the whole timed phase
    items: Long,                 // documents or queries the timed phase completed
    itemName: String,            // "docs" or "queries"
    warmupSeconds: Seq[Double], // untimed warm-up operations, in run order
    attempted: Int,
    failed: Int,
    checkFailures: Seq[String],
    layers: Map[String, Double], // per-layer metrics (traced run), missing = 0
    extra: Map[String, Double])  // workload figures for the run record

/** Shared state of one run: the session, the run's input directory,
  * and the clock that splits set-up from the timed phase. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
                val trace: Option[Trace]) {
  /** Epoch nanoseconds at which the first timed operation started. */
  var timedStartNs: Long = -1L

  /** Per-layer series: one value per timed operation. */
  val series: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty

  def record(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def markTimedStart(): Unit = if (timedStartNs < 0) timedStartNs = Harness.epochNs()

  /** Run `body` as one timed operation: returns its result and wall
    * seconds. In a traced run the engine counters are read around it
    * (outside the timed interval, after `settle` has waited for any
    * late events) and their differences recorded. */
  def timed[T](body: => T, settle: => Unit = ()): (T, Double) = {
    val before = trace.map { t => t.drain(); t.snapshot() }
    markTimedStart()
    val t0 = System.nanoTime()
    val out = body
    val secs = (System.nanoTime() - t0) / 1e9
    trace.foreach { t =>
      t.drain()
      settle
      Trace.delta(before.get, t.snapshot()).foreach { case (k, v) => record(k, v) }
    }
    (out, secs)
  }

  /** Wall seconds of `body`, recorded under `layer` in a traced run. */
  def span[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    if (trace.isDefined) record(layer, (System.nanoTime() - t0) / 1e9)
    out
  }

  /** Wall seconds of each call of `body` (the warm-up operations). */
  def warmups(n: Int)(body: Int => Unit): Seq[Double] = (0 until n).map { i =>
    val t0 = System.nanoTime()
    body(i)
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of each per-layer series. */
  def layerMedians: Map[String, Double] =
    series.iterator.map { case (k, vs) => k -> Harness.quantile(vs.toSeq, 0.5) }.toMap
}

object Harness {
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Linear-interpolated quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty series")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** `VmHWM` of this process in MB (peak resident set). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  /** Aggregate CPU jiffies (total, steal) from the first line of `/proc/stat`. */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (xs.sum, if (xs.length > 7) xs(7) else 0L)
    } finally f.close()
  }

  /** Seconds of a fixed single-threaded integer loop: the same work on
    * every run and every commit, so it reads the box's speed at the
    * moment (host contention that CPU steal does not show). */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0L) println("canary")
    (System.nanoTime() - t0) / 1e9
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Files (not directories) under `root`, recursively. */
  def fileCount(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }
  }

  /** Block storage held by persisted RDDs (memory + disk), in MB. */
  def storageHeldMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / Trace.MB

  /** Minimal JSON rendering for the result and record lines. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}
