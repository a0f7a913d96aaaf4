package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload needs: the session, its seed and measuring
  * window, a scratch directory, and (traced runs only) the span
  * recorder and runtime listeners.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    work: String, tracer: Tracer, probe: Option[ExecProbe]) {
  def traced: Boolean = tracer.enabled
}

/** A run's metrics and output checks. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Sample count behind each metric, for the run report. */
  val samples = mutable.LinkedHashMap.empty[String, Int]
  /** The workload's own figures under their workload-specific names,
    * each with unit and sample count; printed in the run report.
    */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  /** Generator self-report: seed, threads, clients, lateness. */
  val generator = mutable.LinkedHashMap.empty[String, Any]
  private var attemptedN = 0L
  private var failedN = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String, n: Int = 1): Unit = {
    require(!value.isNaN && !value.isInfinite, s"$name is not finite: $value")
    metrics(name) = (value, unit)
    samples(name) = n
  }

  def figure(name: String, value: Double, unit: String, n: Int = 1): Unit =
    figures(name) = (value, unit, n)

  /** The median of `xs` as `<name>_ms_p50`, and the highest percentile
    * with at least ten samples beyond it, when there is one.
    */
  def latencyFigures(name: String, xs: Seq[Double]): Unit = {
    figure(s"${name}_ms_p50", Stats.percentile(xs, 0.5), "ms", xs.size)
    Stats.tailRank(xs.size).filter(_ > 0.5).foreach(q =>
      figure(f"${name}_ms_p${q * 100}%.0f", Stats.percentile(xs, q), "ms", xs.size))
  }

  /** One checked operation: counted as attempted, and as failed unless
    * `ok`.
    */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attemptedN += 1
    if (!ok) {
      failedN += 1
      if (failures.size < 50) failures += s"$name: $detail"
    }
    ok
  }

  /** `n` operations of one kind, `bad` of which failed. */
  def checkMany(name: String, n: Long, bad: Long, detail: => String = ""): Unit = {
    attemptedN += n
    failedN += bad
    if (bad > 0 && failures.size < 50) failures += s"$name: $bad of $n failed $detail"
  }

  def attempted: Long = attemptedN
  def failed: Long = failedN
}

object Run {
  def nowS(): Double = System.nanoTime() / 1e9

  /** Median wall seconds of `reps` runs of `body(i)`. */
  def medianSeconds(reps: Int)(body: Int => Unit): Double =
    Stats.median((0 until reps).map { i =>
      val t0 = nowS(); body(i); nowS() - t0
    })

  /** Peak resident set of this process in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(
        throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Bytes of the regular files under `dir`. */
  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Drop everything a query pinned, between timed calls. */
  def releasePins(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
