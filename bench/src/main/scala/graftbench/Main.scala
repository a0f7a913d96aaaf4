package graftbench

import java.nio.file.Paths

import graft.core.Json

/** One benchmark run in a fresh JVM:
  *
  *   graftbench.Main --workload workflow|serve|analytics --seed N
  *     --seconds S --trace 0|1 --work DIR --launched-ms T [--spans FILE]
  *
  * `--launched-ms` is when the caller started this JVM, so set-up time
  * includes JVM and session start. Prints `REPORT {...}` (generator
  * self-report, sample counts, failed checks) and then one result line
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`: end-to-end
  * metrics untraced, per-layer metrics traced.
  */
object Main {
  val Workloads: Map[String, (Ctx, Result, Double) => Unit] = Map(
    "workflow" -> WorkflowBench.run,
    "serve" -> ServeBench.run,
    "analytics" -> AnalyticsBench.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val trace = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.core.Sessions.local(cpus = cores.toString,
      appName = s"graftbench-$workload")
    val sessionS = (System.currentTimeMillis() - opts("launched-ms").toLong) / 1e3
    val tracer = new Tracer(trace)
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
      opts("work"), tracer, if (trace) Some(ExecProbe.register(spark)) else None)
    val res = new Result
    res.generator ++= Seq("workload" -> workload, "seed" -> ctx.seed,
      "seconds" -> ctx.seconds, "trace" -> trace, "cores" -> cores,
      "session_s" -> sessionS)
    try body(ctx, res, sessionS)
    catch { case t: Throwable =>
      t.printStackTrace()
      res.check("run", ok = false, t.toString)
    }
    if (!trace) res.metric("peak_rss_mb", Run.peakRssMb(), "MB")
    else {
      res.metric("trace.spans", tracer.all.size.toDouble, "count")
      opts.get("spans").foreach(p => tracer.writeJson(Paths.get(p)))
    }
    println("REPORT " + obj(Seq(
      "generator" -> obj(res.generator.toSeq.map { case (k, v) => k -> value(v) }),
      "figures" -> obj(res.figures.toSeq.map { case (k, (v, u, n)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> Json.str(u),
          "samples" -> n.toString)) }),
      "metrics" -> obj(res.metrics.toSeq.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> Json.str(u),
          "samples" -> res.samples(k).toString)) }),
      "failures" -> res.failures.map(Json.str).mkString("[", ",", "]"))))
    println(obj(Seq(
      "correct" -> (res.failed == 0 && res.attempted > 0).toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "metrics" -> obj(res.metrics.toSeq.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> Json.str(u))) }))))
    spark.stop()
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")

  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private def value(v: Any): String = v match {
    case d: Double  => num(d)
    case n: Int     => n.toString
    case n: Long    => n.toString
    case b: Boolean => b.toString
    case other      => Json.str(other.toString)
  }
}
