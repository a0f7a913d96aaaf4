package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `analytics`: 11 engine queries, reached through `SparkEntry.queries`
  * by name, run once each in sorted order over seeded fixture tables.
  * There is no warm-up pass: each query's time is its first execution
  * in a JVM whose session is already up, as in a batch job. A warm-up
  * pass would double the run. The run is one pass, whatever
  * `--seconds` says: a second pass in the same JVM would be warm and
  * measure something else.
  *
  * Chosen because without it the operator layer and the iterative
  * loops would go unmeasured. The queries form five families of two
  * or three, the cheaper of their kind: a cold pass of 21 candidates
  * took 46 s, longer than a run may take;
  * `relational` is the control that kernel and loop changes must not
  * move, and `store_lifecycle` covers the delete, expire and rewrite
  * side of `VersionedTable` (the `workflow` covers its append side).
  */
object AnalyticsBench {
  val Families: Seq[(String, Seq[String])] = Seq(
    "loops" -> Seq("q110_pagerank", "q112_pagerank_weighted"),
    "text_kernels" -> Seq("q147_shared_spans", "q54_lm_score"),
    "store_lifecycle" -> Seq("q153_delete_repair", "q174_forget_docs"),
    "dedup" -> Seq("q28_minhash_candidates", "q41_dup_clusters"),
    "relational" -> Seq("q1_scan_project", "q2_agg_features",
      "q6_join_chain"))


  val Queries: Seq[String] = Families.flatMap(_._2).sorted
  val ScaleFactor = 0.005
  val SetupReps = 3

  private final case class Timed(wallS: Double, hash: String, rows: Int,
      exec: Option[Exec])

  private def once(ctx: Ctx, data: String, q: String): (Timed, Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType) = {
    val fn = SparkEntry.queries(q)
    val before = ctx.probe.map(_.snapshot())
    val t0 = Run.nowS()
    val (rows, schema) = ctx.tracer.span(s"analytics.$q", root = true) {
      val df = fn(ctx.spark, data)
      (df.collect(), df.schema)
    }
    val wall = Run.nowS() - t0
    val exec = ctx.probe.map(_.snapshot() - before.get)
    Run.releasePins(ctx.spark)
    (Timed(wall, Canon.hash(schema.fieldNames.toSeq, rows.toSeq), rows.length, exec),
      rows, schema)
  }

  def run(ctx: Ctx, res: Result, setupS: Double): Unit = {
    val spark = ctx.spark
    val g = new Gen(spark, ctx.seed)
    val data = s"${ctx.work}/tables0"
    val genS = Run.medianSeconds(SetupReps)(i =>
      g.fixtureTables(s"${ctx.work}/tables$i", ScaleFactor))
    res.generator ++= Seq("tables_s_median" -> genS, "scale_factor" -> ScaleFactor,
      "queries" -> Queries.size, "query_threads" -> 1)

    val timed = Queries.map { q =>
      val (t, rows, schema) = once(ctx, data, q)
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.parquet(s"${ctx.work}/results/$q")
      q -> t
    }.toMap
    // run.py checks every result against the engine's DuckDB oracle SQL
    Files.writeString(Paths.get(s"${ctx.work}/tables.json"),
      g.FixtureTables.map(graft.core.Json.str).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"${ctx.work}/oracle.json"),
      Queries.map(q => s"${graft.core.Json.str(q)}: ${graft.core.Json.str(
        SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}"))
    val wall = Queries.map(timed(_).wallS)
    val total = wall.sum
    res.figure("analytics_s", total, "s", Queries.size)
    res.figure("analytics_geomean_s", Stats.geomean(wall), "s", Queries.size)
    res.generator("result_hashes") = Queries.map(q =>
      s"$q:${timed(q).rows}:${timed(q).hash.take(16)}").mkString(" ")

    if (!ctx.traced) {
      res.metric("setup_s", setupS + genS, "s", SetupReps)
      res.metric("wall_s", total, "s", Queries.size)
      res.metric("throughput_per_s", Queries.size / total, "1/s", Queries.size)
      res.metric("latency_ms", Stats.geomean(wall) * 1e3, "ms", Queries.size)
    } else {
      Families.foreach { case (f, qs) =>
        val e = qs.flatMap(q => timed(q).exec).foldLeft(Exec())(_ + _)
        res.metric(s"ops.$f.wall_s", qs.map(timed(_).wallS).sum, "s", qs.size)
        res.metric(s"ops.$f.task_s", e.taskMs / 1e3, "s", qs.size)
        res.metric(s"ops.$f.gc_s", e.gcMs / 1e3, "s", qs.size)
        res.metric(s"ops.$f.plan_ms", e.planMs.toDouble, "ms", qs.size)
        res.metric(s"ops.$f.jobs", e.jobs.toDouble, "count", qs.size)
        res.metric(s"ops.$f.shuffle_bytes", e.shuffleBytes.toDouble, "B", qs.size)
      }
      Queries.foreach { q =>
        res.metric(s"analytics.$q.wall_s", timed(q).wallS, "s")
        res.metric(s"analytics.$q.task_s",
          timed(q).exec.map(_.taskMs / 1e3).getOrElse(0.0), "s")
      }
      res.metric("trace.wall_s", total, "s")
    }
  }
}
