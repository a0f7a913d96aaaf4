package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{FeatureEngineering, LoyaltyModel, TrainingDataset}
import graft.store.FeatureStore
import graft.streaming.InferencePipeline

/** `workflow`: the reference flow end to end. Raw purchase events are
  * split 70/30 by time; features are engineered from the history,
  * ingested into the store, read back with the training SQL and fitted;
  * then the live 30%, as event-time-ordered files, is replayed through
  * the streaming inference pipeline one file per micro-batch on the
  * default online-MERGE path. The run is one workflow of [[LiveFiles]]
  * micro-batches: a micro-batch costs over a second whatever its size,
  * and a run must stay within the benchmark's time budget. There is
  * no warm-up: a warm-up workflow cost 13 s of set-up and did not make
  * the micro-batch times steadier.
  *
  * Chosen because store commits and the fixed cost of a micro-batch do
  * most of the work here, while the serving cache and the operator
  * library do none.
  */
object WorkflowBench {
  val Customers = 1500L
  val Events = 100000L
  val HistoryShare = 0.7
  val LiveFiles = 8
  val SetupReps = 3

  private val liveSchema =
    "customer_id bigint, purchase_timestamp timestamp, purchase_value double"

  /** Write `events` purchase events split 70/30 by time: the history as
    * one parquet directory, the live part as `files` flat files whose
    * modification times follow event time, so the file source replays
    * them in order. Returns the number of live events.
    */
  def writeInputs(g: Gen, dir: String, events: Long, files: Int): Long = {
    val all = g.purchases(events, Customers)
    val nHist = math.round(events * HistoryShare)
    val nLive = events - nHist
    all.filter(col("seq") < nHist).drop("seq")
      .coalesce(1).write.parquet(s"$dir/history")
    all.filter(col("seq") >= nHist)
      .withColumn("slice", ((col("seq") - nHist) * files / nLive).cast("int"))
      .drop("loyalty_score", "seq")
      .repartition(col("slice"))
      .write.partitionBy("slice").parquet(s"$dir/live_parts")
    val live = Files.createDirectories(Paths.get(s"$dir/live"))
    val t0 = System.currentTimeMillis() - files * 1000L
    (0 until files).foreach { s =>
      val part = Paths.get(s"$dir/live_parts/slice=$s")
      val written = Files.list(part).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      require(written.size == 1, s"slice $s was written as ${written.size} files")
      val to = live.resolve(f"live-$s%03d.parquet")
      Files.move(written.head, to)
      Files.setLastModifiedTime(to,
        java.nio.file.attribute.FileTime.fromMillis(t0 + s * 1000L))
    }
    nLive
  }

  private final case class Flow(store: FeatureStore,
      model: LinearRegressionModel, training: DataFrame, query: StreamingQuery,
      wallS: Double, replayS: Double, replayBefore: Option[Exec])

  /** One workflow over the inputs in `in`, keeping its state in `dir`. */
  private def flow(ctx: Ctx, t: Tracer, in: String, dir: String): Flow = {
    val spark = ctx.spark
    var replayBefore = Option.empty[Exec]
    var replayS = 0.0
    val w0 = Run.nowS()
    val (store, model, training, q) = t.span("workflow", root = true) {
      val raw = spark.read.parquet(s"$in/history")
      val feats = t.span("pipeline.engineer") {
        val f = FeatureEngineering.engineerFeatures(raw).persist()
        f.count(); f
      }
      val store = FeatureStore(spark, s"$dir/store", "customer_id",
        "purchase_timestamp")
      t.span("store.ingest")(store.ingest(feats))
      val training = t.span("pipeline.training_sql") {
        val tr = TrainingDataset.build(spark, store).persist()
        tr.count(); tr
      }
      val model = t.span("pipeline.fit")(LoyaltyModel.train(training))
      replayBefore = ctx.probe.map(_.snapshot())
      val r0 = Run.nowS()
      val q = t.span("streaming.replay") {
        val events = spark.readStream.schema(liveSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$in/live")
        val q = InferencePipeline.run(events, store, model,
          s"$dir/scored", s"$dir/dlq", s"$dir/ckpt")
        q.awaitTermination()
        q
      }
      replayS = Run.nowS() - r0
      (store, model, training, q)
    }
    Flow(store, model, training, q, Run.nowS() - w0, replayS, replayBefore)
  }

  def run(ctx: Ctx, res: Result, setupS: Double): Unit = {
    val g = new Gen(ctx.spark, ctx.seed)
    var nLive = 0L
    val genS = Run.medianSeconds(SetupReps) { i =>
      nLive = writeInputs(g, s"${ctx.work}/input$i", Events, LiveFiles)
    }
    val in = s"${ctx.work}/input0"
    res.generator ++= Seq("inputs_s_median" -> genS, "customers" -> Customers,
      "events" -> Events, "live_events" -> nLive, "live_files" -> LiveFiles)

    val dir = s"${ctx.work}/wf"
    val before = ctx.probe.map(_.snapshot())
    val f = flow(ctx, ctx.tracer, in, dir)
    val after = ctx.probe.map(_.snapshot())
    val progress = f.query.recentProgress.filter(_.numInputRows > 0).toSeq
    val batchMs = progress.map(_.batchDuration.toDouble)
    res.generator("batch_ms") = batchMs.map(_.toLong).mkString(",")
    check(ctx, res, in, dir, f.store, f.model, f.training, nLive, progress.size)
    if (ctx.traced)
      traced(ctx, res, dir, nLive, f.wallS, progress,
        after.get - f.replayBefore.get, after.get - before.get)
    res.figure("workflow_s", f.wallS, "s")
    res.figure("infer_events_per_s", nLive / f.replayS, "1/s", batchMs.size)
    res.latencyFigures("infer_batch", batchMs)
    if (!ctx.traced) {
      res.metric("setup_s", setupS + genS, "s", SetupReps)
      res.metric("wall_s", f.wallS, "s")
      res.metric("throughput_per_s", nLive / f.replayS, "1/s", batchMs.size)
      res.metric("latency_ms", Stats.percentile(batchMs, 0.5), "ms", batchMs.size)
    }
  }

  private def check(ctx: Ctx, res: Result, in: String, dir: String,
      store: FeatureStore,
      model: LinearRegressionModel, training: DataFrame, nLive: Long,
      batches: Int): Unit = {
    val spark = ctx.spark
    val key = Seq("customer_id", "purchase_timestamp", "purchase_value")
    val live = spark.read.schema(liveSchema).parquet(s"$in/live")
    val scored = spark.read.parquet(s"$dir/scored").select(key.map(col): _*)
    val nScored = scored.count()
    res.check("workflow.scored_once", nScored == nLive &&
      scored.distinct().count() == nLive && live.exceptAll(scored).isEmpty,
      s"$nScored scored rows for $nLive live events")
    val dlq = Paths.get(s"$dir/dlq")
    res.check("workflow.dlq_empty", !Files.exists(dlq) ||
      spark.read.parquet(s"$dir/dlq").isEmpty, "dead letters were written")
    val online = store.online()
    val nOnline = online.select("customer_id").distinct().count()
    res.check("workflow.online_keys", nOnline == Customers && online.count() == Customers,
      s"online() holds $nOnline keys, expected $Customers")
    val versions = store.offlineVersions.size
    res.check("workflow.micro_batches", batches == LiveFiles,
      s"$batches micro-batches for $LiveFiles files")
    res.check("workflow.offline_versions", versions == 1 + batches,
      s"$versions offline versions after $batches micro-batches")
    val (coef, icpt) = Ols.fit(training.select(
      (LoyaltyModel.trainingFeatures :+ LoyaltyModel.targetVariable).map(col): _*)
      .collect().map(r => Array.tabulate(4)(r.getDouble)).toSeq)
    val got = model.coefficients.toArray :+ model.intercept
    val want = coef :+ icpt
    res.check("workflow.ols_matches_normal_equations",
      got.zip(want).forall { case (a, b) => math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)) },
      s"model ${got.mkString(",")} vs normal equations ${want.mkString(",")}")
  }

  /** Per-layer metrics from the spans, the streaming progress and the
    * runtime work of the replay and of the whole workflow.
    */
  private def traced(ctx: Ctx, res: Result, dir: String, nLive: Long,
      wallS: Double, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      replay: Exec, workflow: Exec): Unit = {
    val t = ctx.tracer
    val root = t.named("workflow").head
    val stages = t.all.filter(_.parent == root.id)
    def s(name: String) = stages.find(_.name == name).map(_.durNs / 1e9).getOrElse(0.0)
    res.metric("pipeline.engineer_s", s("pipeline.engineer"), "s")
    res.metric("store.ingest_s", s("store.ingest"), "s")
    res.metric("pipeline.training_sql_s", s("pipeline.training_sql"), "s")
    res.metric("pipeline.fit_s", s("pipeline.fit"), "s")
    res.metric("streaming.replay_s", s("streaming.replay"), "s")
    val gapS = Trace.selfNs(root, stages) / 1e9
    res.metric("workflow.unattributed_s", gapS, "s")
    res.metric("trace.wall_s", wallS, "s")
    val sum = stages.map(_.durNs).sum / 1e9 + gapS
    res.check("workflow.spans_reconcile", math.abs(sum - root.durNs / 1e9) < 1e-6 &&
      math.abs(root.durNs / 1e9 - wallS) < 0.05,
      f"stages $sum%.4f s + gap vs workflow span ${root.durNs / 1e9}%.4f s vs wall $wallS%.4f s")
    // per batch, the named parts plus `other` sum to the batch duration
    val parts = Seq("addBatch" -> "add_batch", "queryPlanning" -> "query_planning",
      "getBatch" -> "get_batch", "walCommit" -> "wal_commit")
    def part(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val n = progress.size
    parts.foreach { case (k, name) =>
      res.metric(s"streaming.${name}_ms_p50",
        Stats.percentile(progress.map(part(_, k)), 0.5), "ms", n)
    }
    res.metric("streaming.other_ms_p50", Stats.percentile(progress.map(p =>
      p.batchDuration - parts.map(kv => part(p, kv._1)).sum), 0.5), "ms", n)
    val b = math.max(n, 1).toDouble
    res.metric("exec.jobs_per_batch", replay.jobs / b, "count", n)
    res.metric("exec.stages_per_batch", replay.stages / b, "count", n)
    res.metric("exec.tasks_per_batch", replay.tasks / b, "count", n)
    res.metric("exec.task_s_per_batch", replay.taskMs / 1e3 / b, "s", n)
    res.metric("exec.gc_s_per_batch", replay.gcMs / 1e3 / b, "s", n)
    val sinkBytes = Run.treeBytes(s"$dir/scored")
    res.metric("store.bytes_written_per_event",
      (replay.bytesWritten - sinkBytes).toDouble / nLive, "B")
    res.metric("store.space_bytes", Run.treeBytes(s"$dir/store").toDouble, "B")
    res.metric("exec.jobs_workflow", workflow.jobs.toDouble, "count")
  }
}

/** Ordinary least squares with an intercept, by the normal equations
  * (X'X) b = X'y solved with partial-pivot Gaussian elimination. Each
  * row is the features followed by the target.
  */
object Ols {
  def fit(rows: Seq[Array[Double]]): (Array[Double], Double) = {
    val k = rows.head.length - 1 // features; +1 for the intercept
    val m = k + 1
    val a = Array.ofDim[Double](m, m + 1)
    rows.foreach { r =>
      val x = r.take(k) :+ 1.0
      for (i <- 0 until m) {
        for (j <- 0 until m) a(i)(j) += x(i) * x(j)
        a(i)(m) += x(i) * r(k)
      }
    }
    for (c <- 0 until m) {
      val p = (c until m).maxBy(i => math.abs(a(i)(c)))
      val tmp = a(c); a(c) = a(p); a(p) = tmp
      for (i <- 0 until m if i != c) {
        val f = a(i)(c) / a(c)(c)
        for (j <- c to m) a(i)(j) -= f * a(c)(j)
      }
    }
    val b = Array.tabulate(m)(i => a(i)(m) / a(i)(i))
    (b.take(k), b(k))
  }
}
