package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import graft.pipeline.FeatureEngineering
import graft.store.{FeatureStore, ServingEndpoint}

/** `serve`: the read tier under a mixed load. The serving layout is
  * built once by `ingestServing` (1,500 keys in 64 buckets) behind
  * `servingCache(16)` and a `ServingEndpoint`.
  *
  * [[Clients]] closed-loop HTTP `/record` clients each send a fixed
  * budget of requests, one after the other, because the reference's
  * inference caller waits on each `get_record`. 90% of requests go to
  * keys in [[HotBuckets]] buckets, which fit the cache; 10% are uniform
  * over all keys, whose 64 buckets do not. One writer thread merges
  * [[WriterKeys]] keys through `mergeServing` [[Merges]] times, each
  * due when a further share 1 / (Merges + 1) of the lookups completed,
  * and timed from that due time. Due times follow completed requests,
  * not the clock, so every run does the same number of merges.
  *
  * Lookups and merges exclude each other through a fair read-write
  * lock, and a lookup's latency includes its wait for a merge. The
  * engine documents that a read of a bucket while `mergeServing`
  * rewrites it is unsupported (it replaces files in place), and run
  * concurrently the endpoint answered such lookups with HTTP 500
  * (FILE_NOT_EXIST) or with 404 for an existing key.
  *
  * Chosen to measure the read tier with the cache both fitting and
  * overflowing, with serving-layout writes and their invalidations
  * beside the reads.
  */
object ServeBench {
  val Customers = 1500L
  val Events = 30000L
  val CacheBuckets = 16
  val HotBuckets = 8
  val HotShare = 0.9
  val Clients = 3
  /** Requests per client per second of `--seconds`. */
  val RequestsPerClientSecond = 6
  val WriterKeys = 20
  val Merges = 2
  val SetupReps = 3
  val SampleKeys = 6

  private final case class Lookup(id: Long, ns: Long, ok: Boolean,
      status: Int, body: String)
  private final case class Merge(lateMs: Double, ms: Double, buckets: Int,
      exec: Option[Exec])

  def run(ctx: Ctx, res: Result, setupS: Double): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val s0 = Run.nowS()
    val g = new Gen(spark, ctx.seed)
    g.purchases(Events, Customers).drop("seq").coalesce(1)
      .write.parquet(s"${ctx.work}/events")
    val feats = FeatureEngineering.engineerFeatures(
      spark.read.parquet(s"${ctx.work}/events")).persist()
    feats.count()
    val genS = Run.nowS() - s0
    val buildS = Run.medianSeconds(SetupReps)(i =>
      FeatureStore(spark, s"${ctx.work}/store$i", "customer_id",
        "purchase_timestamp").ingestServing(feats))
    feats.unpersist()
    val w0 = Run.nowS()
    val store = FeatureStore(spark, s"${ctx.work}/store0", "customer_id",
      "purchase_timestamp")
    val cache = store.servingCache(CacheBuckets)
    val endpoint = new ServingEndpoint(cache)
    val port = endpoint.start()
    try {
      val rnd = new SplittableRandom(ctx.seed)
      val byBucket = (0L until Customers).groupBy(k => cache.bucketOf(k))
      val hot = rnd.ints(0, byBucket.size).distinct().limit(HotBuckets).toArray
        .map(byBucket.keys.toSeq.sorted)
      val hotKeys = hot.flatMap(byBucket).sorted
      // warm the hot buckets through the cache (not the endpoint, whose
      // latency histogram should hold only the measured lookups) and
      // the HTTP path through a route that does not touch the cache
      hot.foreach(b => cache.get(byBucket(b).head))
      val http = Array.fill(Clients)(
        HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())
      def get(c: Int, path: String): HttpResponse[String] =
        http(c).send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      for (c <- 0 until Clients; _ <- 0 until 5) get(c, "/healthz")
      val warmS = Run.nowS() - w0
      val budget = RequestsPerClientSecond * ctx.seconds
      // merge k is due once k / (Merges + 1) of all lookups completed
      val every = Clients * budget / (Merges + 1)
      val plans = Array.tabulate(Clients) { c =>
        val r = new SplittableRandom(ctx.seed * 1000003L + c)
        Array.fill(budget)(
          if (r.nextDouble() < HotShare) hotKeys(r.nextInt(hotKeys.length))
          else r.nextLong(Customers))
      }
      res.generator ++= Seq("features_s" -> genS, "ingest_serving_s_median" -> buildS,
        "warm_s" -> warmS, "clients" -> Clients, "client_loop" -> "closed",
        "requests_per_client" -> budget, "hot_buckets" -> hot.sorted.mkString(","),
        "hot_keys" -> hotKeys.length, "hot_share" -> HotShare,
        "writer_threads" -> 1, "writer_keys" -> WriterKeys,
        "merge_every_lookups" -> every)

      val (hits0, misses0) = cache.stats
      val lookups = new ConcurrentLinkedQueue[Lookup]()
      val merges = new ConcurrentLinkedQueue[Merge]()
      val start = new CountDownLatch(1)
      val completed = new java.util.concurrent.atomic.AtomicInteger()
      val dueAt = Array.fill(Merges)(
        new java.util.concurrent.CompletableFuture[java.lang.Long]())
      // lookups and merges exclude each other: see the object comment
      val gate = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
      val clients = (0 until Clients).map { c =>
        new Thread(() => {
          start.await()
          plans(c).foreach { id =>
            val t0 = System.nanoTime()
            gate.readLock.lock()
            val resp = try t.span("serve.lookup", root = true)(get(c, s"/record?id=$id"))
              finally gate.readLock.unlock()
            val ns = System.nanoTime() - t0
            val ok = resp.statusCode == 200 && resp.body.contains(
              s"""{"FeatureName":"customer_id","ValueAsString":"$id"}""")
            lookups.add(Lookup(id, ns, ok, resp.statusCode,
              if (ok) "" else resp.body.take(300)))
            val n = completed.incrementAndGet()
            if (n % every == 0 && n / every <= Merges)
              dueAt(n / every - 1).complete(System.nanoTime())
          }
        }, s"bench-client-$c")
      }
      val lastMerged = new java.util.concurrent.atomic.AtomicReference(Array.empty[Long])
      val writer = new Thread(() => {
        for (k <- 1 to Merges) {
          // a client that died leaves its merge undue: the writer gives
          // up, and the merge-count check fails instead of the run hanging
          val due = dueAt(k - 1).get(120, java.util.concurrent.TimeUnit.SECONDS).longValue
          val keys = mergeKeys(ctx.seed, k)
          val before =
            if (ctx.traced) bucketSigs(s"${ctx.work}/store0/serving") else Map.empty[String, String]
          gate.writeLock.lock()
          val began = System.nanoTime()
          val exec = try ctx.probe match {
            case Some(p) => Some(p.tagged("merge")(
                t.span("store.merge_serving", root = true)(merge(ctx, store, keys, k)))._2)
            case None => merge(ctx, store, keys, k); None
          } finally gate.writeLock.unlock()
          val end = System.nanoTime()
          val changed = if (ctx.traced) {
            val after = bucketSigs(s"${ctx.work}/store0/serving")
            after.count { case (b, sig) => !before.get(b).contains(sig) }
          } else 0
          merges.add(Merge((began - due) / 1e6, (end - due) / 1e6, changed, exec))
          lastMerged.set(keys)
        }
      }, "bench-writer")
      val m0 = Run.nowS()
      (clients :+ writer).foreach(_.start())
      start.countDown()
      clients.foreach(_.join())
      val wallS = Run.nowS() - m0
      writer.join()
      val (hits1, misses1) = cache.stats
      val endpointMetrics = get(0, "/metrics").body

      val ls = lookups.asScala.toSeq
      val ms = ls.map(_.ns / 1e6)
      res.checkMany("serve.lookup_200_with_requested_id", ls.size,
        ls.count(!_.ok), ls.find(!_.ok).map(l =>
          s"e.g. id ${l.id}: HTTP ${l.status} ${l.body}").getOrElse(""))
      res.check("serve.all_requests_answered", ls.size == Clients * budget,
        s"${ls.size} of ${Clients * budget}")
      val mg = merges.asScala.toSeq
      res.check("serve.merges_ran", mg.size == Merges, s"${mg.size} of $Merges merges ran")
      sampleCheck(ctx, res, store, port, http(0), lastMerged.get, hotKeys)
      res.generator("merges") = mg.size
      if (mg.nonEmpty) {
        res.generator("writer_late_ms_max") = mg.map(_.lateMs).max
        res.generator("writer_late_ms_samples") = mg.size
        res.figure("serve_merge_ms_p50", Stats.percentile(mg.map(_.ms), 0.5), "ms", mg.size)
      }
      res.figure("lookup_rps", ls.size / wallS, "1/s", ls.size)
      res.latencyFigures("lookup", ms)

      if (!ctx.traced) {
        res.metric("setup_s", setupS + genS + buildS + warmS, "s", SetupReps)
        res.metric("wall_s", wallS, "s")
        res.metric("throughput_per_s", ls.size / wallS, "1/s", ls.size)
        res.metric("latency_ms", Stats.percentile(ms, 0.5), "ms", ms.size)
      } else {
        val lookupsN = (hits1 - hits0) + (misses1 - misses0)
        res.metric("store.cache_hit_ratio",
          (hits1 - hits0).toDouble / math.max(lookupsN, 1L), "ratio", lookupsN.toInt)
        res.metric("store.cache_misses", (misses1 - misses0).toDouble, "count")
        def field(k: String): Double =
          s""""$k":([0-9.eE+-]+)""".r.findFirstMatchIn(endpointMetrics)
            .map(_.group(1).toDouble).getOrElse(0.0)
        val getP50 = field("p50_ms")
        res.metric("store.cache_get_ms_p50", getP50, "ms", ls.size)
        res.metric("store.cache_get_ms_p99", field("p99_ms"), "ms", ls.size)
        res.metric("endpoint.self_ms_p50", Stats.percentile(ms, 0.5) - getP50, "ms", ls.size)
        val nm = math.max(mg.size, 1).toDouble
        res.metric("store.merge_buckets_rewritten", mg.map(_.buckets).sum / nm, "count", mg.size)
        val ex = mg.flatMap(_.exec)
        res.metric("exec.jobs_per_merge", ex.map(_.jobs).sum / nm, "count", mg.size)
        res.metric("exec.task_s_per_merge", ex.map(_.taskMs).sum / 1e3 / nm, "s", mg.size)
        res.metric("trace.wall_s", wallS, "s")
      }
    } finally endpoint.stop()
  }

  /** The writer's k-th batch of keys: [[WriterKeys]] distinct seeded keys. */
  def mergeKeys(seed: Long, k: Int): Array[Long] =
    new SplittableRandom(seed * 7919L + k).longs(0, Customers).distinct()
      .limit(WriterKeys).toArray

  private def merge(ctx: Ctx, store: FeatureStore, keys: Array[Long], k: Int): Unit = {
    import ctx.spark.implicits._
    // newer than every generated event, so each merged row wins
    val ts = Timestamp.valueOf("2024-02-01 00:00:00")
    ts.setTime(ts.getTime + k * 60000L)
    val r = new SplittableRandom(ctx.seed * 31L + k)
    store.mergeServing(keys.toSeq.map { id =>
      val v = math.round(r.nextDouble() * 10000) / 100.0
      (id, ts, v, v, 5.0, 5.0)
    }.toDF(FeatureEngineering.featureCols: _*))
  }

  /** Bucket directory → names, sizes and modification times of its files. */
  private def bucketSigs(dir: String): Map[String, String] = {
    val root = new java.io.File(dir)
    Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith("kb="))
      .map(d => d.getName -> Option(d.listFiles()).toSeq.flatten
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted.mkString("|"))
      .toMap
  }

  /** After the load: seeded keys, hot and cold, plus some of the last
    * merge's keys, read over HTTP must equal `getServingRecord`.
    */
  private def sampleCheck(ctx: Ctx, res: Result, store: FeatureStore,
      port: Int, http: HttpClient, lastMerged: Array[Long],
      hotKeys: Array[Long]): Unit = {
    val r = new SplittableRandom(ctx.seed + 17)
    val ids = (Seq.fill(SampleKeys / 2)(hotKeys(r.nextInt(hotKeys.length))) ++
      Seq.fill(SampleKeys / 2)(r.nextLong(Customers)) ++ lastMerged.take(2)).distinct
    val pair = "\"FeatureName\":\"([^\"]*)\",\"ValueAsString\":\"([^\"]*)\"".r
    ids.foreach { id =>
      val body = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/record?id=$id")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body
      val got = pair.findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap
      val rows = store.getServingRecord(id).collect()
      val want = rows.headOption.map(row => row.schema.fieldNames.zipWithIndex
        .collect { case (n, i) if !row.isNullAt(i) => n -> String.valueOf(row.get(i)) }
        .toMap)
      res.check("serve.sample_matches_getServingRecord",
        rows.length == 1 && want.contains(got), s"id $id: http $got vs store $want")
    }
  }
}
