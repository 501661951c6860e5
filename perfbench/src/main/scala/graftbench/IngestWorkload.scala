package graftbench

import graft.core.Granularity
import graft.http.MetricsHttpServer
import graft.streaming.IngestStream
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** `ingest`: the write path, from an empty store.
  *
  *  1. Backfill: seeded JSON-line files go through [[IngestStream.start]]
  *     over a file source until `processAllAvailable` returns.
  *  2. Steady: a deferred-rollup [[MetricsHttpServer]] on that store takes
  *     one closed-loop POST client (one host's agent flush per POST: mostly
  *     typed `/ingest/multi`, some statsd `/ingest/aggregated`, a few
  *     `/events`) while a second thread calls `rollNow()` on a fixed
  *     schedule: two POSTs per second of `--seconds`, a fixed route cycle.
  *  3. End: a final drain, one `Maintain.run`, a clean stop and a reopen,
  *     then the output checks, the last of them reads through the
  *     reopened facade (`views`, a `views` batch, find, search, render). */
object IngestWorkload {
  private val Tenants = 4
  private val Services = 2
  private val HostsPerService = 5
  private val MetricsPerHost = 50
  /** Backfill history: 2 hours at 5-minute spacing, crossing midnight. */
  private val BackfillSteps = 24
  private val T0 = Gen.Epoch + 3600000L
  private val SimNow = T0 + Gen.DayMs
  private val DrainEveryMs = 5000L
  private val TtlSeconds = 7 * 86400
  /** The POST route cycle: 17 typed, 2 statsd and 1 event in every 20. */
  private val Routes: Vector[String] =
    Vector.tabulate(20)(k => if (k == 9 || k == 19) "ingest_aggregated" else if (k == 14) "events" else "ingest_multi")

  final case class Point(tenant: String, name: String, ts: Long, value: Double)

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val gen = new Gen(ctx.seed, Tenants, Services, HostsPerService, MetricsPerHost)
    val tracer = ctx.tracer

    // ---- setup: the backfill inputs, generated three times (median) ----
    var inputs: (String, Seq[Point]) = null
    val gens = (1 to 3).map { i =>
      val t = System.nanoTime()
      inputs = writeBackfill(ctx, gen, s"in-$i")
      (System.nanoTime() - t) / 1e9
    }
    val (inDir, backfillPoints) = inputs

    // ---- backfill through the Structured Streaming source --------------
    val store = ctx.qualified("store")
    val instr0 = graft.core.Instrumentation.global.snapshot()
    out.attempted += 1
    val (batches, bf) = tracer.span("backfill", tagged = true) {
      val q = IngestStream.start(
        spark.readStream.schema("value STRING").text(inDir),
        store, ctx.dir("checkpoint"))
      try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) }
      finally q.stop()
    }
    val backfillValid = backfillPoints.size
    val backfillRate = backfillValid / (bf.wallMs / 1e3)

    // ---- steady phase: POST client + drain thread ----------------------
    // setup resumes: the facade starts and takes one POST of each route,
    // so the timed POSTs do not pay first-use codegen
    val serveT0 = System.nanoTime()
    val srv = server(ctx, store)
    srv.start()
    val http = new Http(srv.boundPort)
    val acked = ArrayBuffer.empty[Point]
    var ackedGauges = 0L
    var ackedEvents = 0L

    /** POST number `i` of the run: one host's agent flush at its interval. */
    def postOne(i: Int, route: String): Span = {
      val host = gen.hosts(i % gen.hosts.size)
      val ts = T0 + (i / gen.hosts.size) * Gen.StepMs
      out.attempted += 1
      val (ok, s) = tracer.span(route) {
        try route match {
          case "ingest_multi" =>
            val recs = host.metrics.map { n =>
              val bad = gen.invalid(host.tenant, n, ts)
              (Point(host.tenant, n, ts, gen.value(host.tenant, n, ts)), bad)
            }
            val body = recs.map { case (p, bad) =>
              s"""{"tenantId":"${p.tenant}","metricName":"${if (bad) "" else p.name}",""" +
                s""""metricValue":${p.value},"collectionTime":${p.ts},""" +
                s""""ttlInSeconds":$TtlSeconds,"unit":"ms"}"""
            }.mkString("[", ",", "]")
            val resp = http.post(s"/v2.0/${host.tenant}/ingest/multi", body)
            val nBad = recs.count(_._2)
            val want = if (nBad == 0) 200 else 207
            val okResp = resp.statusCode == want &&
              (nBad == 0 || "\"source\"".r.findAllMatchIn(resp.body).size == nBad)
            if (okResp) acked ++= recs.filterNot(_._2).map(_._1)
            else out.problem(s"ingest/multi status ${resp.statusCode} (want $want): ${resp.body.take(200)}")
            okResp
          case "ingest_aggregated" =>
            val gauges = host.metrics.map { n =>
              s"""{"name":"statsd.$n","latest":${gen.value(host.tenant, "statsd." + n, ts)}}"""
            }
            val body = s"""{"tenantId":"${host.tenant}","timestamp":$ts,""" +
              s""""flushInterval":${Gen.StepMs},"gauges":${gauges.mkString("[", ",", "]")}}"""
            val resp = http.post(s"/v2.0/${host.tenant}/ingest/aggregated", body)
            val okResp = resp.statusCode == 200
            if (okResp) ackedGauges += gauges.size
            else out.problem(s"ingest/aggregated status ${resp.statusCode}: ${resp.body.take(200)}")
            okResp
          case _ =>
            val body = s"""{"what":"deploy ${host.prefix}","when":$ts,""" +
              s""""data":"build $i","tags":"deploy,${host.prefix}"}"""
            val resp = http.post(s"/v2.0/${host.tenant}/events", body)
            val okResp = resp.statusCode == 200
            if (okResp) ackedEvents += 1
            else out.problem(s"events status ${resp.statusCode}: ${resp.body.take(200)}")
            okResp
        } catch {
          case scala.util.control.NonFatal(e) =>
            out.problem(s"$route POST failed: $e"); false
        }
      }
      s.ok = ok
      if (!ok) out.failed += 1
      s
    }

    // warm-up: one POST of each route and one drain, so the timed phase
    // does not pay their first-use codegen
    Routes.distinct.zipWithIndex.foreach { case (r, i) => postOne(i, r) }
    srv.rollNow()
    val serveS = (System.nanoTime() - serveT0) / 1e9
    out.e2e("setup_s") = ctx.sessionSeconds + Stats.median(gens) + serveS
    out.detail("setup_inputs_s") = gens
    out.detail("setup_serve_s") = serveS

    val posts = ArrayBuffer.empty[(Span, String)]
    val drains = ArrayBuffer.empty[Span]
    val drainFailures = new java.util.concurrent.atomic.AtomicInteger
    @volatile var stop = false
    val drainer = new Thread(() => {
      while (!stop) {
        Thread.sleep(DrainEveryMs)
        if (!stop) drains.synchronized {
          try drains += tracer.span("drain", tagged = true)(srv.rollNow())._2
          catch {
            case scala.util.control.NonFatal(e) =>
              drainFailures.incrementAndGet()
              out.problem(s"rollNow failed: $e")
          }
        }
      }
    }, "graftbench-drain")
    val catalogFiles0 = Store.table(store, "metric_catalog")._1
    val steadyT0 = System.nanoTime()
    val cpu0 = Host.cpuNs()
    drainer.start()
    // a fixed amount of work, two POSTs per second of --seconds, so every
    // run sends the same route sequence
    for (i <- Routes.distinct.size until Routes.distinct.size + 2 * ctx.seconds) {
      val route = Routes(i % Routes.size)
      posts += postOne(i, route) -> route
    }
    val steadyS = (System.nanoTime() - steadyT0) / 1e9
    val steadyCpuNs = Host.cpuNs() - cpu0
    stop = true
    drainer.join()
    val catalogWrites = Store.table(store, "metric_catalog")._1 - catalogFiles0

    // ---- end: final drain, maintenance, clean stop, reopen -------------
    val finalDrain = tracer.span("drain", tagged = true)(srv.rollNow())._2
    drains += finalDrain
    out.attempted += drains.size + drainFailures.get
    out.failed += drainFailures.get
    val filesBefore = Store.fileCount(store)
    out.attempted += 1
    val (_, maint) = tracer.span("maintain", tagged = true) {
      graft.Maintain.run(spark, store, nowMillis = SimNow)
    }
    val filesRemoved = filesBefore - Store.fileCount(store)
    srv.stop()
    val endT0 = System.nanoTime()
    val reopened = server(ctx, store)
    reopened.start()
    val (reads, probes) =
      try {
        checks(ctx, out, gen, store, backfillPoints ++ acked, ackedGauges, ackedEvents)
        readBack(ctx, out, gen, reopened, store, backfillPoints ++ acked)
      } finally reopened.stop()
    val instr1 = graft.core.Instrumentation.global.snapshot()
    def delta(k: String) = instr1.getOrElse(k, 0L) - instr0.getOrElse(k, 0L)

    // ---- metrics --------------------------------------------------------
    val okPosts = posts.filter(_._1.ok)
    val pointsAcked = acked.size + ackedGauges
    val storedPoints = backfillValid + pointsAcked
    out.detail("posts") = posts.size
    out.detail("backfill_s") = bf.wallMs / 1e3
    out.detail("steady_s") = steadyS
    out.detail("drain_final_s") = finalDrain.wallMs / 1e3
    out.detail("maintain_s") = maint.wallMs / 1e3
    out.detail("reopen_checks_s") = (System.nanoTime() - endT0) / 1e9
    out.detail("backfill_points") = backfillValid
    out.detail("steady_points") = pointsAcked

    tracer.settle()
    val L = out.layer
    Seq("ingest_multi", "ingest_aggregated", "events").foreach { r =>
      L(s"http.requests.$r") = posts.count(_._2 == r).toDouble
    }
    val cleanMulti = okPosts.filter(p => p._2 == "ingest_multi" && p._1.clean).map(_._1)
    L("http.self_ms_p50.post") = Stats.median(cleanMulti.map(s => s.wallMs - s.jobWallMs.get))
    L("streaming.jobs_per_post") = Stats.mean(cleanMulti.map(_.jobs.get.toDouble))
    L("streaming.post_task_ms_p50") = Stats.median(cleanMulti.map(_.taskMs.get.toDouble))
    L("streaming.catalog_writes") = catalogWrites.toDouble
    L("streaming.drain_ms_p50") = Stats.median(drains.map(_.wallMs))
    L("streaming.drain_jobs") = drains.map(_.jobs.get).sum.toDouble
    L("streaming.drain_days") = (delta("ingest.deferred_rollup.basic_days") +
      delta("ingest.deferred_rollup.preagg_days")).toDouble
    L("streaming.backfill_points_per_s") = backfillRate
    L("streaming.backfill_batches") = batches.toDouble
    L("streaming.backfill_task_ms") = bf.taskMs.get.toDouble
    L("streaming.backfill_max_task_ms") = bf.maxTaskMs.get.toDouble
    L("streaming.backfill_shuffle_mb") = Stats.mb(bf.shuffleBytes.get)
    L ++= Store.layerMetrics(store)
    L("core.maintain_ms") = maint.wallMs
    L("core.maintain_files_removed") = filesRemoved.toDouble
    L("core.store_bytes_per_point") = Store.bytes(store).toDouble / storedPoints
    Reads.layer(L, reads)
    probes.foreach { case (k, v) => L(k) = v }
    // a drain's CPU lands on every POST it overlaps; the CPU median is
    // taken over the POSTs that overlap none
    val quiet = okPosts.map(_._1).filter(p => drains.forall(d => d.endNs < p.startNs || d.startNs > p.endNs))
    out.detail("quiet_posts") = quiet.size
    Trace.report(ctx, out, okPosts.map(_._1).toSeq, if (quiet.nonEmpty) quiet.toSeq else okPosts.map(_._1).toSeq,
      posts.size, steadyCpuNs, pointsAcked / steadyS)
    out
  }

  private def server(ctx: Ctx, store: String) =
    new MetricsHttpServer(ctx.spark, store, maxAgeMs = 30L * Gen.DayMs,
      nowMs = () => SimNow, deferRollups = true,
      rollupDelayMs = Long.MaxValue / 4)

  /** Seeded backfill: one JSON line per record, one file per host; about
    * 1% of records carry an empty metric name and are rejected. Returns
    * the directory and the valid points it holds. */
  private def writeBackfill(ctx: Ctx, gen: Gen, name: String): (String, Seq[Point]) = {
    val dir = Paths.get(ctx.dir(name))
    Files.createDirectories(dir)
    val valid = ArrayBuffer.empty[Point]
    gen.hosts.zipWithIndex.foreach { case (h, hi) =>
      val sb = new StringBuilder
      for (k <- 0 until BackfillSteps; n <- h.metrics) {
        val ts = T0 - (BackfillSteps - k) * Gen.StepMs
        val v = gen.value(h.tenant, n, ts)
        val bad = gen.invalid(h.tenant, n, ts)
        if (!bad) valid += Point(h.tenant, n, ts, v)
        sb ++= s"""{"tenant_id":"${h.tenant}","metric_name":"${if (bad) "" else n}",""" +
          s""""ts_ms":$ts,"value":$v,"ttl_seconds":$TtlSeconds,"unit":"ms"}""" += '\n'
      }
      Files.write(dir.resolve(f"host-$hi%03d.json"), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    (dir.toString, valid.toSeq)
  }

  /** Reads every acknowledged point back through the reopened facade:
    * full-resolution `views` of two sampled locators, a 5m `views` batch,
    * `find`, metric search and a `/render` aggregation, each checked
    * against the points written. Traced runs add the HTTP-versus-direct
    * probe. Returns the reads and the probe's layer metrics. */
  private def readBack(ctx: Ctx, out: Outcome, gen: Gen, srv: MetricsHttpServer,
      store: String, expected: Seq[Point]): (Seq[(Span, Read, Sent)], Seq[(String, Double)]) = {
    val http = new Http(srv.boundPort)
    val rnd = gen.rng(3)
    val perLocator = expected.groupBy(p => (p.tenant, p.name)).map { case (k, v) => k -> v.size }
    val (from, to) = (T0 - 3 * 3600000L, T0 + 3600000L)
    val range = s"from=${from / 1000}&to=${to / 1000}"
    def views(t: String, n: String) =
      Read("views", s"/v2.0/$t/views/${Http.enc(n)}?$range&resolution=full", None,
        Reads.viewsCheck(Map(n -> perLocator((t, n)))),
        Some(graft.query.MetricsQueryApi.Params(t, n, (from / 1000).toString,
          (to / 1000).toString, None, Some(Granularity.FULL))))
    val h0 = gen.hosts.head
    val hb = gen.hosts(rnd.nextInt(gen.hosts.size))
    val batch = hb.metrics.take(10)
    val cpu = h0.metrics.filter(_.startsWith(s"${h0.prefix}.cpu."))
    val reads = Seq(
      views(h0.tenant, h0.metrics(rnd.nextInt(h0.metrics.size))),
      views(hb.tenant, hb.metrics(rnd.nextInt(hb.metrics.size))),
      Read("views_batch", s"/v2.0/${hb.tenant}/views?$range&resolution=5m",
        Some(batch.map(n => "\"" + n + "\"").mkString("[", ",", "]")),
        Reads.viewsCheck(batch.map(n => n -> perLocator((hb.tenant, n))).toMap)),
      Read("find", s"/metrics/find?query=${Http.enc(h0.prefix.takeWhile(_ != '.') + ".*")}" +
        s"&tenant=${h0.tenant}", None, Reads.sizeCheck("find", HostsPerService)),
      Read("search", s"/v2.0/${h0.tenant}/metrics/search?query=${Http.enc(h0.prefix + ".cpu.*")}",
        None, Reads.sizeCheck("search", cpu.size)),
      Read("render", s"/render?target=${Http.enc(s"sumSeries(${h0.prefix}.cpu.*)")}" +
        s"&from=${from / 1000}&until=${to / 1000}&tenant=${h0.tenant}&maxDataPoints=100",
        None, Reads.renderCheck(1, 100)))
    val sent = reads.map { r =>
      out.attempted += 1
      val (res, s) = ctx.tracer.span(r.route)(Reads.send(http, r))
      s.ok = res.problem.isEmpty
      res.problem.foreach { p => out.failed += 1; out.problem(p) }
      (s, r, res)
    }
    val probes =
      if (!ctx.traced) Nil
      else Reads.probe(ctx, http, store, SimNow,
        Seq.fill(5)(views(h0.tenant, h0.metrics(rnd.nextInt(h0.metrics.size)))))
    (sent, probes)
  }

  /** Output checks on the reopened store: every acknowledged valid point is
    * stored exactly once, a seeded sample of 5m rollups equals
    * `Rollups.basicFromRaw` recomputed from raw, and the statsd and event
    * stores hold what was acknowledged. */
  private def checks(ctx: Ctx, out: Outcome, gen: Gen, store: String,
      expected: Seq[Point], gauges: Long, events: Long): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val raw = spark.read.parquet(s"$store/metrics_full")
      .select("tenant_id", "metric_name", "ts_ms", "value")
    val want = expected.map(p => (p.tenant, p.name, p.ts, p.value))
      .toDF("tenant_id", "metric_name", "ts_ms", "value")
    out.attempted += 4
    val missing = want.exceptAll(raw).count()
    val extra = raw.exceptAll(want).count()
    if (missing != 0 || extra != 0) {
      out.failed += 1
      out.problem(s"raw store: $missing acknowledged points missing, $extra unexpected rows")
    }
    val rnd = gen.rng(2)
    val sample = Seq.fill(20)(gen.locators(rnd.nextInt(gen.locators.size))).distinct
    val keys = sample.toDF("tenant_id", "metric_name")
    val stored = graft.core.SnapshotStore.read(spark, s"$store/metrics_5m")
      .getOrElse(spark.emptyDataFrame)
    val recomputed = graft.operators.Rollups.basicFromRaw(
      raw.join(keys, Seq("tenant_id", "metric_name")), Granularity.MIN_5)
    val k = Seq("tenant_id", "metric_name", "bucket_ms")
    val cmp = stored.join(keys, Seq("tenant_id", "metric_name"))
      .select((k :+ "num_points" :+ "sum_v" :+ "min_v" :+ "max_v").map(col): _*).as("s")
      .join(recomputed.as("r"), k, "full_outer")
    val bad = cmp.filter(
      col("s.num_points").isNull || col("r.num_points").isNull ||
        col("s.num_points") =!= col("r.num_points") ||
        col("s.min_v") =!= col("r.min_v") || col("s.max_v") =!= col("r.max_v") ||
        abs(col("s.sum_v") - col("r.sum_v")) > abs(col("r.sum_v")) * 1e-9 + 1e-9).count()
    val nCmp = cmp.count()
    if (bad != 0 || nCmp == 0) {
      out.failed += 1
      out.problem(s"5m rollups: $bad of $nCmp sampled buckets differ from basicFromRaw")
    }
    def rows(table: String, read: => Long): Long =
      if (Store.exists(store, table)) read else 0L
    val preagg = rows("preagg_raw", spark.read.parquet(s"$store/preagg_raw").count())
    if (preagg != gauges) {
      out.failed += 1
      out.problem(s"preagg_raw holds $preagg rows, $gauges gauges acknowledged")
    }
    val ev = rows("events", IngestStream.eventsStore(spark, store).count())
    if (ev != events) {
      out.failed += 1
      out.problem(s"events store holds $ev rows, $events events acknowledged")
    }
  }
}
