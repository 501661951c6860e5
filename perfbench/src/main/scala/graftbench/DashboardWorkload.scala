package graftbench

import graft.core.Granularity
import graft.http.MetricsHttpServer
import graft.query.MetricsQueryApi
import graft.streaming.IngestStream
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** `dashboard`: the read path under light writes.
  *
  * Setup bulk-loads a seeded history and rolls every tier. Two closed-loop
  * reader clients then each send a fixed number of reads, walking a fixed
  * cycle of route kinds (single `views`
  * with `points=`, batched `views`, `/render`, `/metrics/find`, metric
  * search) with seeded, Zipf-skewed locators and windows that favour the
  * recent end. An open-loop writer POSTs to today's day at a fixed rate, so
  * reads that touch today take the rollups-on-read repair path, and a drain
  * thread calls `rollNow()` on a schedule. Every read is checked against
  * the generator's layout. */
object DashboardWorkload {
  private val Tenants = 2
  private val Services = 2
  private val HostsPerService = 5
  private val MetricsPerHost = 10
  /** History starts at [[Gen.Epoch]] and runs to `SimNow`: 1.5 days. */
  private val SimNow = Gen.Epoch + Gen.DayMs + 12 * 3600000L
  private val Today = SimNow - Math.floorMod(SimNow, Gen.DayMs)
  private val Slots = ((SimNow - Gen.Epoch) / Gen.StepMs).toInt
  private val WriterPeriodMs = 4000L
  private val DrainEveryMs = 5000L
  private val Readers = 2
  /** One reader's route cycle: the fixed mix every run sends. */
  private val Cycle = Vector("views", "render", "views", "views_batch", "render",
    "views", "find", "render", "views", "search", "views_batch", "render", "views",
    "render", "find", "views", "views_batch", "render", "search", "views")
  /** Read windows ending now, favouring the recent end; a read takes the
    * window of its position in [[Cycle]], so every run sends the same
    * route and window sequence and the seed picks locators and names. */
  private val Windows = Vector(3600000L, 6 * 3600000L, 3600000L, 24 * 3600000L,
    3600000L, 6 * 3600000L, 7 * Gen.DayMs)

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val gen = new Gen(ctx.seed, Tenants, Services, HostsPerService, MetricsPerHost)
    val tracer = ctx.tracer

    // ---- setup: bulk load, roll every tier, start the facade ------------
    val setupT0 = System.nanoTime()
    val store = ctx.qualified("store")
    bulkLoad(ctx, gen, store)
    val loadedS = (System.nanoTime() - setupT0) / 1e9
    val srv = new MetricsHttpServer(spark, store, maxAgeMs = 30L * Gen.DayMs,
      nowMs = () => SimNow, deferRollups = true, rollupDelayMs = Long.MaxValue / 4)
    srv.start()
    out.detail("setup_load_s") = loadedS
    out.e2e("setup_s") = ctx.sessionSeconds + (System.nanoTime() - setupT0) / 1e9

    // ---- timed phase ---------------------------------------------------
    val reads = ArrayBuffer.empty[(Span, Read, Sent, Boolean)]
    val writes = ArrayBuffer.empty[(Double, Double, Boolean)] // latency from due, lateness, ok
    val drains = ArrayBuffer.empty[Span]
    val failures = new java.util.concurrent.atomic.AtomicInteger
    // a fixed amount of reads per run (one per reader per second of
    // --seconds), so every run sends the same route and window sequence
    val readsPerReader = math.max(2, ctx.seconds)
    @volatile var readersDone = false
    val t0 = System.nanoTime()
    val cpu0 = Host.cpuNs()
    def loop(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch {
          case scala.util.control.NonFatal(e) =>
            failures.incrementAndGet(); out.problem(s"$name died: $e")
        }, name)
      t.start(); t
    }
    val readers = (0 until Readers).map { r =>
      loop(s"graftbench-reader-$r") {
        val http = new Http(srv.boundPort)
        val rnd = gen.rng(10 + r)
        var k = r * Cycle.size / Readers
        for (_ <- 0 until readsPerReader) {
          val read = plan(gen, k, rnd)
          // every window ends now, so a rollup read repairs when a day is pending
          val repair = Set("views", "views_batch", "render")(read.route) &&
            srv.pendingRollupDays > 0
          val (res, s) = tracer.span(read.route)(Reads.send(http, read))
          s.ok = res.problem.isEmpty
          res.problem.foreach(out.problem)
          reads.synchronized { reads += ((s, read, res, repair)) }
          k += 1
        }
      }
    }
    val writer = loop("graftbench-writer") {
      val http = new Http(srv.boundPort)
      var k = 1
      var due = t0
      while (!readersDone) {
        val now = System.nanoTime()
        if (due > now) Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
        val late = (System.nanoTime() - due) / 1e6
        val ok = try writerPost(http, gen, k) catch {
          case scala.util.control.NonFatal(e) => out.problem(s"writer POST failed: $e"); false
        }
        writes.synchronized { writes += (((System.nanoTime() - due) / 1e6, late, ok)) }
        k += 1
        due = t0 + k * WriterPeriodMs * 1000000L
      }
    }
    val drainer = loop("graftbench-drain") {
      while (!readersDone) {
        Thread.sleep(DrainEveryMs)
        if (!readersDone)
          drains.synchronized { drains += tracer.span("drain", tagged = true)(srv.rollNow())._2 }
      }
    }
    readers.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    readersDone = true
    val cpuNs = Host.cpuNs() - cpu0
    writer.join()
    drainer.join()

    // ---- traced probes: the same views read through HTTP and directly --
    val probes =
      if (!ctx.traced) Nil
      else {
        val rnd = gen.rng(77)
        Reads.probe(ctx, new Http(srv.boundPort), store, SimNow, Seq.fill(10)(plan(gen, 0, rnd)))
      }
    srv.stop()

    // ---- outcome --------------------------------------------------------
    out.attempted += reads.size + writes.size + drains.size + failures.get
    out.failed += reads.count(!_._1.ok) + writes.count(!_._3) + failures.get
    val okReads = reads.filter(_._1.ok)
    def routeP50(r: String) = Stats.pct(okReads.filter(_._2.route == r).map(_._1.wallMs), 50)
    out.detail("reads") = reads.size
    out.detail("render_p50_ms") = routeP50("render")
    out.detail("views_p50_ms") = routeP50("views")
    out.detail("writer_posts") = writes.size
    out.detail("writer_post_p50_ms") = Stats.pct(writes.map(_._1), 50)
    out.detail("writer_late_p50_ms") = Stats.pct(writes.map(_._2), 50)
    out.detail("writer_late_max_ms") = if (writes.isEmpty) 0.0 else writes.map(_._2).max

    tracer.settle()
    val L = out.layer
    Reads.layer(L, reads.map(r => (r._1, r._2, r._3)).toSeq)
    L("http.requests.ingest_multi") = writes.size.toDouble
    L("query.render_p50_ms") = routeP50("render")
    L("query.views_p50_ms") = routeP50("views")
    L("query.writer_post_p50_ms") = Stats.pct(writes.map(_._1), 50)
    L("query.repair_share") =
      if (reads.isEmpty) 0.0 else reads.count(_._4).toDouble / reads.size
    L("streaming.drain_ms_p50") = Stats.median(drains.map(_.wallMs))
    L("streaming.drain_jobs") = drains.map(_.jobs.get).sum.toDouble
    probes.foreach { case (k, v) => L(k) = v }
    L ++= Store.layerMetrics(store)
    Trace.report(ctx, out, okReads.map(_._1).toSeq, okReads.map(_._1).toSeq, reads.size, cpuNs, okReads.size / elapsed)
    out
  }

  /** A seeded Zipf draw over the locator list (rank 0 is the hottest). */
  private def zipf(gen: Gen, rnd: java.util.SplittableRandom): Int = {
    val cdf = zipfCdf.computeIfAbsent(gen.locators.size, n => {
      val w = (1 to n).map(i => 1.0 / math.pow(i, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    })
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }
  private val zipfCdf = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  /** Number of `g` buckets holding at least one history point in
    * [from, to): the datapoint count a correct read returns. */
  private def expectedPoints(g: Granularity, from: Long, to: Long): Int = {
    val first = math.max(from, Gen.Epoch)
    val last = math.min(to, SimNow)
    if (last <= first) 0
    else {
      val k0 = (first - Gen.Epoch + Gen.StepMs - 1) / Gen.StepMs
      val k1 = (last - 1 - Gen.Epoch) / Gen.StepMs
      (k0 to k1).map(k => g.snap(Gen.Epoch + k * Gen.StepMs)).distinct.size
    }
  }

  /** The read at position `k` of a reader's walk through [[Cycle]]. */
  private def plan(gen: Gen, k: Int, rnd: java.util.SplittableRandom): Read = {
    val route = Cycle(k % Cycle.size)
    val (tenant, name) = gen.locators(zipf(gen, rnd))
    val window = Windows(k % Windows.size)
    val from = SimNow - window
    val range = s"from=${from / 1000}&to=${SimNow / 1000}"
    val parts = name.split('.')
    val (svc, host) = (parts(0), parts(1))
    route match {
      case "views" =>
        val pts = Vector(60, 120, 300)(k % 3)
        val g = Granularity.granularityFromPointsInInterval(from, SimNow, pts, nowMillis = SimNow)
        val want = expectedPoints(g, from, SimNow)
        Read(route, s"/v2.0/$tenant/views/${Http.enc(name)}?$range&points=$pts", None,
          Reads.viewsCheck(Map(name -> want)),
          Some(MetricsQueryApi.Params(tenant, name, (from / 1000).toString,
            (SimNow / 1000).toString, Some(pts))))
      case "views_batch" =>
        val n = 20 + (k * 37) % 81
        val names = gen.locators.filter(_._1 == tenant).map(_._2)
        val pick = (0 until n).map(_ => names(rnd.nextInt(names.size))).distinct
        val g = Granularity.granularityFromPointsInInterval(from, SimNow, 100, nowMillis = SimNow)
        val want = expectedPoints(g, from, SimNow)
        Read(route, s"/v2.0/$tenant/views?$range&points=100",
          Some(pick.map(p => "\"" + p + "\"").mkString("[", ",", "]")),
          Reads.viewsCheck(pick.map(_ -> want).toMap))
      case "render" =>
        val mdp = Vector(100, 300)(k % 2)
        val h2 = s"host${rnd.nextInt(HostsPerService)}"
        val (target, series) = Vector(
          (s"sumSeries($svc.host*.cpu.m0)", 1),
          (s"averageSeries($svc.*.mem.m0)", 1),
          (s"""summarize($svc.$host.cpu.m0,"1h","sum")""", 1),
          (s"highestAverage($svc.*.cpu.m0,3)", 3),
          (s"""groupByNode(svc*.host*.disk.m0,0,"sum")""", Services),
          (s"""movingAverage($svc.$host.net.m0,"25min")""", 1),
          (s"asPercent($svc.$host.cpu.m0,$svc.$h2.cpu.m1)", 1)
        )(k % 7)
        val until = s"from=${from / 1000}&until=${SimNow / 1000}"
        Read(route, s"/render?target=${Http.enc(target)}&$until&tenant=$tenant&maxDataPoints=$mdp",
          None, Reads.renderCheck(series, mdp))
      case "find" =>
        val (q, want) =
          if (k % 2 == 0) (s"$svc.*", HostsPerService)
          else (s"$svc.$host.*", math.min(MetricsPerHost, 6))
        Read(route, s"/metrics/find?query=${Http.enc(q)}&tenant=$tenant", None,
          Reads.sizeCheck("find", want))
      case _ =>
        val grp = parts(2)
        val want = (0 until MetricsPerHost).map(Gen.metricName).count(_.startsWith(grp + "."))
        Read(route, s"/v2.0/$tenant/metrics/search?query=${Http.enc(s"$svc.$host.$grp.*")}",
          None, Reads.sizeCheck("search", want))
    }
  }

  /** One writer flush: ten agent metrics for today's day, in a tenant
    * namespace no reader queries, so read checks stay exact while the day
    * stays pending. */
  private def writerPost(http: Http, gen: Gen, k: Int): Boolean = {
    val slotsToday = ((SimNow - Today) / Gen.StepMs).toInt
    val ts = Today + (k % slotsToday) * Gen.StepMs
    val body = (0 until 10).map { j =>
      s"""{"tenantId":"t0","metricName":"agent.w${k % 7}.m$j",""" +
        s""""metricValue":${gen.value("t0", s"agent.m$j", ts)},"collectionTime":$ts}"""
    }.mkString("[", ",", "]")
    http.post("/v2.0/t0/ingest/multi", body).statusCode == 200
  }

  /** Seeded history for every locator, loaded the way a bulk import is:
    * one `processBatch` (raw + catalog + 5m) and a full tier cascade. */
  private def bulkLoad(ctx: Ctx, gen: Gen, store: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = for {
      (t, n) <- gen.locators
      k <- 0 until Slots
    } yield {
      val ts = Gen.Epoch + k * Gen.StepMs
      (t, n, ts, gen.value(t, n, ts))
    }
    val df = rows.toDF("tenant_id", "metric_name", "ts_ms", "value")
      .withColumn("ttl_seconds", lit(30 * 86400)).withColumn("unit", lit("ms"))
    IngestStream.processBatch(IngestStream.withValidity(df, 0L, Long.MaxValue), store)
    IngestStream.rollupCascadeFor(spark, store)

  }
}
