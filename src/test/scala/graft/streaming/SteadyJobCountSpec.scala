package graft.streaming

import graft.SparkSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Pins the steady-state micro-batch's Spark JOB COUNT — the measured
  * latency floor on local[32] is ~300 ms fixed per job (docs/SCALE.md), so
  * the fused observe-on-write path's whole point is the count: staged raw
  * write (with the accounting riding as observed metrics) + the dirty-day
  * 5m re-roll publish, and nothing else on a warm store. The classic path
  * pays two more (stats aggregate + catalog collect). The facade's typed
  * POST runs no job at all: it parses, validates and writes on the
  * driver (TypedPost, LocalParquet). */
class SteadyJobCountSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val base = 1704067200000L

  private def mkBatch(n: Int, shift: Long) = IngestStream.withValidity(
    (0 until n).map(i => ("t1", s"m${i % 8}", base + shift + i * 1000L,
      i.toDouble, 86400, "ms"))
      .toDF("tenant_id", "metric_name", "ts_ms", "value",
        "ttl_seconds", "unit"),
    1L, Long.MaxValue)

  /** Job stage-name traces for everything `body` runs (AQE shuffle/
    * broadcast materializations included — each carries its action's
    * call site). */
  private def jobSites(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        sites.add(js.stageInfos.map(_.name.takeWhile(_ != '\n').take(60))
          .mkString("[", ";", "]"))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) } // listener events drain async
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    sites.asScala.toSeq
  }

  test("fused steady batch issues NO driver collect job (accounting and " +
    "catalog ride the write); classic pays the collect") {
    val store = Files.createTempDirectory("graft_sjc").toString
    // warm: first batch seeds store + catalog memo (cost not under test)
    IngestStream.processBatch(mkBatch(64, 0L), store, batchId = 0L)
    val fused = jobSites {
      IngestStream.processBatch(mkBatch(64, 600000L), store, batchId = 1L,
        fuseObserve = true)
    }
    val classic = jobSites {
      IngestStream.processBatch(mkBatch(64, 1200000L), store, batchId = 2L)
    }
    info(s"fused jobs: ${fused.mkString(" | ")}")
    info(s"classic jobs: ${classic.mkString(" | ")}")
    // the fusion pin: no stats/catalog collect job anywhere in the fused
    // trace (the only actions are the two staged writes + their AQE
    // materializations); the classic path pays the collect
    assert(!fused.exists(_.contains("collect at")),
      s"fused path ran a driver collect: ${fused.mkString(" | ")}")
    assert(classic.exists(_.contains("collect at")),
      "classic path lost its accounting collect — spec shape outdated")
    assert(fused.size <= classic.size,
      s"fused (${fused.size}) ran more jobs than classic (${classic.size})")
  }

  test("typed HTTP POSTs run ZERO Spark jobs (clean, 207 with rejects, " +
    "string metric, catalog-memo miss); statsd and events stay at one") {
    val store = Files.createTempDirectory("graft_sjc_http").toString
    val now = 1704067200000L
    val srv = new graft.http.MetricsHttpServer(spark, store,
      nowMs = () => now, maxAgeMs = 10L * 86400000L,
      deferRollups = true, rollupDelayMs = Long.MaxValue / 4)
    srv.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(body: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${srv.boundPort}/v2.0/t/ingest"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      def rec(name: String, v: String, ts: Long) =
        s"""{"metricName": "$name", "metricValue": $v, "collectionTime": $ts}"""
      def body(v: Double, ts: Long) = s"[${rec("app.one", v.toString, ts)}]"
      def zeroJobs(what: String, body: String, status: Int): Unit = {
        val jobs = jobSites {
          val r = post(body)
          assert(r.statusCode() === status, s"$what: ${r.body()}")
        }
        assert(jobs.isEmpty,
          s"$what POST ran ${jobs.size} jobs: ${jobs.mkString(" | ")}")
      }
      // first POST seeds the store and the catalog memo
      assert(post(body(1.0, now - 3600000L)).statusCode() === 200)
      zeroJobs("clean", body(2.0, now - 3000000L), 200)
      zeroJobs("207 with rejects",
        s"[${rec("app.one", "3.0", now - 2400000L)}, " +
          s"${rec("", "4.0", now - 2400000L)}]", 207)
      assert(new java.io.File(s"$store/metrics_errors").exists())
      zeroJobs("string metric",
        s"[${rec("app.mode", "\"up\"", now - 1800000L)}]", 200)
      assert(new java.io.File(s"$store/metrics_string").exists())
      zeroJobs("catalog-memo miss",
        s"[${rec("app.fresh", "5.0", now - 1200000L)}]", 200)
      assert(spark.read.parquet(s"$store/metric_catalog")
        .filter(col("metric_name") === "app.fresh").count() === 1)
      assert(spark.read.parquet(s"$store/metrics_full").count() === 4)
      // the aggregated (statsd) route still runs its staged write as one job
      def postAgg(ts: Long) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${srv.boundPort}/v2.0/t/ingest/aggregated"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"tenantId": "t", "timestamp": $ts, "flushInterval": 10000,
               | "counters": [{"name": "agg.c", "value": 1.0,
               |   "rate": 0.1}]}""".stripMargin))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(postAgg(now - 3600000L).statusCode() === 200)
      val aggJobs = jobSites {
        assert(postAgg(now - 3000000L).statusCode() === 200)
      }
      assert(aggJobs.size === 1,
        s"deferred statsd POST ran ${aggJobs.size} jobs: " +
          aggJobs.mkString(" | "))
      // the events route also stays at one job
      def postEvent(ts: Long) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${srv.boundPort}/v2.0/t/events"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"what": "deploy", "when": $ts, "data": "v1"}"""))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(postEvent(now - 3600000L).statusCode() === 200)
      val evJobs = jobSites {
        assert(postEvent(now - 3000000L).statusCode() === 200)
      }
      assert(evJobs.size === 1,
        s"events POST ran ${evJobs.size} jobs: ${evJobs.mkString(" | ")}")
    } finally srv.stop()
  }
}
