package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.query.MetricsQueryApi

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One facade read: its route family, request, and the check of its JSON
  * body, which returns a problem (None when correct) and the datapoints
  * served. `direct` holds the same read as library parameters, for the
  * traced HTTP-versus-direct probe. */
final case class Read(route: String, path: String, body: Option[String],
    check: JsonNode => (Option[String], Long),
    direct: Option[MetricsQueryApi.Params] = None)

/** A sent read: its check result, response bytes and datapoints. */
final case class Sent(problem: Option[String], bytes: Int, points: Long)

/** Sending and checking facade reads, shared by the workloads that read. */
object Reads {
  private val mapper = new ObjectMapper()

  def send(http: Http, r: Read): Sent = {
    val resp = try r.body match {
      case Some(b) => http.post(r.path, b)
      case None => http.get(r.path)
    } catch {
      case scala.util.control.NonFatal(e) => return Sent(Some(s"${r.route} ${r.path}: $e"), 0, 0)
    }
    val bytes = resp.body.length
    if (resp.statusCode != 200)
      Sent(Some(s"${r.route} ${r.path} -> ${resp.statusCode}: ${resp.body.take(200)}"), bytes, 0)
    else
      try {
        val (problem, points) = r.check(mapper.readTree(resp.body))
        Sent(problem.map(m => s"${r.route} ${r.path}: $m"), bytes, points)
      } catch {
        case e: Exception => Sent(Some(s"${r.route} ${r.path}: unparseable body: $e"), bytes, 0)
      }
  }

  /** `views`: exactly the requested series, each with its datapoint count. */
  def viewsCheck(want: Map[String, Int])(j: JsonNode): (Option[String], Long) = {
    val ms = j.get("metrics").elements().asScala.toSeq
    val got = ms.map(m => m.get("metric").asText -> m.get("values").size).toMap
    val problem =
      if (got == want) None
      else {
        val diff = want.collect { case (k, v) if !got.get(k).contains(v) => s"$k: ${got.get(k)} != $v" }
        Some(s"${got.size} series, want ${want.size}; ${diff.take(3).mkString("; ")}")
      }
    (problem, got.values.sum.toLong)
  }

  /** `/render`: the series count, each with 1..`mdp` datapoints. */
  def renderCheck(series: Int, mdp: Int)(j: JsonNode): (Option[String], Long) = {
    val ss = j.elements().asScala.toSeq
    val counts = ss.map(_.get("datapoints").size)
    val problem =
      if (ss.size != series) Some(s"${ss.size} series, want $series")
      else if (counts.exists(c => c == 0 || c > mdp)) Some(s"datapoints per series $counts, want 1..$mdp")
      else None
    (problem, counts.sum.toLong)
  }

  /** find / search: a JSON array of `want` entries. */
  def sizeCheck(what: String, want: Int)(j: JsonNode): (Option[String], Long) =
    (if (j.size == want) None else Some(s"$what: ${j.size} entries, want $want"), 0L)

  /** Per-route layer metrics over the reads of a run. Job counts (mean per
    * read) and task time use clean spans only: no job that started while
    * they were open overlapped another span. */
  def layer(L: mutable.Map[String, Double], reads: Seq[(Span, Read, Sent)]): Unit = {
    Seq("views", "views_batch", "render", "find", "search").foreach { r =>
      val rs = reads.filter(_._2.route == r)
      val clean = rs.filter(x => x._1.ok && x._1.clean).map(_._1)
      L(s"http.requests.$r") = rs.size.toDouble
      L(s"query.jobs_per_read.$r") = Stats.mean(clean.map(_.jobs.get.toDouble))
      L(s"query.task_ms_p50.$r") = Stats.median(clean.map(_.taskMs.get.toDouble))
    }
    L("http.resp_kb_p50.render") =
      Stats.median(reads.filter(r => r._1.ok && r._2.route == "render").map(_._3.bytes / 1024.0))
    val cleanViews = reads.filter(r => r._1.ok && r._1.clean && r._2.route.startsWith("views"))
    val points = cleanViews.map(_._3.points).sum
    L("query.rows_read_per_point") =
      if (points == 0) 0.0 else cleanViews.map(_._1.recordsRead.get).sum.toDouble / points
  }

  /** Traced runs only: each read sent through HTTP and then made as the
    * direct library call (`getRollupsStored` + `toJsonResponse`), followed
    * by a direct snapshot read of the 5m tier. Gives the facade's self
    * time, the planning time and the snapshot read time. */
  def probe(ctx: Ctx, http: Http, store: String, nowMs: Long, reads: Seq[Read])
      : Seq[(String, Double)] = {
    val self, planned, snap = mutable.ArrayBuffer.empty[Double]
    reads.foreach { r =>
      val (_, hs) = ctx.tracer.span("probe_http")(send(http, r))
      val (planMs, ls) = ctx.tracer.span("probe_direct", tagged = true) {
        val df = MetricsQueryApi.getRollupsStored(ctx.spark, store, r.direct.get, nowMs)
        MetricsQueryApi.toJsonResponse(df)
        df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
      }
      val (_, ss) = ctx.tracer.span("probe_snapshot", tagged = true) {
        graft.core.SnapshotStore.read(ctx.spark, s"$store/metrics_5m")
      }
      self += hs.wallMs - ls.wallMs
      planned += planMs
      snap += ss.wallMs
    }
    Seq("http.self_ms_p50.read" -> Stats.median(self),
      "query.plan_ms_p50" -> Stats.median(planned),
      "core.snapshot_read_ms_p50" -> Stats.median(snap))
  }
}
