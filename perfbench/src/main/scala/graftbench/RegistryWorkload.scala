package graftbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** `registry`: fully materialised pipeline queries from
  * [[SparkEntry.queries]] over the committed sf0.001 tables, in a fixed
  * order; the inputs do not depend on the seed. Every output column goes through the
  * `bit_xor(xxhash64(struct(*)))` sink, the rule `Stress.run` uses, so
  * Catalyst cannot prune the Window, Join and Generate nodes a `count()`
  * would drop; each sink hash is checked against [[HashesFile]].
  *
  * The set is fixed: the perf backlog, queries whose `count()` plan loses
  * operators, and at least one query from every registry file, sized so
  * one cold pass takes about twenty-five seconds on four cores. A run is
  * one pass, whatever `--seconds` says. Queries that
  * build a cached store artifact on first use are left out, since building
  * it would dominate a run. */
object RegistryWorkload {
  val HashesFile = "registry_hashes.json"

  /** The perf backlog: every query of it is in the timed set. */
  val Backlog: Seq[String] = Seq("q_dedup_minhash", "q_dedup_embed_banded",
    "q_dedup_simhash", "q_dedup_ngram", "q_preagg_timer_pmap",
    "q_series_mad_sharded", "q_sim_ivf", "q_tpch_q18_topk")
  val Queries: Seq[String] = Backlog ++ Seq(
    // count() prunes Window / Join / Generate nodes in these
    "q_series_mad", "q_decontaminate", "q_asof_within", "q_text_dup_coverage",
    "q_series_resample",
    // throws on sf0.1 once every column is materialised
    "q_series_divide_outer",
    // the registry files the backlog does not reach
    "q_glob_search", "q_rollup_basic_5m", "q_rollups_on_read", "q_tpch_q5")
  val RegistryFiles: Seq[String] = Seq("RollupQueries", "RollupQueries2", "SeriesQueries",
    "PreaggQueries", "DiscoveryQueries", "PipelineQueries", "PipelineQueries2",
    "TpchQueries")

  /** Registry file of every query, from the per-file `defs` lists. */
  lazy val fileOf: Map[String, String] = {
    import graft.api._
    Seq("RollupQueries" -> RollupQueries.defs, "RollupQueries2" -> RollupQueries2.defs,
      "SeriesQueries" -> SeriesQueries.defs, "PreaggQueries" -> PreaggQueries.defs,
      "DiscoveryQueries" -> DiscoveryQueries.defs, "PipelineQueries" -> PipelineQueries.defs,
      "PipelineQueries2" -> PipelineQueries2.defs, "TpchQueries" -> TpchQueries.defs)
      .flatMap { case (f, ds) => ds.map(_.name -> f) }.toMap
  }
  def isCorpus(q: String): Boolean = fileOf(q).startsWith("PipelineQueries")

  /** Every output column reduced to one row: (rows, xor of row hashes). */
  def sink(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
      .agg(count(lit(1)).as("rows"), expr("bit_xor(__h)").as("h"))

  def sinkHash(df: DataFrame): String = {
    val r = sink(df).collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) "null" else r.getLong(1).toString}"
  }

  final case class Run(name: String, ms: Double, hash: Option[String], error: Option[String],
      planMs: Double, span: Span)

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val setupT0 = System.nanoTime()
    val expected = readHashes(Paths.get(ctx.data).getParent.getParent.resolve(HashesFile))
    // warm-up: JIT, codegen and parquet footers, on queries outside the set
    sinkHash(SparkEntry.queries("q_rollup_basic_1440m")(spark, ctx.data))
    out.e2e("setup_s") = ctx.sessionSeconds + (System.nanoTime() - setupT0) / 1e9

    // fixed order: a cold JVM's first-use cost then always lands on the
    // same queries (a seed-shuffled order moved the median query by 30%)
    val order = Queries
    val runs = ArrayBuffer.empty[Run]
    val t0 = System.nanoTime()
    val cpu0 = Host.cpuNs()
    order.foreach(q => runs += runOne(ctx, q))
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuNs = Host.cpuNs() - cpu0

    out.attempted = runs.size
    out.failed = runs.count(_.error.isDefined)
    runs.foreach { r =>
      r.error.foreach(e => System.err.println(s"[graftbench] ${r.name} failed: $e"))
      (r.hash, expected.get(r.name)) match {
        case (Some(h), Some(want)) if h != want =>
          out.problem(s"${r.name}: sink hash $h, recorded $want")
        case _ =>
      }
    }
    val unchecked = Queries.filterNot(expected.contains)
    out.detail("unchecked") = unchecked
    out.detail("failed_queries") = runs.filter(_.error.isDefined).map(_.name).distinct

    val ok = runs.filter(_.error.isEmpty)
    val perQuery: Map[String, Seq[Run]] = ok.groupBy(_.name).map { case (k, v) => k -> v.toSeq }
    def medMs(q: String): Double = Stats.median(perQuery.getOrElse(q, Nil).map(_.ms))
    val corpus = Queries.filter(q => isCorpus(q) && perQuery.contains(q)).map(medMs).sum / 1e3
    val analytics = Queries.filter(q => !isCorpus(q) && perQuery.contains(q)).map(medMs).sum / 1e3
    out.detail("corpus_s") = corpus
    out.detail("analytics_s") = analytics
    out.detail("query_ms") = Queries.map(q => q -> math.round(medMs(q)))

    ctx.tracer.settle()
    val L = out.layer
    L("api.corpus_s") = corpus
    L("api.analytics_s") = analytics
    RegistryFiles.foreach { f =>
      val rs = ok.filter(r => fileOf(r.name) == f)
      L(s"api.$f.s") = rs.map(_.ms).sum / 1e3
      L(s"api.$f.jobs") = rs.map(_.span.jobs.get).sum.toDouble
      L(s"api.$f.task_ms") = rs.map(_.span.taskMs.get).sum.toDouble
      L(s"api.$f.shuffle_mb") = Stats.mb(rs.map(_.span.shuffleBytes.get).sum)
    }
    Backlog.foreach(q => L(s"api.${q}_ms") = medMs(q))
    L("api.plan_ms") = ok.map(_.planMs).sum
    Trace.report(ctx, out, ok.map(_.span).toSeq, ok.map(_.span).toSeq, runs.size, cpuNs, ok.size / wallS)
    out
  }

  private def runOne(ctx: Ctx, q: String): Run = {
    var planMs = 0.0
    try {
      val (h, s) = ctx.tracer.span(s"query:$q", tagged = true) {
        val df = sink(SparkEntry.queries(q)(ctx.spark, ctx.data))
        val r = df.collect()(0)
        planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
        s"${r.getLong(0)}:${if (r.isNullAt(1)) "null" else r.getLong(1).toString}"
      }
      Run(q, s.wallMs, Some(h), None, planMs, s)
    } catch {
      case scala.util.control.NonFatal(e) =>
        val s = ctx.tracer.spans(s"query:$q").last
        Run(q, s.wallMs, None, Some(Option(e.getMessage).getOrElse(e.toString).take(200)), planMs, s)
    }
  }

  /** `{"q_name": "rows:hash", ...}` as written by [[record]]. */
  def readHashes(path: java.nio.file.Path): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else {
      val Entry = """"(q_[a-z0-9_]+)"\s*:\s*"([^"]+)"""".r
      Entry.findAllMatchIn(new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
        .map(m => m.group(1) -> m.group(2)).toMap
    }

  /** Records the sink hash of every query in the set from two passes over
    * the data; a query whose hash does not repeat is left out (unchecked). */
  def record(ctx: Ctx, outPath: String): Outcome = {
    val out = new Outcome
    val a, b = Queries.map(q => q -> scala.util.Try(sinkHash(SparkEntry.queries(q)(ctx.spark, ctx.data))))
    val stable = a.zip(b).collect {
      case ((q, scala.util.Success(h1)), (_, scala.util.Success(h2))) if h1 == h2 => q -> h1
    }
    val unstable = Queries.filterNot(stable.map(_._1).toSet)
    val body = stable.sortBy(_._1).map { case (q, h) => s"""  "$q": "$h"""" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(outPath), body.getBytes(StandardCharsets.UTF_8))
    out.detail("recorded") = stable.size
    out.detail("unchecked") = unstable
    out
  }
}
