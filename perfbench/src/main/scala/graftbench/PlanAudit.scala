package graftbench

import graft.SparkEntry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-audit self-check: for every registered query, compares the
  * optimised plan of `count()` with the plan of the every-column sink the
  * `registry` workload times, and lists the queries whose `count()` plan
  * has fewer Window, Join, Generate or Expand nodes. Such a query's
  * `count()` time measures a pruned plan. Writes the list as JSON. */
object PlanAudit {
  private val Kinds = Seq("Window", "Join", "Generate", "Expand")

  private def nodes(p: LogicalPlan): Map[String, Int] = {
    val names = p.collect { case n => n.nodeName } ++
      p.subqueriesAll.flatMap(_.collect { case n => n.nodeName })
    Kinds.map(k => k -> names.count(_ == k)).toMap
  }

  def run(ctx: Ctx, outPath: String): Outcome = {
    val out = new Outcome
    val rows = SparkEntry.allDefs.map { d =>
      out.attempted += 1
      try {
        val df = d.fn(ctx.spark, ctx.data)
        val counted = nodes(df.groupBy().count().queryExecution.optimizedPlan)
        val sunk = nodes(RegistryWorkload.sink(df).queryExecution.optimizedPlan)
        val lost = Kinds.map(k => k -> (sunk(k) - counted(k))).filter(_._2 > 0)
        Right(d.name -> lost)
      } catch {
        case scala.util.control.NonFatal(e) =>
          out.failed += 1
          Left(d.name -> Option(e.getMessage).getOrElse(e.toString).take(200))
      }
    }
    val lossy = rows.collect { case Right((n, lost)) if lost.nonEmpty => n -> lost }
      .sortBy(_._1)
    val errors = rows.collect { case Left(e) => e }
    val json = Json.obj(Seq(
      "data" -> Paths.get(ctx.data).getFileName.toString,
      "queries" -> rows.size,
      "count_plan_loses_nodes" -> lossy.size,
      "lossy" -> lossy.map { case (n, lost) => n -> lost },
      "errors" -> errors))
    Files.write(Paths.get(outPath), (json + "\n").getBytes(StandardCharsets.UTF_8))
    out.detail("count_plan_loses_nodes") = lossy.size
    out
  }
}
