package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression, InterpretedMutableProjection, JoinedRow, MutableProjection}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One typed ingest POST body (`POST /v2.0/:t/ingest[/multi]`), parsed and
  * validated on the driver: the records of each arm as write-ready rows,
  * the per-record error array in record order (tenant, name, first
  * failing source field, ts — the reference's bean-validation array,
  * ErrorResponse.java), and the record total (0 = `Cannot parse
  * content`). [[IngestStream.commitTypedPost]] writes it. */
final case class TypedPost(
    nTotal: Long,
    errors: Array[(String, String, String, Option[Long])],
    numeric: Seq[(Long, InternalRow)],
    numericRejects: Seq[InternalRow],
    strings: Seq[(Long, InternalRow)],
    stringRejects: Seq[InternalRow])

object TypedPost {

  /** The facade's wire shape: an array of reference records (a single
    * object parses as an array of one), `metricValue` as a VARIANT so
    * the original JSON type survives (a quoted "007" stays a string
    * metric, the reference's Object-typed routing, Metric.java:38-61). */
  val BodyType: DataType = DataType.fromDDL(
    "array<struct<tenantId:string, metricName:string, " +
      "metricValue:variant, collectionTime:bigint, " +
      "ttlInSeconds:int, unit:string>>")

  /** File schema of `metrics_full` / `metrics_errors` rows. */
  val NumericSchema: StructType = StructType(Seq(
    StructField("tenant_id", StringType), StructField("metric_name", StringType),
    StructField("ts_ms", LongType), StructField("value", DoubleType),
    StructField("ttl_seconds", IntegerType), StructField("unit", StringType)))

  /** File schema of `metrics_string` / `metrics_string_errors` rows. */
  val StringSchema: StructType = StructType(Seq(
    StructField("tenant_id", StringType), StructField("metric_name", StringType),
    StructField("ts_ms", LongType), StructField("value_str", StringType),
    StructField("ttl_seconds", IntegerType), StructField("unit", StringType),
    StructField("is_bool", BooleanType)))

  /** (tenant, name, unit) of a written row — both arms' leading columns
    * and unit ordinal agree. */
  private[streaming] def locator(r: InternalRow): (String, String, String) = {
    def s(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    (s(0), s(1), s(5))
  }

  /** A DataFrame pipeline of `Project`s over a template relation, resolved
    * ONCE by the analyzer and then evaluated row by row on the driver
    * with the same Catalyst expressions, interpreted — no plan, no job
    * per call. Not thread-safe (projections reuse their output row). */
  private final class Stages(spark: SparkSession, in: StructType,
      build: DataFrame => DataFrame) {
    private val plan = ReplaceExpressions(build(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), in)).queryExecution.analyzed)
    val out: StructType = plan.schema
    private val layers: List[MutableProjection] = {
      def walk(p: LogicalPlan): List[MutableProjection] = p match {
        case Project(list, child) =>
          val bound = list.map(e => BindReferences.bindReference[Expression](
            e, new AttributeSeq(child.output)))
          val proj = InterpretedMutableProjection.createProjection(bound)
          proj.initialize(0)
          walk(child) :+ proj
        case _: LocalRelation => Nil
        case other => throw new IllegalStateException(
          s"driver stage must be projections only, found ${other.nodeName}")
      }
      walk(plan)
    }
    def apply(row: InternalRow): InternalRow = layers.foldLeft(row)((r, l) => l(r))
  }

  /** The facade's typed-body parser for one ingest session. Parse and
    * validation are the Spark pipeline's own expressions: `from_json`
    * into [[BodyType]] → one canonical JSON line per record →
    * [[IngestStream.parseJsonTyped]] → [[IngestStream.validExpr]] per arm
    * with the first-failing-source chain. Thread-safe (one parse at a
    * time; a parse is microseconds per record). */
  final class Parser(spark: SparkSession) {

    private val body = new Stages(spark, StructType(Seq(
        StructField("body", StringType), StructField("tenant", StringType),
        StructField("scoped", BooleanType))),
      _.select(transform(from_json(col("body"), BodyType), r => to_json(struct(
        when(col("scoped"), coalesce(r("tenantId"), col("tenant")))
          .otherwise(col("tenant")).as("tenant_id"),
        r("metricName").as("metric_name"),
        r("collectionTime").as("ts_ms"),
        r("metricValue").as("value"),
        r("ttlInSeconds").as("ttl_seconds"),
        r("unit").as("unit")))).as("lines")))

    private val record = new Stages(spark,
      StructType(Seq(StructField("value", StringType))),
      IngestStream.parseJsonTyped)

    private val check = new Stages(spark, StructType(record.out.fields ++ Seq(
        StructField("lo", LongType), StructField("hi", LongType))),
      { df =>
        val (lo, hi) = (col("lo"), col("hi"))
        val isStr = coalesce(col("is_string_typed") || col("is_bool"), lit(false))
        val vn = IngestStream.validExpr(col("value_num"), lo, hi)
        val vs = IngestStream.validExpr(col("value"), lo, hi)
        df.select(
          isStr.as("is_str"),
          when(isStr, vs).otherwise(vn).as("valid"),
          // first failing constraint per record — the reference's
          // bean-validation order (JSONMetric.java:24-41)
          when(col("metric_name").isNull || length(col("metric_name")) === 0,
              lit("metricName"))
            .when(col("value").isNull || (!isStr && col("value_num").isNull),
              lit("metricValue"))
            .when(col("ts_ms").isNull || !col("ts_ms").between(lo, hi),
              lit("collectionTime"))
            .when(col("ttl_seconds").isNotNull && col("ttl_seconds") <= 0,
              lit("ttlInSeconds")).as("src"),
          IngestStream.dayOf(col("ts_ms")).as("ts_day"),
          struct(col("tenant_id"), col("metric_name"), col("ts_ms"),
            col("value_num").as("value"), col("ttl_seconds"), col("unit"))
            .as("num_row"),
          struct(col("tenant_id"), col("metric_name"), col("ts_ms"),
            col("value").as("value_str"), col("ttl_seconds"), col("unit"),
            col("is_bool")).as("str_row"))
      })
    require(Seq("num_row" -> NumericSchema, "str_row" -> StringSchema).forall {
        case (c, s) => check.out(c).dataType.asInstanceOf[StructType].fields
          .map(f => (f.name, f.dataType)).sameElements(
            s.fields.map(f => (f.name, f.dataType)))
      }, s"typed ingest row shapes drifted: ${check.out.simpleString}")

    /** Parse `text` for `tenant` (`scoped`: the `/multi` route, where a
      * record's own `tenantId` wins) and validate against `[lo, hi]`. */
    def parse(text: String, tenant: String, scoped: Boolean,
        lo: Long, hi: Long): TypedPost = synchronized {
      val prev = SparkSession.getActiveSession
      SparkSession.setActiveSession(spark)
      try {
        val lines = body(InternalRow(UTF8String.fromString(text),
          UTF8String.fromString(tenant), scoped)).getArray(0)
        val n = if (lines == null) 0 else lines.numElements()
        val errors = Array.newBuilder[(String, String, String, Option[Long])]
        val numeric, strings = Seq.newBuilder[(Long, InternalRow)]
        val numericRejects, stringRejects = Seq.newBuilder[InternalRow]
        val bounds = InternalRow(lo, hi)
        for (i <- 0 until n) {
          val c = check(new JoinedRow(
            record(InternalRow(lines.getUTF8String(i))), bounds))
          val isStr = c.getBoolean(0)
          val row = if (isStr) c.getStruct(5, StringSchema.length).copy()
                    else c.getStruct(4, NumericSchema.length).copy()
          if (!c.isNullAt(2)) {
            def s(j: Int) = if (row.isNullAt(j)) "" else row.getUTF8String(j).toString
            errors += ((s(0), s(1), c.getUTF8String(2).toString,
              if (row.isNullAt(2)) None else Some(row.getLong(2))))
          }
          (isStr, c.getBoolean(1)) match {
            case (false, true) => numeric += ((c.getLong(3), row))
            case (false, false) => numericRejects += row
            case (true, true) => strings += ((c.getLong(3), row))
            case (true, false) => stringRejects += row
          }
        }
        TypedPost(n.toLong, errors.result(), numeric.result(),
          numericRejects.result(), strings.result(), stringRejects.result())
      } finally prev match {
        case Some(s) => SparkSession.setActiveSession(s)
        case None => SparkSession.clearActiveSession()
      }
    }
  }
}
