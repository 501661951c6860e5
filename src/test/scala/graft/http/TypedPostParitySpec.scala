package graft.http

import graft.SparkSuite
import graft.streaming.{IngestStream, TypedPost}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import scala.util.Try

/** The facade's typed POST parses, validates and writes on the driver
  * ([[TypedPost.Parser]], [[IngestStream.commitTypedPost]]). These specs
  * hold it to the Spark pipeline it replaced, kept here as the oracle:
  * `from_json` of the body into a VARIANT-valued record array, `explode`,
  * one `to_json` line per record, [[IngestStream.parseJsonTyped]], and
  * the first-failing-source chain, all run as Spark jobs. */
class TypedPostParitySpec extends AnyFunSuite with SparkSuite {

  private val client = HttpClient.newHttpClient()
  private val now = 1704067200000L
  private val maxAgeMs = 10L * 86400000L
  private val maxFutureMs = 10L * 60 * 1000
  private val (lo, hi) = IngestStream.batchBounds(0L, Long.MaxValue,
    Some(maxAgeMs), Some(maxFutureMs), now)
  private val t = now - 3600000L

  private def post(url: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build(), HttpResponse.BodyHandlers.ofString())

  // ---- the oracle: the facade's former Spark front end -------------------

  private def oracleParsed(s: SparkSession, body: String, tenant: String,
      scoped: Boolean): DataFrame = {
    import s.implicits._
    val lines = Seq(body).toDF("body")
      .select(explode(from_json(col("body"), DataType.fromDDL(
        "array<struct<tenantId:string, metricName:string, " +
          "metricValue:variant, collectionTime:bigint, " +
          "ttlInSeconds:int, unit:string>>"))).as("r"))
      .select(to_json(struct(
        (if (scoped) coalesce(col("r.tenantId"), lit(tenant))
         else lit(tenant)).as("tenant_id"),
        col("r.metricName").as("metric_name"),
        col("r.collectionTime").as("ts_ms"),
        col("r.metricValue").as("value"),
        col("r.ttlInSeconds").as("ttl_seconds"),
        col("r.unit").as("unit"))).as("value"))
    IngestStream.parseJsonTyped(lines)
  }

  /** One oracle record: (is string arm, valid, first failing source,
    * write-ready row values). */
  private def oracle(s: SparkSession, body: String, tenant: String,
      scoped: Boolean): Seq[(Boolean, Boolean, Option[String], Seq[Any])] = {
    val isStr = coalesce(col("is_string_typed") || col("is_bool"), lit(false))
    val src = when(col("metric_name").isNull ||
        length(col("metric_name")) === 0, lit("metricName"))
      .when(col("value").isNull ||
        (!isStr && col("value_num").isNull), lit("metricValue"))
      .when(col("ts_ms").isNull || !col("ts_ms").between(lo, hi),
        lit("collectionTime"))
      .when(col("ttl_seconds").isNotNull && col("ttl_seconds") <= 0,
        lit("ttlInSeconds"))
    oracleParsed(s, body, tenant, scoped).select(isStr,
        IngestStream.validExpr(col("value_num"), lo, hi),
        IngestStream.validExpr(col("value"), lo, hi), src,
        struct(col("tenant_id"), col("metric_name"), col("ts_ms"),
          col("value_num"), col("ttl_seconds"), col("unit")),
        struct(col("tenant_id"), col("metric_name"), col("ts_ms"),
          col("value"), col("ttl_seconds"), col("unit"), col("is_bool")))
      .collect().toSeq.map { r =>
        val str = r.getBoolean(0)
        (str, if (str) r.getBoolean(2) else r.getBoolean(1),
          Option(r.getString(3)),
          canon(r.getStruct(if (str) 5 else 4).toSeq))
      }
  }

  /** Exact comparison form: doubles by bit pattern (-0.0 ≠ 0.0). */
  private def canon(vs: Seq[Any]): Seq[Any] = vs.map {
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case u: UTF8String => u.toString
    case v => v
  }

  private def rowOf(r: InternalRow, schema: StructType): Seq[Any] =
    canon(r.toSeq(schema))

  private def message(source: String): String = source match {
    case "metricName" => "may not be empty"
    case "metricValue" => "is not a valid number"
    case "collectionTime" => s"out of bounds: must be within [$lo, $hi]"
    case _ => "must be positive"
  }

  private def rec(fields: String*) = fields.mkString("{", ", ", "}")
  private def ok(name: String, v: String, ts: Long = t) =
    rec(s""""metricName": "$name"""", s""""metricValue": $v""",
      s""""collectionTime": $ts""")

  /** Edge-case bodies, each posted to both the single-tenant and the
    * `/multi` route. */
  private val corpus: Seq[(String, String)] = Seq(
    "single object" -> ok("a.one", "1.5"),
    "array" -> s"[${ok("a.one", "1.5")}, ${ok("a.two", "2")}]",
    "quoted numeric stays a string" -> s"[${ok("s.code", "\"007\"")}]",
    "booleans" -> s"[${ok("s.flag", "true")}, ${ok("s.flag2", "false")}]",
    "null value" -> s"[${ok("n.null", "null")}]",
    "object and array values" ->
      s"""[${ok("n.obj", """{"x": 1}""")}, ${ok("n.arr", "[1, 2]")}]""",
    "int past Long" -> s"[${ok("n.big", "123456789012345678901234567890")}]",
    "float overflow" -> s"[${ok("n.inf", "1e400")}]",
    "negative zero" -> s"[${ok("n.zero", "-0.0")}, ${ok("n.zero2", "0.0")}]",
    "collectionTime past Long" ->
      s"""[${rec(""""metricName": "n.ts"""", """"metricValue": 1""",
        """"collectionTime": 123456789012345678901234567890""")}]""",
    "string collectionTime" ->
      s"""[${rec(""""metricName": "n.tss"""", """"metricValue": 1""",
        s""""collectionTime": "$t"""")}, ${ok("n.after", "2")}]""",
    "missing keys" ->
      s"""[${rec(""""metricValue": 1""", s""""collectionTime": $t""")},
         |${rec(""""metricName": "m.nots"""", """"metricValue": 1""")},
         |${rec(""""metricName": "m.noval"""", s""""collectionTime": $t""")}
         |]""".stripMargin,
    "duplicate keys" ->
      s"""[${rec(""""metricName": "d.a"""", """"metricName": "d.b"""",
        """"metricValue": 1""", """"metricValue": "x"""",
        s""""collectionTime": $t""")}]""",
    "escapes and non-BMP" ->
      s"""[${rec(""""metricName": "e.café 😀 \"q\" \\\\ \t"""",
        """"metricValue": "𝄞 tab\tnl\n"""",
        s""""collectionTime": $t""", """"unit": "µs 🔥"""")},
         |${rec(""""metricName": "e.raw😀"""", """"metricValue": 3""",
        s""""collectionTime": $t""", """"unit": "🔥"""")}]""".stripMargin,
    "tenantId present or absent" ->
      s"""[${rec(""""tenantId": "other"""", """"metricName": "t.one"""",
        """"metricValue": 1""", s""""collectionTime": $t""")},
         |${ok("t.two", "2")},
         |${rec(""""tenantId": null""", """"metricName": "t.three"""",
        """"metricValue": 3""", s""""collectionTime": $t""")}]""".stripMargin,
    "ttl at or below zero" ->
      s"""[${rec(""""metricName": "l.zero"""", """"metricValue": 1""",
        s""""collectionTime": $t""", """"ttlInSeconds": 0""")},
         |${rec(""""metricName": "l.neg"""", """"metricValue": "up"""",
        s""""collectionTime": $t""", """"ttlInSeconds": -5""")},
         |${rec(""""metricName": "l.big"""", """"metricValue": 1""",
        s""""collectionTime": $t""", """"ttlInSeconds": 99999999999""")},
         |${rec(""""metricName": "l.ok"""", """"metricValue": 1""",
        s""""collectionTime": $t""", """"ttlInSeconds": 60""")}]""".stripMargin,
    "out of window and empty name" ->
      s"""[${ok("w.old", "1", now - 30L * 86400000L)}, ${ok("", "\"s\"")},
         |${ok("w.future", "1", now + 86400000L)}, ${ok("w.ok", "1")}]""".stripMargin,
    "all invalid" -> s"[${ok("", "1")}]",
    "not json" -> "not json",
    "empty body" -> "",
    "truncated" -> s"[${ok("x.t", "1")}",
    "array of scalars" -> "[1, 2]",
    "bare string" -> "\"str\"",
    "json null" -> "null",
    "empty array" -> "[]",
    "empty object" -> "{}",
    "null element" -> s"[null, ${ok("x.n", "1")}]",
    "trailing garbage" -> s"[${ok("x.g", "1")}] tail")

  test("driver parse ≡ the Spark pipeline: accepted rows, error arrays, " +
    "status codes and Cannot parse content 400s over the edge-case corpus") {
    val store = java.nio.file.Files.createTempDirectory("graft_tpp").toString
    val srv = new MetricsHttpServer(spark, store, nowMs = () => now,
      maxAgeMs = maxAgeMs, maxFutureMs = maxFutureMs, deferRollups = true,
      rollupDelayMs = Long.MaxValue / 4)
    srv.start()
    val ingestSession = IngestStream.newIngestSession(spark)
    val parser = new TypedPost.Parser(ingestSession)
    val seen = scala.collection.mutable.Set.empty[String]
    try {
      for ((what, body) <- corpus; scoped <- Seq(false, true)) {
        val clue = s"[$what, scoped=$scoped] body: $body"
        val expect = Try(oracle(ingestSession, body, "acme", scoped))
        val got = Try(parser.parse(body, "acme", scoped, lo, hi))
        val resp = post(s"http://127.0.0.1:${srv.boundPort}/v2.0/acme/ingest" +
          (if (scoped) "/multi" else ""), body)
        assert(expect.isSuccess === got.isSuccess, s"$clue: $expect vs $got")
        if (expect.isFailure) assert(resp.statusCode() === 500, clue)
        else {
          val recs = expect.get
          val p = got.get
          assert(p.nTotal === recs.size.toLong, clue)
          val errs = recs.collect { case (_, _, Some(src), row) =>
            (Option(row(0)).fold("")(_.toString),
              Option(row(1)).fold("")(_.toString), src,
              Option(row(2)).map(_.asInstanceOf[Long]))
          }
          assert(p.errors.toSeq === errs, clue)
          def arm(str: Boolean, valid: Boolean) =
            recs.collect { case (`str`, `valid`, _, row) => row }
          val dayOf = (r: Seq[Any]) => { val ts = r(2).asInstanceOf[Long]; ts - ts % 86400000L }
          assert(p.numeric.map { case (d, r) => (d, rowOf(r, TypedPost.NumericSchema)) } ===
            arm(false, true).map(r => (dayOf(r), r)), clue)
          assert(p.numericRejects.map(rowOf(_, TypedPost.NumericSchema)) ===
            arm(false, false), clue)
          assert(p.strings.map { case (d, r) => (d, rowOf(r, TypedPost.StringSchema)) } ===
            arm(true, true).map(r => (dayOf(r), r)), clue)
          assert(p.stringRejects.map(rowOf(_, TypedPost.StringSchema)) ===
            arm(true, false), clue)
          val withMsg = errs.map { case (t0, n0, s, ts) => (t0, n0, s, message(s), ts) }
          val (status, json) =
            if (recs.isEmpty) (400, MetricsHttpServer.errJson("Cannot parse content"))
            else if (errs.size == recs.size) (400, MetricsHttpServer.errorsJson(withMsg))
            else if (errs.nonEmpty) (207, MetricsHttpServer.errorsJson(withMsg))
            else (200, "{}")
          assert((resp.statusCode(), resp.body()) === ((status, json)), clue)
          seen += (if (recs.isEmpty) "unparsed" else status.toString)
          if (p.strings.nonEmpty) seen += "string"
          errs.foreach(e => seen += e._3)
        }
      }
      // the corpus reaches every outcome and every error source
      assert(seen === Set("200", "207", "400", "unparsed", "string",
        "metricName", "metricValue", "collectionTime", "ttlInSeconds"))
    } finally srv.stop()
  }

  // ---- store-file parity ---------------------------------------------------

  private val storeBodies = Seq(
    s"""[${ok("p.cpu", "1.5", t)}, ${ok("p.cpu", "2.5", t - 86400000L)},
       |${rec(""""metricName": "p.cpu"""", """"metricValue": 3""",
      s""""collectionTime": ${t + 1000}""", """"unit": "ms"""")},
       |${rec(""""metricName": "p.cpu"""", """"metricValue": 4""",
      s""""collectionTime": ${t + 2000}""", """"unit": "µs"""")},
       |${rec(""""metricName": "p.mem"""", """"metricValue": 5""",
      s""""collectionTime": $t""", """"unit": "🔥"""",
      """"ttlInSeconds": 600""")}]""".stripMargin,
    s"""[${ok("p.mode", "\"007\"")}, ${ok("p.up", "true")},
       |${ok("", "\"bad\"")}, ${ok("p.old", "\"x\"", now - 30L * 86400000L)},
       |${ok("", "1")}, ${ok("p.nan", """{"k": 1}""")},
       |${rec(""""metricName": "p.ttl"""", """"metricValue": 1""",
      s""""collectionTime": $t""", """"ttlInSeconds": 0""")},
       |${ok("p.cpu", "6", t + 3000)}]""".stripMargin,
    s"""[${ok("p.mode", "\"008\"", t + 5000)}]""")

  private val tables = Seq("metrics_full", "metrics_errors", "metrics_string",
    "metrics_string_errors", "metric_catalog")

  test("store-file parity: the facade's driver-written tables equal " +
    "processTypedBatch's, read back unschema'd; the codec follows the " +
    "session conf") {
    val root = java.nio.file.Files.createTempDirectory("graft_tps").toString
    val (viaPost, viaSpark) = (s"$root/post", s"$root/spark")
    val zstd = spark.newSession()
    zstd.conf.set("spark.sql.parquet.compression.codec", "zstd")
    val srv = new MetricsHttpServer(zstd, viaPost, nowMs = () => now,
      maxAgeMs = maxAgeMs, maxFutureMs = maxFutureMs, deferRollups = true,
      rollupDelayMs = Long.MaxValue / 4)
    srv.start()
    try {
      for (b <- storeBodies) {
        val r = post(s"http://127.0.0.1:${srv.boundPort}/v2.0/acme/ingest", b)
        assert(r.statusCode() < 300, r.body())
      }
    } finally srv.stop()
    storeBodies.zipWithIndex.foreach { case (b, i) =>
      IngestStream.processTypedBatch(oracleParsed(spark, b, "acme", false),
        viaSpark, batchId = i.toLong, minTs = lo, maxTs = hi, rollup = false)
    }
    for (table <- tables) {
      val a = spark.read.parquet(s"$viaPost/$table").drop("batch_id")
      val b = spark.read.parquet(s"$viaSpark/$table").drop("batch_id")
      assert(a.schema === b.schema, table)
      assert(a.count() > 0, table)
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
        s"$table differs:\n${a.collect().mkString("\n")}\nvs\n" +
          b.collect().mkString("\n"))
    }
    // every committed file is zstd-coded, by name and by footer
    val fs = new org.apache.hadoop.fs.Path(viaPost)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = tables.flatMap { table =>
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$viaPost/$table"), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet")).toSeq
    }
    assert(files.nonEmpty)
    files.foreach { p =>
      assert(p.getName.endsWith(".zstd.parquet"), p)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
          spark.sparkContext.hadoopConfiguration))
      try {
        val cols = reader.getFooter.getBlocks.get(0).getColumns
        assert(cols.get(0).getCodec ===
          org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD, p)
      } finally reader.close()
    }
  }

  test("a store under `.x`/`_x` path components serves what it ingested") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tph").toString
    val store = s"$tmp/.hidden/_x/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
    val srv = new MetricsHttpServer(spark, store, nowMs = () => now,
      maxAgeMs = maxAgeMs, maxFutureMs = maxFutureMs)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val r = post(s"$base/v2.0/acme/ingest",
        s"[${ok("h.one", "4.5")}, ${ok("h.mode", "\"on\"")}]")
      assert(r.statusCode() === 200, r.body())
      assert(IngestStream.hasParquetData(spark, s"$store/metrics_full"))
      assert(IngestStream.metricCatalog(spark, store).isDefined,
        "first batch on the store must mark the catalog complete")
      assert(graft.core.SnapshotStore.read(spark, s"$store/metrics_5m").isDefined)
      def view(name: String, res: String) = {
        val v = client.send(HttpRequest.newBuilder(URI.create(
            s"$base/v2.0/acme/views/$name?from=${t / 1000 - 600}" +
              s"&to=${now / 1000}&resolution=$res")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(v.statusCode() === 200, v.body())
        v.body()
      }
      assert(view("h.one", "full").contains(s""""timestamp": $t"""))
      assert(view("h.one", "5m").contains(""""num_points": 1"""))
      assert(view("h.mode", "full").contains(""""value": "on""""))
    } finally srv.stop()
  }
}
