package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-local parquet writes for request-sized batches — the same
  * `ParquetWriteSupport` (schema conversion, footer row metadata, codec)
  * a Spark file write runs inside its tasks, called directly from the
  * driver, so a few hundred rows commit with ZERO Spark jobs. The
  * reference's ingest node writes each HTTP batch in-process the same way
  * (BatchWriter.java:77-148 in rax-maas/blueflood); Spark stays the write
  * path for bulk micro-batches.
  *
  * Files are written exactly as Spark's parquet source writes them: the
  * Hadoop conf of the session (`newHadoopConf`, so `parquet.*` overrides
  * apply), the write-support keys `ParquetUtils.prepareWrite` sets, the
  * codec from `spark.sql.parquet.compression.codec`, every column
  * nullable, `part-00000-<uuid>-c000<codec ext>.parquet` names, and
  * partition columns as `col=value` directories, never in the file. A
  * batch dir is staged hidden (`.staging-<id>`, invisible to discovery)
  * and unhidden by ONE rename ([[commit]]), so a crash never leaves a
  * torn file where a reader can see it. */
object LocalParquet {

  /** Rows of one output dir: (partition subdir, e.g. `ts_day=D`, or ""
    * for an unpartitioned dir) → rows in write order. */
  type Parts = Seq[(String, Seq[InternalRow])]

  /** `<table>/.staging-<id>` and `<table>/batch_id=<id>`: the hidden
    * stage of one batch dir and the visible name [[commit]] gives it. */
  def batchDirs(table: String, batchId: Long): (Path, Path) =
    (new Path(s"$table/.staging-$batchId"), new Path(s"$table/batch_id=$batchId"))

  /** Write `parts` under the (fresh) hidden `stage` dir, one file per
    * partition subdir. A leaked stage from a crashed attempt of the same
    * batch is replaced. */
  def stage(spark: SparkSession, stage: Path, schema: StructType,
      parts: Parts): Unit = {
    val conf = writeConf(spark, schema)
    val codec = CompressionCodecName.fromConf(
      new ParquetOptions(Map.empty[String, String], sqlConf(spark))
        .compressionCodecClassName)
    val fs = stage.getFileSystem(conf)
    fs.delete(stage, true)
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000" +
      s"${codec.getExtension}.parquet"
    for ((sub, rows) <- parts) {
      val file = if (sub.isEmpty) new Path(stage, name)
                 else new Path(new Path(stage, sub), name)
      val w = new ParquetOutputFormat[InternalRow]()
        .getRecordWriter(conf, file, codec, ParquetFileWriter.Mode.CREATE)
      try rows.foreach(w.write(null, _))
      finally w.close(null)
    }
  }

  /** Unhide a staged dir as `target` with one rename; a replayed batch id
    * replaces its previous dir (overwrite, never duplicate). */
  def commit(fs: FileSystem, stage: Path, target: Path): Unit = {
    if (fs.exists(target)) fs.delete(target, true)
    require(fs.rename(stage, target), s"batch commit rename failed for $target")
  }

  /** [[stage]] then [[commit]]: a whole batch dir, unhidden at once. */
  def writeBatch(spark: SparkSession, table: String, batchId: Long,
      schema: StructType, parts: Parts): Unit = {
    val (s, t) = batchDirs(table, batchId)
    stage(spark, s, schema, parts)
    commit(s.getFileSystem(spark.sparkContext.hadoopConfiguration), s, t)
  }

  private def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf

  /** The keys `ParquetUtils.prepareWrite` sets before a Spark task opens
    * its `ParquetOutputWriter`, on the session's Hadoop conf. Spark writes
    * every file column as nullable; so does this. */
  private def writeConf(spark: SparkSession, schema: StructType): Configuration = {
    val sql = sqlConf(spark)
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    ParquetWriteSupport.setSchema(
      StructType(schema.fields.map(_.copy(nullable = true))), conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sql.legacyParquetNanosAsLong.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf
  }
}
