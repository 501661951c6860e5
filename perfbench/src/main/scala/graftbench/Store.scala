package graftbench

import java.io.File

/** On-disk footprint of a store, per table. */
object Store {
  val Tables: Seq[String] = Seq("metrics_full", "metrics_5m", "metrics_20m",
    "metrics_60m", "metrics_240m", "metrics_1440m", "metric_catalog", "preagg_raw")

  /** The local directory of a store root given as a path or `file:` path. */
  private def local(store: String): File = new File(store.stripPrefix("file:"))

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Nil

  /** Parquet data files and their bytes under one table directory. */
  def table(store: String, t: String): (Int, Long) = {
    val fs = files(new File(local(store), t)).filter(_.getName.endsWith(".parquet"))
    (fs.size, fs.map(_.length).sum)
  }

  /** Bytes of every file under the store, checksums included. */
  def bytes(store: String): Long = files(local(store)).map(_.length).sum

  def fileCount(store: String): Int = files(local(store)).size

  def exists(store: String, t: String): Boolean = new File(local(store), t).exists

  /** core.files.<table> and core.mb.<table> for every tracked table. */
  def layerMetrics(store: String): Seq[(String, Double)] =
    Tables.flatMap { t =>
      val (n, b) = table(store, t)
      Seq(s"core.files.$t" -> n.toDouble, s"core.mb.$t" -> Stats.mb(b))
    }
}
