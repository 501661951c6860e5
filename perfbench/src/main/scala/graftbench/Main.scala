package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Everything a workload needs for one run. `work` is a scratch directory
  * private to the run; `data` holds the registry's input tables. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Int, work: String, data: String, cpus: Int,
    sessionSeconds: Double) {
  def traced: Boolean = tracer.traced
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** `dir(name)` as a `file:` path, for store roots handed to the engine.
    * Its store probes strip the root's string from the paths a listing
    * returns, which are qualified; an unqualified root would leave the
    * checkout's own path in them, and a component of it that starts with
    * `.` or `_` would hide every file, so the store would read as empty. */
  def qualified(name: String): String = "file:" + Paths.get(dir(name)).toAbsolutePath
}

/** What a run reports: operation counts, the end-to-end metrics, the
  * per-layer metrics (traced runs) and free-form detail for the log. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  /** Records a failed output check; the run then reports correct=false. */
  def problem(msg: String): Unit = {
    problems += msg
    System.err.println(s"[graftbench] CHECK FAILED: $msg")
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val host0 = Host.sample()
    val spark = session(cpus, work)
    val sessionSeconds = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = Ctx(spark, new Tracer(spark.sparkContext, opts("trace") == "1"),
      opts("seed").toLong, opts("seconds").toInt, work, opts("data"), cpus,
      sessionSeconds)
    val out =
      try workload match {
        case "ingest" => IngestWorkload.run(ctx)
        case "dashboard" => DashboardWorkload.run(ctx)
        case "registry" => RegistryWorkload.run(ctx)
        case "plan-audit" => PlanAudit.run(ctx, opts("out"))
        case "registry-record" => RegistryWorkload.record(ctx, opts("out"))
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      } catch {
        case e: Throwable =>
          // a facade's worker threads are not daemons: exit, do not hang
          e.printStackTrace()
          System.exit(1)
          throw e
      } finally ctx.tracer.close()
    out.detail("workload_s") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - sessionSeconds
    val host1 = Host.sample()
    out.e2e("rss_peak_mb") = Host.peakRssMb()
    out.detail("host.nproc") = Runtime.getRuntime.availableProcessors
    out.detail("host.spark_graft_cpus") = sys.env.getOrElse("SPARK_GRAFT_CPUS", "")
    out.detail("host.local_cpus") = cpus
    out.detail("host.steal_pct") = Host.stealPct(host0, host1)
    out.detail("problems") = out.problems.take(20).toSeq
    val stopT0 = System.nanoTime()
    spark.stop()
    out.detail("stop_s") = (System.nanoTime() - stopT0) / 1e9
    val json = Json.obj(Seq(
      "correct" -> out.problems.isEmpty,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> (out.e2e ++ (if (ctx.traced) out.layer else Nil)).toSeq,
      "detail" -> out.detail.toSeq))
    println("GRAFTBENCH_RESULT " + json)
    System.out.flush()
    System.exit(0)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Host conditions recorded beside every run. */
object Host {
  final case class Cpu(total: Long, steal: Long)

  def sample(): Cpu =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.split("\\s+").drop(1).map(_.toLong)
      Cpu(f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => Cpu(0L, 0L) }

  def stealPct(a: Cpu, b: Cpu): Double =
    if (b.total <= a.total) 0.0 else 100.0 * (b.steal - a.steal) / (b.total - a.total)

  /** CPU time this JVM has used outside its JIT compiler threads, in
    * nanoseconds. In a fresh JVM the compiler threads used more CPU than
    * the program itself over a 20 s ingest phase, and how much of it falls
    * in a run moved with the host's load; a server pays it once. */
  def cpuNs(): Long = processCpuNs() - jitCpuNs()

  /** CPU time this JVM has used, all threads, in nanoseconds. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time the JIT compiler threads have used, in nanoseconds, from
    * /proc (clock ticks of 10 ms). The JVM runs with a fixed set of
    * compiler threads, so none exits and takes its time with it. */
  def jitCpuNs(): Long =
    try {
      Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten.map { t =>
        val stat = try new String(java.nio.file.Files.readAllBytes(
          new java.io.File(t, "stat").toPath)) catch { case _: java.io.IOException => "" }
        val close = stat.lastIndexOf(')')
        if (close < 0 || !stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) 0L
        else {
          // after the command: state, ppid, ..., utime (field 14), stime (15)
          val f = stat.substring(close + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      }.sum * 10000000L
    } catch { case _: Exception => 0L }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}

/** Minimal JSON writer for the result line. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case kvs: Seq[_] if kvs.nonEmpty && kvs.forall(_.isInstanceOf[(_, _)]) =>
      obj(kvs.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
