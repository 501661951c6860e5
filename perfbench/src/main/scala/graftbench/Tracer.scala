package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** One timed operation: an HTTP request, a direct library call or a
  * streaming backfill. Wall and CPU time are always recorded; the Spark
  * counters fill in only when a [[Tracer]] listener is installed. */
final class Span(val id: Long, val kind: String) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  private val cpuStartNs: Long = Host.cpuNs()
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = 0L
  /** CPU the whole JVM used while the span was open: exact for spans run
    * one at a time, an upper bound when others overlap. */
  @volatile var cpuNs: Long = 0L
  /** Outcome the workload assigns after checking the response. */
  @volatile var ok: Boolean = true
  val jobs = new AtomicInteger
  /** Untagged jobs that started while this span and another were both in
    * flight: they belong to no span, and mark this span as not clean. */
  val ambiguousJobs = new AtomicInteger
  val jobWallMs = new AtomicLong
  val taskMs = new AtomicLong
  val maxTaskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val recordsRead = new AtomicLong

  def wallMs: Double = (endNs - startNs) / 1e6
  def cpuMs: Double = cpuNs / 1e6
  private[graftbench] def close(): Unit = {
    endNs = System.nanoTime()
    endMs = System.currentTimeMillis()
    cpuNs = Host.cpuNs() - cpuStartNs
  }
  def clean: Boolean = ambiguousJobs.get == 0
  def covers(t: Long): Boolean = startMs <= t && t <= endMs
}

/** Times operations and, when `traced`, attributes every Spark job to the
  * operation that caused it. A direct library call runs under a job tag set
  * on the calling thread, so its jobs carry the tag wherever they are
  * submitted from; any other job (HTTP requests run on the server's worker
  * threads) goes to the only span in flight when it was submitted. A job
  * that overlaps two or more spans is counted as unattributed. Stage names
  * cannot do this: adaptive-execution stage jobs carry a
  * `CompletableFuture.java` call site. */
final class Tracer(sc: SparkContext, val traced: Boolean) extends SparkListener {
  private val ids = new AtomicLong
  private val all = new ConcurrentLinkedQueue[Span]
  private val byId = new ConcurrentHashMap[Long, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val jobSpan = new ConcurrentHashMap[Int, Span]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  val jobsTotal = new AtomicLong
  val jobsAmbiguous = new AtomicLong
  val taskMsTotal = new AtomicLong
  val spillBytesTotal = new AtomicLong

  if (traced) sc.addSparkListener(this)

  private val TagPrefix = "graftbench-span-"

  /** Run `f` as one span. `tagged` marks a direct library call made on
    * this thread (its jobs carry the span's job tag). Exceptions propagate
    * after the span is closed and marked failed. */
  def span[A](kind: String, tagged: Boolean = false)(f: => A): (A, Span) = {
    val s = new Span(ids.incrementAndGet(), kind)
    all.add(s)
    byId.put(s.id, s)
    val tag = TagPrefix + s.id
    if (traced && tagged) sc.addJobTag(tag)
    try {
      val a = f
      (a, s)
    } catch {
      case e: Throwable => s.ok = false; throw e
    } finally {
      if (traced && tagged) sc.removeJobTag(tag)
      s.close()
    }
  }

  def spans: Seq[Span] = all.asScala.toSeq
  def spans(kind: String): Seq[Span] = spans.filter(_.kind == kind)

  /** Waits until the listener bus has delivered every event so far. */
  def settle(): Unit = if (traced) org.apache.spark.graftbench.BusBridge.drain(sc)

  def close(): Unit = if (traced) sc.removeSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobsTotal.incrementAndGet()
    jobStart.put(js.jobId, js.time)
    val tags = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))
    val owner = tags.collectFirst {
      case t if t.startsWith(TagPrefix) => byId.get(t.stripPrefix(TagPrefix).toLong)
    }.flatMap(Option(_)).orElse {
      val live = all.asScala.filter(_.covers(js.time)).toSeq
      if (live.size > 1) {
        jobsAmbiguous.incrementAndGet()
        live.foreach(_.ambiguousJobs.incrementAndGet())
      }
      if (live.size == 1) live.headOption else None
    }
    owner.foreach { s =>
      s.jobs.incrementAndGet()
      jobSpan.put(js.jobId, s)
      js.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStart.remove(je.jobId))
    Option(jobSpan.remove(je.jobId)).foreach { s =>
      t0.foreach(t => s.jobWallMs.addAndGet(je.time - t))
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      taskMsTotal.addAndGet(m.executorRunTime)
      spillBytesTotal.addAndGet(m.diskBytesSpilled)
      Option(stageSpan.get(te.stageId)).foreach { s =>
        s.taskMs.addAndGet(m.executorRunTime)
        s.maxTaskMs.accumulateAndGet(m.executorRunTime, math.max)
        s.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        s.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  /** Share of jobs that overlapped more than one in-flight span. */
  def unattributedShare: Double =
    if (jobsTotal.get == 0) 0.0 else jobsAmbiguous.get.toDouble / jobsTotal.get
}

object Stats {
  /** Nearest-rank percentile; 0 for an empty sample (a layer the workload
    * never exercised). */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def mb(bytes: Long): Double = bytes / 1048576.0
}
