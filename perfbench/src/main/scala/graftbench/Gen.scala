package graftbench

/** Seeded input generator. Every value is a pure function of the seed, the
  * locator and the timestamp, so a checker can recompute what any request
  * wrote without keeping it.
  *
  * Locators follow an agent fleet: `svc<i>.host<j>.<group>.m<k>` under a
  * few tenants, one point per locator every [[StepMs]]. */
final class Gen(val seed: Long, val tenants: Int, val services: Int,
    val hostsPerService: Int, val metricsPerHost: Int) {
  import Gen._

  final case class Host(tenant: String, prefix: String) {
    def metrics: IndexedSeq[String] =
      (0 until metricsPerHost).map(k => s"$prefix.${metricName(k)}")
  }

  val hosts: IndexedSeq[Host] = for {
    t <- 0 until tenants
    s <- 0 until services
    h <- 0 until hostsPerService
  } yield Host(s"t$t", s"svc$s.host$h")

  /** (tenant, metric name) of every locator, host-major. */
  val locators: IndexedSeq[(String, String)] =
    hosts.flatMap(h => h.metrics.map(h.tenant -> _))

  def rng(stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + stream))

  /** The value a locator reports at `ts`: a per-locator level plus noise. */
  def value(tenant: String, name: String, ts: Long): Double = {
    val h = mix(seed ^ (tenant.hashCode.toLong << 32) ^ name.hashCode.toLong)
    val level = (h >>> 40) % 1000
    val noise = (mix(h ^ ts) >>> 11).toDouble / (1L << 53)
    // two decimals: stored and recomputed sums stay comparable
    math.round((level + noise * 100.0) * 100.0) / 100.0
  }

  /** True for the ~1% of records the generator makes invalid. */
  def invalid(tenant: String, name: String, ts: Long): Boolean =
    (mix(seed ^ 0x5DEECE66DL ^ name.hashCode.toLong ^ (ts * 31) ^ tenant.hashCode) >>> 1) % 100 == 0
}

object Gen {
  val StepMs: Long = 300000L
  val DayMs: Long = 86400000L
  /** A fixed Monday 00:00 UTC; every workload's timeline is relative to it. */
  val Epoch: Long = 1704672000000L

  private val groups = Vector("cpu", "mem", "disk", "net", "app", "jvm")
  def metricName(k: Int): String = s"${groups(k % groups.size)}.m${k / groups.size}"

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
