package perfbench

/** One clock for every stamp of a run: epoch microseconds derived from
  * `nanoTime`, so a creation stamp written by the generator and a
  * receipt stamp taken at the broker stub subtract without wall-clock
  * steps in between.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def nowMs: Double = nowUs / 1000.0
}

object Stats {
  /** Nearest-rank percentile (q in [0, 1]) of unsorted samples; NaN when
    * there are none.
    */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** JSON output for the result line, the summary and the trace file:
  * Scala maps (`ListMap` keeps key order), sequences and numbers go
  * through Jackson's Scala module; a NaN becomes null.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def num(d: Double): Option[Double] = if (d.isNaN || d.isInfinite) None else Some(d)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Triggers {
  /** Progress reports of the triggers of `queries` (restarted ones
    * included) that started at or after `sinceMs` and read input.
    */
  def of(queries: Seq[org.apache.spark.sql.streaming.StreamingQuery], sinceMs: Long)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    queries.flatMap(_.recentProgress).filter(p => p.numInputRows > 0 &&
      java.time.Instant.parse(p.timestamp).toEpochMilli >= sinceMs)
}

/** What one timed phase of a workload produced. `attempted` counts rows
  * (or changes) plus triggers; `failed` counts rows missing or wrong
  * plus triggers that failed.
  */
final case class Outcome(
    delivered: Long,
    timedSec: Double,
    latenciesMs: Seq[Double],
    triggerSec: Seq[Double],
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    layers: Map[String, Double]) {
  def endToEnd(setupS: Double): Seq[(String, String, Double)] = Seq(
    ("setup_s", "s", setupS),
    ("latency_p50_ms", "ms", Stats.pct(latenciesMs, 0.50)),
    ("latency_p99_ms", "ms", Stats.pct(latenciesMs, 0.99)),
    ("throughput_rows_per_s", "1/s", delivered / timedSec),
    ("trigger_p50_s", "s", Stats.median(triggerSec)))
}

/** A workload: `setup` builds everything a timed phase needs (timed by
  * the runner `setups` times, of which the first is cold), `run`
  * measures for `seconds` and checks its outputs against the
  * generator's reference.
  */
trait Workload {
  type Handle
  def setups: Int = 5
  def setup(i: Int): Handle
  def run(h: Handle, seconds: Int, probe: Option[Probe]): Outcome
  def teardown(h: Handle): Unit
}
