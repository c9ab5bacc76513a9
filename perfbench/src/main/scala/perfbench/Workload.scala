package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** One benchmark workload on one session. [[setup]] makes the inputs,
  * [[warmup]] warms the engine, [[measure]] runs operations
  * until the window closes and checks every operation's output. An
  * operation record is a map with `kind`, `timed` (whether it is a
  * measured operation), `items` (input items it completed), `ok`, and
  * either `latency` (`[seconds, count]` pairs) or, for the live relay,
  * `rows` (`[batch id, due ms, count]` triples) with the epochs'
  * completion times in the window's `epoch_ends`.
  */
abstract class Workload(val ctx: Workload.Ctx) {
  protected var rec: Recorder = ctx.rec
  protected def spark: SparkSession = ctx.spark

  /** Phase times in seconds: `inputs_s`, the time to make the inputs. */
  def setup(): Map[String, Double]
  def warmup(): Unit
  def measure(seconds: Double): Map[String, Any]

  def withRecorder(r: Recorder): Workload = { rec = r; this }

  /** Runs `body`, turning an exception into a failed operation. */
  protected def guarded(start: Double)(body: => Map[String, Any]): Map[String, Any] =
    try body catch { case e: Exception => failed(start, e) }

  protected def failed(start: Double, e: Exception): Map[String, Any] =
    Map("kind" -> "error", "timed" -> false, "start_ms" -> start,
      "end_ms" -> rec.nowMs, "items" -> 0L, "ok" -> false,
      "error" -> String.valueOf(e.getMessage).take(500))

  /** Completion time of each epoch of a finished query, by batch id. */
  protected def epochEnds(q: StreamingQuery): Map[Long, Double] =
    q.recentProgress.map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
    }.toMap
}

object Workload {
  type Ctx = Main.Ctx

  val byName: Map[String, Ctx => Workload] = Map(
    "relay_live" -> (c => new RelayLive(c)),
    "queries" -> (c => new QueriesWorkload(c)))

  def jsonKeys(ends: Map[Long, Double]): Map[String, Double] =
    ends.map { case (b, t) => b.toString -> t }
}
