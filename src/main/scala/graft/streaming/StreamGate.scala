package graft.streaming

import org.apache.spark.sql.{DataFrame, DataFrameReader, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery,
  StreamingQueryProgress, Trigger}

/** The one stream loop every pulsarlike gate runs: subscribe to a topic
  * in the local store from Earliest with a capped batch, run the frame
  * as a `Trigger.AvailableNow` query into a foreachBatch body, wait for
  * it with a bound, stop it whatever happens. The run-once trigger is
  * Structured Streaming's (SIGMOD 2018) rendering of the reference's
  * subscribe → take a capped batch → process → ack loop.
  *
  * A site's extra source options (`startingTime`, `subscriptionName`,
  * `enableTransaction`, …) stay `.option` calls at the site.
  */
object StreamGate {

  /** The longest any gate may wait for its AvailableNow run. The
    * slowest gate drains in seconds at sf0.1, so the bound is not a
    * pacing knob: it turns a hung stream into a loud error that names
    * its checkpoint, instead of a run that never returns. */
  val AwaitBoundMs: Long = 60L * 60L * 1000L

  /** path / serviceUrl / topicNames / batchingMaxMessages — the options
    * every reader and writer of a store topic carries. */
  def topicOptions(root: String, topics: String, cap: Long): Map[String, String] =
    store(root, "topicNames", topics, cap)

  /** [[topicOptions]] for a `topicsPattern` subscription. */
  def patternOptions(root: String, pattern: String, cap: Long): Map[String, String] =
    store(root, "topicsPattern", pattern, cap)

  private def store(root: String, key: String, topics: String, cap: Long) =
    Map("path" -> root, "serviceUrl" -> "pulsar://local", key -> topics,
      "batchingMaxMessages" -> cap.toString)

  /** Batch reader over `topics` (comma-separated). */
  def batch(s: SparkSession, root: String, topics: String, cap: Long): DataFrameReader =
    s.read.format("pulsarlike").options(topicOptions(root, topics, cap))

  /** Stream reader over `topics`, subscribed from Earliest. */
  def stream(s: SparkSession, root: String, topics: String, cap: Long): DataStreamReader =
    s.readStream.format("pulsarlike").options(topicOptions(root, topics, cap))
      .option("subscriptionInitialPosition", "Earliest")

  /** Run `ds` to the end of its input as one AvailableNow query on
    * checkpoint `ckpt`, handing each micro-batch to `body`. Returns the
    * query's progress events (observed metrics, state counters). */
  def run[T](ds: Dataset[T], ckpt: String, outputMode: String = "append")
      (body: (Dataset[T], Long) => Unit): Array[StreamingQueryProgress] =
    await(ds.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt)
      .foreachBatch(body)
      .trigger(Trigger.AvailableNow())
      .start(), ckpt)

  /** [[run]] with every micro-batch landed by [[BatchLanding.land]]
    * under `outDir`. */
  def land(df: DataFrame, ckpt: String, outDir: String,
      outputMode: String = "append"): Array[StreamingQueryProgress] =
    run(df, ckpt, outputMode)((b, bid) => BatchLanding.land(b, outDir, bid))

  /** Wait for a started AvailableNow query with the fixed bound. The
    * stream's own failure is rethrown; the query is stopped on every
    * exit, so none outlives its gate. */
  def await(q: StreamingQuery, ckpt: String): Array[StreamingQueryProgress] =
    awaitWithin(q, ckpt, AwaitBoundMs)

  private[streaming] def awaitWithin(q: StreamingQuery, ckpt: String,
      boundMs: Long): Array[StreamingQueryProgress] =
    try {
      if (!q.awaitTermination(boundMs))
        throw new java.util.concurrent.TimeoutException(
          s"stream on checkpoint $ckpt did not finish within $boundMs ms; stopped")
      q.recentProgress
    } finally q.stop()

  /** Set session confs for the duration of `body`, restoring (or
    * unsetting) each afterwards even on failure — an override left
    * behind would leak into every later query of a shared session. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) =>
      k -> scala.util.Try(Option(s.conf.get(k))).toOption.flatten }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(p)) => s.conf.set(k, p)
      case (k, None) => s.conf.unset(k)
    }
  }
}
