package graft.streaming

import graft.model.FetchEvent
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming view over the crawl's fetch-event log. The batch
  * engine commits fetch_events per generation; operationally the same log
  * is a stream (monitoring, live politeness auditing, per-host rate
  * dashboards). This module exposes the streaming operators the north-rule
  * pipeline needs:
  *
  *  - [[fetchEventStream]]: file-source stream over the fetch_events
  *    snapshot data (new snapshot files are discovered incrementally —
  *    exactly how a downstream consumer tails the table)
  *  - [[windowedHostCounts]]: watermarked tumbling-window fetch counts per
  *    host (event time = virtual scheduled_ms)
  *  - [[politenessAudit]]: flatMapGroupsWithState keyed by host holding the
  *    last scheduled fetch time, emitting a violation row whenever two
  *    consecutive fetches are closer than the host's min delay — the
  *    streaming-stateful form of the politeness invariant the batch tests
  *    assert.
  */
object FetchStream {

  final case class Violation(host: String, prev_ms: Long, cur_ms: Long, min_delay_ms: Long)

  /** Event-time column: the virtual clock epoch-anchored (deterministic). */
  private def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_time", timestamp_millis(col("scheduled_ms")))

  def fetchEventStream(spark: SparkSession, dataDir: String): DataFrame = {
    val schema = org.apache.spark.sql.Encoders.product[FetchEvent].schema
    withEventTime(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 4).parquet(dataDir))
  }

  /** Tumbling 1-minute (virtual time) fetch counts per host with a
    * 2-minute watermark — the standard late-data-bounded monitoring agg.
    */
  def windowedHostCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "2 minutes")
      .groupBy(window(col("event_time"), "1 minute"), col("host"))
      .agg(count(lit(1)).as("n_fetches"))
      .select(col("window.start").as("window_start"), col("host"), col("n_fetches"))

  /** Streaming URL dedup: event-time watermark +
    * dropDuplicatesWithinWatermark on url — the stateful streaming form of
    * the batch engine's first-seen-wins rule. The WithinWatermark variant is
    * what actually bounds state on an unbounded stream: plain
    * dropDuplicates("url") without the event-time column in the key NEVER
    * evicts (state grows with every distinct url forever); here each url's
    * state row is dropped once the watermark passes its event time, so the
    * store holds only the watermark horizon's urls. Semantics: a url
    * recurring AFTER the horizon re-emits — that duplicate is the exact
    * anti-join tier's job in the batch engine; the stream operator is the
    * bounded-memory first line.
    */
  def streamingSeenDedup(events: DataFrame, watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("url")
      .select(col("url"), col("host"), col("event_time"))

  final case class HostCount(host: String, n_scheduled: Long)

  /** Cumulative per-host fetch counts as a stateful stream: state is ONE
    * long per host (bounded by host count — the partitioning the whole
    * engine is built around), and every micro-batch emits the updated
    * cumulative count for each host that appeared in it. The LATEST row
    * per host is the host's lifetime fetch count, so a live dashboard can
    * rank hot hosts without waiting for a batch job.
    */
  def runningHostCounts(events: Dataset[FetchEvent]): Dataset[HostCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.host).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (host: String, evs: Iterator[FetchEvent], state: GroupState[Long]) => {
        val n = state.getOption.getOrElse(0L) + evs.size
        state.update(n)
        Iterator(HostCount(host, n))
      })
  }

  /** The top-k ranking over a sink of [[runningHostCounts]] updates: the
    * latest (= maximum, counts are monotone) cumulative count per host,
    * ranked (count desc, host).
    */
  def hotHostTopK(counts: DataFrame, k: Int): DataFrame =
    counts.groupBy(col("host")).agg(max(col("n_scheduled")).as("n_scheduled"))
      .orderBy(col("n_scheduled").desc, col("host")).limit(k)

  /** Stateful per-host audit: keeps the latest scheduled time per host,
    * emits a Violation for any pair of consecutive events closer than the
    * host's min delay. State is one long per host — bounded by host count,
    * the partitioning the whole engine is built around.
    */
  def politenessAudit(events: Dataset[FetchEvent]): Dataset[Violation] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.host).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (host: String, evs: Iterator[FetchEvent], state: GroupState[Long]) => {
        val sorted = evs.toSeq.sortBy(e => (e.scheduled_ms, e.url))
        var last = state.getOption.getOrElse(Long.MinValue)
        val out = Seq.newBuilder[Violation]
        sorted.foreach { e =>
          if (last != Long.MinValue && e.scheduled_ms - last < e.min_delay_ms)
            out += Violation(host, last, e.scheduled_ms, e.min_delay_ms)
          last = math.max(last, e.scheduled_ms)
        }
        if (last != Long.MinValue) state.update(last)
        out.result().iterator
      })
  }
}
