package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming trending top-k: per-day top event types with BOUNDED per-key
  * state — the streaming complement of the batch `q_trending` /
  * `q_heavy_hitters` pair, closing the Y4 streaming-parity gap.
  *
  * State per day is a Misra-Gries summary of at most `sketchK` counters —
  * the SAME kernel the batch heavy-hitter query uses
  * ([[graft.llm.HeavyHitters.MisraGries]].reduce, invoked directly on the
  * mutable state buffer), so per-key state is O(sketchK) REGARDLESS of the
  * number of distinct event types flowing through the window. That is the
  * property a 24/7 deployment needs: a plain streaming
  * `groupBy(day, type).count()` holds one state row per distinct (day, type)
  * — unbounded under adversarial/high-cardinality types — while this holds
  * `sketchK` counters per day, full stop.
  *
  * Exactness contract (same as the batch HeavyHitters doc): with
  * `sketchK` ≥ the observed distinct-type count the sketch never decrements,
  * so emitted counts are EXACT — true for this corpus's 5 event types, which
  * is what lets the spec assert equality against the batch oracle. Above
  * that cardinality the top-k is the standard Misra-Gries approximation with
  * additive error ≤ n/(sketchK+1) — the documented trade, not a bug.
  */
object StreamingTrending {

  /** One-shot streaming run: parquet file source → flatMapGroupsWithState
    * keyed by day (state = MG summary) → memory sink, then the final top-k
    * per day over the drained emissions. Update-mode emissions accumulate in
    * the sink; MG counts under the no-decrement regime only grow, so the
    * final count per (day, type) is the max across emissions — that fold plus
    * the bounded-heap TopKPerGroup yields the per-day ranking. */
  def runStreamTrendingOnce(caller: SparkSession, parquetPath: String,
                            topK: Int = 3, sketchK: Int = 8,
                            queryName: String = "graft_stream_trending"): DataFrame = {
    val spark = EventStreams.drainSession(caller)
    import spark.implicits._
    val schema = spark.read.parquet(parquetPath).schema
    val dir = EventStreams.stageToDir(parquetPath, queryName)
    // The batch kernel, reused verbatim: Aggregator is Serializable, and its
    // reduce is an in-place fold on the mutable buffer — the hot path shape.
    val mg = new graft.llm.HeavyHitters.MisraGries(sketchK)
    val stream = EventStreams.normalizeNanos(
        spark.readStream.schema(schema).parquet(dir))
      .select(date_format(col("ts"), "yyyy-MM-dd").as("d"), col("event_type"))
      .as[(String, String)]
    val perDay = stream.groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long], (String, String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (day: String, rows: Iterator[(String, String)],
         state: org.apache.spark.sql.streaming.GroupState[Map[String, Long]]) =>
          val buf = scala.collection.mutable.HashMap.empty[String, Long]
          state.getOption.foreach(_.foreach { case (t, c) => buf.update(t, c) })
          rows.foreach { case (_, t) => mg.reduce(buf, t) }
          state.update(buf.toMap)
          buf.iterator.map { case (t, c) => (day, t, c) }.toSeq.iterator
      }
    val drained = EventStreams.drainOnce(perDay.toDF("d", "event_type", "n"),
      queryName, "update")
    val finalCounts = drained.groupBy("d", "event_type").agg(max("n").as("n"))
    graft.plans.TopKPerGroup.topKPerGroup(finalCounts, Seq(col("d")),
        Seq(col("n").desc, col("event_type")), topK)
      .select(to_date(col("d")).as("d"), col("rk").cast("bigint").as("rk"),
        col("event_type"), col("n"))
      .orderBy("d", "rk")
  }

  /** The 24/7 deployment shape of the trending query: APPEND mode with
    * WATERMARK-DRIVEN state eviction. Per-day tumbling `window()` counts
    * under `withWatermark(ts, 1 hour)`: a (day, type) state row lives only
    * while its day can still receive events ≤ 1 hour late, is emitted
    * EXACTLY ONCE when the watermark closes the day, and is then evicted —
    * so standing state is bounded by (open days × distinct types), not by
    * stream length. Contrast [[runStreamTrendingOnce]] (update mode,
    * Misra-Gries state held forever per day): that bounds state per KEY;
    * this bounds state LIFETIME — the combination a 100 TB/day pipeline
    * would run.
    *
    * Emitted counts are exact full-day counts, so the result is
    * SQL-expressible and carries a real DuckDB oracle (unlike the
    * sketch-based sibling). A finite replay needs stream closure: one
    * far-future sentinel event (user −1, the runSessionWindowStreamingOnce
    * technique) advances the watermark past every real day; the sentinel's
    * own day stays un-emitted (nothing ever closes it) so it never reaches
    * the sink. */
  def runWatermarkedTrendingOnce(caller: SparkSession, parquetPath: String,
                                 topK: Int = 3,
                                 queryName: String = "graft_stream_trending_append"): DataFrame = {
    val spark = EventStreams.drainSession(caller, noDataBatches = true)
    val batchDf = spark.read.parquet(parquetPath)
    val schema = batchDf.schema
    // Writable staging (NOT the pass-through): the sentinel is appended
    // beside the staged input, never into the source table.
    val dir = EventStreams.stageWritableDir(parquetPath, queryName)
    EventStreams.appendSentinels(EventStreams.farFutureEvent(batchDf, -1L), dir)
    val counts = EventStreams.normalizeNanos(
        spark.readStream.schema(schema).parquet(dir))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // Emission happens in the no-data batch after the sentinel batch's
    // watermark update — same contract as the session-window drain.
    val drained = EventStreams.drainOnce(counts, queryName, "append")
      .select(to_date(col("window.start")).as("d"), col("event_type"), col("n"))
    graft.plans.TopKPerGroup.topKPerGroup(drained, Seq(col("d")),
        Seq(col("n").desc, col("event_type")), topK)
      .select(col("d"), col("rk").cast("bigint").as("rk"),
        col("event_type"), col("n"))
      .orderBy("d", "rk")
  }
}
