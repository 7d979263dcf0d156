package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The append-mode/watermark-eviction contracts for the two production
  * monitors converted from complete mode in round 10: per-day PSI drift
  * and the day-windowed CMS. Each must (a) land on the exact batch frame
  * (the shared-oracle parity the driver also checks) and (b) honor the
  * append contract on the RAW emissions — every closed (day, key) window
  * emitted exactly once, the far-future sentinel day never emitted — the
  * observable form of "state is evicted at day close, bounded by open
  * days × grid, not stream lifetime".
  */
class StreamingAppendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("drift append: equals the batch PSI; one emission per closed (day, source, bucket)") {
    val qn = "graft_stream_drift_append_spec"
    val streamed = StreamingDrift
      .runStreamDriftAppendOnce(spark, s"$sf/documents.parquet", queryName = qn)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = graft.SparkEntry.queries("q_source_drift")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"append drift/batch divergence:\n stream=$streamed\n batch=$batch")
    val raw = EventStreams.drainSession(spark, noDataBatches = true).table(qn)
      .select(to_date(col("window.start")).as("d"), col("source"), col("b"))
    assert(raw.count() == raw.distinct().count(),
      "append mode re-emitted a closed window")
    // crawl days are doc_id % 30 from the 2024-01-01 epoch; the sentinel
    // day (+200) must never surface
    val maxEmitted = raw.agg(max(col("d"))).head().getDate(0).toLocalDate
    assert(!maxEmitted.isAfter(java.time.LocalDate.of(2024, 1, 30)),
      s"sentinel day leaked: $maxEmitted")
  }

  test("cms append restart: watermark + open-day state survive the checkpoint restart") {
    val streamed = StreamingSketch
      .runStreamCmsAppendRestart(spark, s"$sf/events.parquet",
        queryName = "graft_stream_cms_append_restart_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.SparkEntry.queries("q_cms_counts")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed.nonEmpty)
    // batch parity across the restart IS the exactly-once proof: a
    // re-emitted closed day would double its cells, a lost open-day cell
    // or a reset watermark would drop counts — all three break this.
    assert(streamed == batch,
      s"restart cms/batch divergence:\n stream=$streamed\n batch=$batch")
  }

  test("cms append: equals the batch sketch; one emission per closed (day, j, b) cell") {
    val qn = "graft_stream_cms_append_spec"
    val streamed = StreamingSketch
      .runStreamCmsAppendOnce(spark, s"$sf/events.parquet", queryName = qn)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.SparkEntry.queries("q_cms_counts")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"append cms/batch divergence:\n stream=$streamed\n batch=$batch")
    val raw = EventStreams.drainSession(spark, noDataBatches = true).table(qn)
      .select(col("window.start").as("w"), col("j"), col("b"))
    assert(raw.count() == raw.distinct().count(),
      "append mode re-emitted a closed cell")
    // the sentinel event sits 100 days out; its day must never close
    val realMax = graft.engine.TsNorm.normalizeTs(
        spark.read.parquet(s"$sf/events.parquet"))
      .agg(max(col("ts"))).head().getTimestamp(0)
    val maxEmitted = raw.agg(max(col("w"))).head().getTimestamp(0)
    assert(maxEmitted.before(new java.sql.Timestamp(
      realMax.getTime + 24L * 3600 * 1000)),
      s"sentinel day leaked: $maxEmitted vs real max $realMax")
  }
}
