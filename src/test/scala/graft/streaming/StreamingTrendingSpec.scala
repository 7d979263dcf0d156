package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming Misra-Gries trending top-k: the drained streaming answer must
  * EQUAL the batch per-day top-k (the q_trending daily ranking without the
  * day-over-day column) — the same batch-verifies-stream contract as
  * q_stream_funnel. Exactness holds because sketchK exceeds the corpus's
  * distinct event-type count, so the MG state never decrements (the
  * documented regime). */
class StreamingTrendingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val eventsPath = "/root/testdata/sf0.001/events.parquet"

  private def batchTop3: Seq[(java.sql.Date, Long, String, Long)] = {
    import spark.implicits._
    val events = spark.read.parquet(eventsPath)
      .transform(graft.engine.TsNorm.normalizeTs(_))
    val daily = events
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    graft.plans.TopKPerGroup.topKPerGroup(daily, Seq(col("d")),
        Seq(col("n").desc, col("event_type")), 3)
      .select(col("d"), col("rk").cast("bigint").as("rk"),
        col("event_type"), col("n"))
      .orderBy("d", "rk")
      .as[(java.sql.Date, Long, String, Long)].collect().toSeq
  }

  test("streaming per-day top-3 equals the batch ranking") {
    import spark.implicits._
    val streamed = StreamingTrending
      .runStreamTrendingOnce(spark, eventsPath,
        queryName = "graft_stream_trending_spec")
      .as[(java.sql.Date, Long, String, Long)].collect().toSeq
    val batch = batchTop3
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streaming/batch divergence:\n stream=${streamed.take(6)}\n batch=${batch.take(6)}")
  }

  test("append-mode watermarked variant equals the batch ranking; each " +
       "window emits exactly once and the sentinel day never surfaces") {
    import spark.implicits._
    val qn = "graft_stream_trending_append_spec"
    val streamed = StreamingTrending
      .runWatermarkedTrendingOnce(spark, eventsPath, queryName = qn)
      .as[(java.sql.Date, Long, String, Long)].collect().toSeq
    val batch = batchTop3
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"append streaming/batch divergence:\n stream=${streamed.take(6)}\n batch=${batch.take(6)}")
    // The raw memory-sink emissions (still registered under the query name
    // in the drain session after the drain) carry the append contract: a
    // closed (day, type) window appears EXACTLY once — update-mode would
    // accumulate multiple emissions per key — and the far-future sentinel
    // day (watermark closure) is never emitted because nothing ever closes
    // it.
    val raw = EventStreams.drainSession(spark, noDataBatches = true).table(qn)
      .select(to_date(col("window.start")).as("d"), col("event_type"))
    assert(raw.count() == raw.distinct().count(),
      "append mode re-emitted a closed window")
    val maxRealDay = batch.map(_._1.toLocalDate).max(Ordering.fromLessThan(
      (a: java.time.LocalDate, b: java.time.LocalDate) => a.isBefore(b)))
    val maxEmitted = raw.agg(max(col("d"))).head().getDate(0).toLocalDate
    assert(!maxEmitted.isAfter(maxRealDay), "sentinel day leaked into output")
  }

  test("per-day state is bounded by sketchK, not by type cardinality") {
    import spark.implicits._
    // Synthetic day with 40 distinct types under sketchK=8: the emitted
    // candidate set for that day can never exceed 8 counters.
    val rows = (1 to 200).map { i =>
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), s"type_${i % 40}")
    }
    val p = s"${sys.props("java.io.tmpdir")}/graft_trending_card_spec"
    rows.toDF("ts", "event_type").coalesce(1)
      .write.mode("overwrite").parquet(p)
    val f = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val out = StreamingTrending.runStreamTrendingOnce(spark, f,
      topK = 100, sketchK = 8, queryName = "graft_stream_trending_card")
    // topK=100 would admit every type if state were unbounded; the MG cap
    // keeps the surviving candidate set ≤ sketchK.
    assert(out.count() <= 8, "state exceeded the Misra-Gries bound")
  }
}
