package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Drift

/** PSI drift monitoring DEPLOYED (the q_source_drift audit in its
  * production shape): the corpus reference marginals are fitted OFFLINE —
  * 64 bucket counts, the model a snapshot is compared against — and
  * incoming documents score ONLINE. Streaming state is exactly the
  * |sources| × 64 per-bucket count grid (complete-mode aggregation —
  * nothing grows with stream length); the PSI fold runs on the drained
  * counts. A 100 TB/day ingest runs this plan against each new crawl
  * snapshot with the reference marginals swapped in at restart, the same
  * model-ships-as-literals economics as [[StreamingClassify]].
  */
object StreamingDrift {

  /** Drain the documents table through the streaming bucket counter, then
    * compute per-source PSI against the batch-fitted corpus marginals.
    * Output == the batch q_source_drift frame, so one oracle checks both
    * paths. */
  def runStreamDriftOnce(caller: SparkSession, parquetPath: String,
                         queryName: String = "graft_stream_drift"): DataFrame = {
    val spark = EventStreams.drainSession(caller)
    val batch = spark.read.parquet(parquetPath)
    val schema = batch.schema
    // Offline fit: the reference distribution (64 rows + one scalar).
    val corpus = Drift.bucketize(batch).groupBy("b").agg(count(lit(1)).as("cc"))
    val nc = corpus.agg(sum("cc")).head().getLong(0)
    // Online: per-(source, bucket) counts — bounded complete-mode state.
    val dir = EventStreams.stageToDir(parquetPath, queryName)
    val perSrc = Drift.bucketize(spark.readStream.schema(schema).parquet(dir))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
    val drained = EventStreams.drainOnce(perSrc, queryName, "complete")
    // Re-base the drained grid as a local frame: it is MODEL-sized
    // (|sources| × 64 rows — the same collect economics as the classifier
    // weights), and the memory-sink lineage otherwise trips Catalyst's
    // conflicting-reference resolution inside psiFromCounts' densify
    // self-joins.
    import spark.implicits._
    val counts = drained.select(col("source"), col("b"), col("c"))
      .as[(String, Long, Long)].collect().toSeq.toDF("source", "b", "c")
    Drift.psiFromCounts(spark, counts, corpus, nc)
  }

  /** The 24/7 deployment shape of the drift monitor: APPEND-mode day
    * windows with watermark-driven state eviction (the
    * runWatermarkedTrendingOnce discipline applied to the PSI grid).
    * [[runStreamDriftOnce]]'s complete-mode grid is bounded per KEY
    * (|sources|×64) but lives FOREVER; here each (crawl day, source,
    * bucket) count row is emitted exactly once when the watermark closes
    * its day and is then evicted, so standing state is bounded by OPEN
    * days × the grid — the combination an unbounded feed needs. Documents
    * carry no timestamp, so each doc is assigned its crawl day
    * deterministically (doc_id mod 30 days from a fixed epoch — a month
    * of snapshots); a far-future sentinel doc (id = Long.MinValue, crawl
    * day +200) closes every real day, and its own day never emits. The
    * emitted day grids then SUM to exactly the complete-mode totals, so
    * the same batch q_source_drift oracle checks this path too. */
  def runStreamDriftAppendOnce(caller: SparkSession, parquetPath: String,
                               queryName: String = "graft_stream_drift_append"): DataFrame = {
    val spark = EventStreams.drainSession(caller, noDataBatches = true)
    val batch = spark.read.parquet(parquetPath)
    val schema = batch.schema
    val corpus = Drift.bucketize(batch).groupBy("b").agg(count(lit(1)).as("cc"))
    val nc = corpus.agg(sum("cc")).head().getLong(0)
    val dir = EventStreams.stageWritableDir(parquetPath, queryName)
    EventStreams.appendSentinels(
      batch.limit(1).withColumn("doc_id", lit(Long.MinValue)), dir)
    // The sentinel branch matches Long.MinValue EXACTLY, never `< 0`: a
    // corpus with real negative doc_ids would otherwise land them on the
    // never-closing sentinel day and silently drop their tokens (the
    // EventStreams sentinel rule). A real negative id's `% 30` day is just
    // an earlier crawl day — it still closes under the sentinel watermark.
    val crawlTs = expr("timestampadd(DAY, CAST(CASE WHEN doc_id = " +
      s"CAST('${Long.MinValue}' AS BIGINT) " +
      "THEN 200 ELSE doc_id % 30 END AS INT), " +
      "TIMESTAMP '2024-01-01 00:00:00')")
    val perDay = spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts", crawlTs)
      .withWatermark("ts", "1 hour")
      .select(col("ts"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("ts"), col("source"),
        expr(s"CAST(conv(substring(md5(w), 1, 6), 16, 10) AS BIGINT) % ${Drift.Buckets}").as("b"))
      .groupBy(window(col("ts"), "1 day"), col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
    val drained = EventStreams.drainOnce(perDay, queryName, "append")
    import spark.implicits._
    // Closed-day grids fold back to the lifetime totals (model-sized
    // collect, the runStreamDriftOnce economics).
    val counts = drained.groupBy("source", "b").agg(sum("c").as("c"))
      .select(col("source"), col("b"), col("c"))
      .as[(String, Long, Long)].collect().toSeq.toDF("source", "b", "c")
    Drift.psiFromCounts(spark, counts, corpus, nc)
  }
}
