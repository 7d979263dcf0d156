package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming benchmark decontamination — the 24/7 form of the batch
  * q_contamination audit: TRAIN documents arrive on a stream and each is
  * checked against a STATIC held-out benchmark shingle set via a
  * stream-static equality join on hashed 8-token shingles. This is the
  * shape a production crawl-ingest pipeline needs: the benchmark set is
  * small and fixed (it broadcasts — each micro-batch only shingles its own
  * new docs and probes the broadcast table), the stream side never holds
  * state (no streaming aggregation, no watermark, no state store: a doc
  * arrives in exactly one micro-batch, so its matches all land in that
  * batch), and the per-doc consolidation is a stateless batch aggregate
  * over the drained sink — [[StreamingNearDup.detectOnce]]'s pattern.
  *
  * Duplicate (train, h) windows are NOT pre-deduped on the stream side
  * (that would be a streaming aggregation, i.e. state); the post-drain
  * `countDistinct(eval_id)` collapses them — identical result, zero state.
  */
object StreamingContamination {

  /** Hashed 8-token shingle rows (id, h): the shared construction from
    * [[graft.llm.TextStats.md5ShingleHashes]] — one definition for batch
    * and streaming so the stream-vs-batch and Spark-vs-oracle equivalences
    * cannot drift. */
  private def shingleHashes(df: DataFrame, idCol: String, outId: String): DataFrame =
    graft.llm.TextStats.md5ShingleHashes(
      df.withColumnRenamed(idCol, outId), "text", 8, outId)

  /** One-shot harness: stream the non-benchmark docs of `parquetPath`
    * through the decontaminator and return (train_id, n_eval_docs) for
    * every train doc sharing at least one 8-token shingle with a benchmark
    * (`evalSource`) doc. */
  def contaminateOnce(caller: SparkSession, parquetPath: String,
                      evalSource: String = "src0",
                      queryName: String = "graft_stream_contamination"): DataFrame = {
    val spark = EventStreams.drainSession(caller)
    val schema = spark.read.parquet(parquetPath).schema
    val evalSh = shingleHashes(
        spark.read.parquet(parquetPath).filter(col("source") === evalSource),
        "doc_id", "eval_id")
      .distinct() // batch side: a shingle repeated inside one eval doc probes once
    val dir = EventStreams.stageToDir(parquetPath, queryName)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .filter(col("source") =!= evalSource)
    val joined = shingleHashes(stream, "doc_id", "train_id")
      .join(broadcast(evalSh), "h")
      .select("train_id", "eval_id")
    EventStreams.drainOnce(joined, queryName, "append")
      .groupBy("train_id")
      .agg(countDistinct("eval_id").as("n_eval_docs"))
      .orderBy("train_id")
  }
}
