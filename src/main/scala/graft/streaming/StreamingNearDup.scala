package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.llm.Dedup

/** Streaming near-duplicate detection — the 24/7 form of the batch
  * MinHash+LSH pipeline ([[graft.llm.Dedup.minhashNearDups]]): documents
  * arrive on a stream and each is flagged against everything seen BEFORE it,
  * in one pass, without re-deduplicating the whole corpus per ingest batch
  * (the q_dedup_incremental shape, but with bounded per-bucket state instead
  * of a full anti-join against the accumulated corpus).
  *
  * Shape: per-row codegen kernels (shingle → minhash → LSH bands — the same
  * ones the batch path uses, so stream and batch agree bit-for-bit) produce
  * narrow (band, bucket, doc_id) hits; `flatMapGroupsWithState` keyed by the
  * bucket holds ONE long of state — the first doc_id ever seen there (the
  * bucket's anchor) — and emits a flag for every later arrival. State is
  * O(#distinct buckets × 8 bytes) regardless of corpus size; a production
  * deployment adds `GroupStateTimeout.ProcessingTimeTimeout` to expire
  * buckets no new crawl data has touched (dup pairs farther apart than the
  * TTL stop being detected — the standard recall/state trade).
  *
  * A doc colliding with its anchor in several bands emits several flags;
  * the batch-side consolidation (min anchor per doc) is stateless, so it
  * runs after the drain rather than as a second stateful operator.
  */
object StreamingNearDup {

  case class Hit(band: Int, bucket: Long, doc_id: Long)
  case class Flag(doc_id: Long, anchor_id: Long)

  /** Narrow (band, bucket, doc_id) hit stream — works on a batch OR
    * streaming frame (pure per-row projection, no state). The buckets are
    * the batch operator's own band column, [[Dedup.minhashBandKeys]]. */
  def bucketHits(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, numHashes: Int = 128, bands: Int = 32,
                 seed: Long = 42L): Dataset[Hit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = Dedup.minhashSignature(Dedup.shingles(col(textCol), k), numHashes, seed)
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(Dedup.minhashBandKeys(sig, numHashes, bands)).as(Seq("band", "bucket")))
      .select(col("band").cast("int").as("band"), col("bucket"), col("doc_id"))
      .as[Hit]
  }

  /** Stateful flagging: each bucket's first-ever doc becomes its anchor;
    * every later arrival emits (doc, anchor). Same-batch arrival order is
    * undefined in a shuffle, so ascending doc_id is the canonical order —
    * deterministic across re-runs and across batch boundaries. */
  def flagStream(hits: Dataset[Hit]): Dataset[Flag] = {
    import hits.sparkSession.implicits._
    hits.groupByKey(h => (h.band, h.bucket))
      .flatMapGroupsWithState[Long, Flag](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Long]) =>
          val ids = it.map(_.doc_id).toArray.sorted
          var anchor = state.getOption.getOrElse(Long.MaxValue)
          val out = Seq.newBuilder[Flag]
          for (id <- ids) {
            if (anchor == Long.MaxValue) anchor = id
            else if (id != anchor) out += Flag(id, anchor)
          }
          if (anchor != Long.MaxValue) state.update(anchor)
          out.result().iterator
      }
  }

  /** One-shot harness: stream `parquetPath` through the detector and return
    * the consolidated (doc_id, anchor_id) flags — min anchor per doc, so a
    * multi-band collision reports one row. The consolidation is a batch
    * aggregate over the drained sink (stateless — not a second stateful
    * streaming operator). */
  def detectOnce(caller: SparkSession, parquetPath: String,
                 idCol: String = "doc_id", textCol: String = "text",
                 k: Int = 3, numHashes: Int = 128, bands: Int = 32,
                 seed: Long = 42L,
                 queryName: String = "graft_stream_neardup"): DataFrame = {
    val spark = EventStreams.drainSession(caller)
    val schema = spark.read.parquet(parquetPath).schema
    val dir = EventStreams.stageToDir(parquetPath, queryName)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val flags = flagStream(bucketHits(stream, idCol, textCol,
      k, numHashes, bands, seed))
    EventStreams.drainOnce(flags.toDF(), queryName, "append")
      .groupBy("doc_id")
      .agg(min("anchor_id").as("anchor_id"))
      .orderBy("doc_id")
  }
}
