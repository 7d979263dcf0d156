package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Cms, TsNorm}

/** The count–min sketch DEPLOYED on the streaming engine: cells accumulate
  * as a complete-mode aggregation whose state is exactly the 4×64 counter
  * grid — bounded no matter how long the stream runs, which is what makes
  * a sketch the right frequency monitor for an unbounded 100 TB/day feed
  * (an exact per-key count would grow state with key cardinality).
  * Estimates drain at the end against exact panel counts, producing the
  * SAME frame as the batch q_cms_counts — one oracle checks both paths,
  * the [[StreamingDrift]] / [[StreamingClassify]] parity discipline.
  */
object StreamingSketch {

  /** Drain the events table through the streaming CMS, then evaluate the
    * point-estimate panel. Output == the batch q_cms_counts frame. */
  def runStreamCmsOnce(caller: SparkSession, parquetPath: String,
                       queryName: String = "graft_stream_cms"): DataFrame = {
    val spark = EventStreams.drainSession(caller)
    val raw = spark.read.parquet(parquetPath)
    val batch = TsNorm.normalizeTs(raw)
    val dir = EventStreams.stageToDir(parquetPath, queryName)
    val keyed = TsNorm.normalizeTs(
        spark.readStream.schema(raw.schema).parquet(dir))
      .select(col("user_id").cast("long").as("k"))
    // Streaming leg: the sketch. groupBy(j, b) counts in complete mode —
    // state is the 256-cell grid, never per-key.
    val cells = keyed.select(Cms.jbs(col("k")).as("jb"))
      .select(col("jb.j").as("j"), col("jb.b").as("b"))
      .groupBy("j", "b").agg(count(lit(1)).as("c"))
    val drained = EventStreams.drainOnce(cells, queryName, "complete")
    // Re-base the drained grid locally (256 rows — model-sized, the
    // StreamingDrift collect economics) before joining the panel.
    import spark.implicits._
    val cellsLocal = drained.select(col("j").cast("int"), col("b"), col("c"))
      .as[(Int, Long, Long)].collect().toSeq.toDF("j", "b", "c")
    // Offline leg: the exact panel truth (12-ish keys at sf0.01).
    val truth = batch.select(col("user_id").cast("long").as("k"))
      .filter(col("k") % 13 === 0)
      .groupBy("k").agg(count(lit(1)).as("true_cnt"))
    Cms.estimates(cellsLocal, truth)
  }

  /** The 24/7 deployment shape of the streaming CMS: APPEND-mode day
    * windows with watermark-driven state eviction (the
    * runWatermarkedTrendingOnce discipline applied to the counter grid).
    * [[runStreamCmsOnce]]'s complete-mode grid is bounded per KEY (4×64)
    * but lives FOREVER; here each (day, j, b) cell row is emitted exactly
    * once when the watermark closes its day and is then evicted, so
    * standing state is bounded by OPEN days × the grid. A far-future
    * sentinel event closes every real day (its own day never emits); the
    * emitted day grids SUM to exactly the lifetime cell counts — CMS
    * cells are associative — so the same batch q_cms_counts oracle checks
    * this path too. */
  def runStreamCmsAppendOnce(caller: SparkSession, parquetPath: String,
                             queryName: String = "graft_stream_cms_append"): DataFrame = {
    val spark = EventStreams.drainSession(caller, noDataBatches = true)
    val raw = spark.read.parquet(parquetPath)
    val batch = TsNorm.normalizeTs(raw)
    val schema = raw.schema
    val dir = EventStreams.stageWritableDir(parquetPath, queryName)
    // The sentinel's key never reaches the sink (its day never closes),
    // so it only needs to be hash-SAFE: Long.MinValue would overflow the
    // ANSI-mode affine CMS hash (a·k), so use 0.
    EventStreams.appendSentinels(EventStreams.farFutureEvent(raw, 0L), dir)
    val keyed = TsNorm.normalizeTs(spark.readStream.schema(schema).parquet(dir))
      .withWatermark("ts", "1 hour")
      .select(col("ts"), Cms.jbs(col("user_id").cast("long")).as("jb"))
      .select(col("ts"), col("jb.j").as("j"), col("jb.b").as("b"))
      .groupBy(window(col("ts"), "1 day"), col("j"), col("b"))
      .agg(count(lit(1)).as("c"))
    val drained = EventStreams.drainOnce(keyed, queryName, "append")
    import spark.implicits._
    // Closed-day grids fold back to the lifetime cell counts (256-row
    // collect, the runStreamCmsOnce economics); the sentinel's cells sit
    // in its never-closed day and never reach the sink.
    val cellsLocal = drained.groupBy("j", "b").agg(sum("c").as("c"))
      .select(col("j").cast("int"), col("b"), col("c"))
      .as[(Int, Long, Long)].collect().toSeq.toDF("j", "b", "c")
    val truth = batch.select(col("user_id").cast("long").as("k"))
      .filter(col("k") % 13 === 0)
      .groupBy("k").agg(count(lit(1)).as("true_cnt"))
    Cms.estimates(cellsLocal, truth)
  }

  /** Checkpoint-RESTART drill for the APPEND-mode day-windowed CMS — the
    * lifecycle gap the complete-mode restart drills don't cover: here the
    * state store holds OPEN day windows plus the WATERMARK itself. Wave 1
    * (the earlier half of the days) runs and checkpoints with its last day
    * still open (the watermark sits 1 hour behind wave 1's max event);
    * wave 2 (the later days + the far-future sentinel) lands while the
    * query is down; the restarted query must restore the watermark and the
    * open-day cells, close every day exactly once, and never re-emit a day
    * wave 1 already closed. The emissions accumulate in a parquet sink
    * across both runs, so ANY failure mode — re-emitted closed day, lost
    * open-day cells, watermark reset to zero — breaks the fold back to the
    * lifetime totals and misses the shared batch q_cms_counts oracle. */
  def runStreamCmsAppendRestart(caller: SparkSession, parquetPath: String,
                                queryName: String = "graft_stream_cms_append_restart"): DataFrame = {
    val spark = EventStreams.drainSession(caller, noDataBatches = true)
    // Narrow staging: the grid touches only (ts, user_id), normalized once
    // so the staged schema is a plain timestamp.
    val batch = TsNorm.normalizeTs(spark.read.parquet(parquetPath))
      .select(col("ts"), col("user_id"))
    val srcDir  = EventStreams.freshDir(s"graft_cmsrestart_src_$queryName")
    val outDir  = EventStreams.freshDir(s"graft_cmsrestart_out_$queryName")
    val ckptDir = EventStreams.freshDir(s"graft_cmsrestart_ckpt_$queryName")
    def runWave(): Unit = {
      val q = spark.readStream.schema(batch.schema).parquet(srcDir)
        .withWatermark("ts", "1 hour")
        .select(col("ts"), Cms.jbs(col("user_id").cast("long")).as("jb"))
        .select(col("ts"), col("jb.j").as("j"), col("jb.b").as("b"))
        .groupBy(window(col("ts"), "1 day"), col("j"), col("b"))
        .agg(count(lit(1)).as("c"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val days = batch.select(to_date(col("ts")).as("d")).distinct()
      .orderBy("d").collect().map(_.getDate(0))
    // Degenerate inputs: a single-day corpus leaves wave 1 empty (skip the
    // run — everything becomes wave 2's restart-free first run), and an
    // empty corpus never fires a batch, so the sink read below carries an
    // explicit schema instead of relying on inference from written files.
    if (days.length >= 2) {
      val mid = days(days.length / 2)
      batch.filter(to_date(col("ts")) < lit(mid))
        .write.mode("append").parquet(srcDir)
      runWave() // wave 1: earlier days; its last day stays OPEN in state
      val sentinel = batch.orderBy(col("ts").desc).limit(1)
        .withColumn("user_id", lit(0L)) // hash-safe; its day never closes
        .withColumn("ts", col("ts") + expr("INTERVAL 100 DAYS"))
      batch.filter(to_date(col("ts")) >= lit(mid)).unionAll(sentinel)
        .write.mode("append").parquet(srcDir)
    } else batch.write.mode("append").parquet(srcDir)
    runWave() // wave 2: restart — restore watermark + open-day cells
    // Drop the lingering state-store providers (round 17): this was the
    // ONE stateful self-managed lifecycle without the drainOnce unload —
    // its day-window stores stayed in the executor-wide registry where
    // the maintenance thread kept snapshotting them, a suite-level drag
    // on every later stateful query (invisible in isolated probes).
    org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    import spark.implicits._
    val sinkSchema = batch.limit(0)
      .select(col("ts"), Cms.jbs(col("user_id").cast("long")).as("jb"))
      .select(col("ts"), col("jb.j").as("j"), col("jb.b").as("b"))
      .groupBy(window(col("ts"), "1 day"), col("j"), col("b"))
      .agg(count(lit(1)).as("c")).schema
    new java.io.File(outDir).mkdirs() // empty-input: no batch ever wrote
    val cellsLocal = spark.read.schema(sinkSchema).parquet(outDir)
      .groupBy("j", "b").agg(sum("c").as("c"))
      .select(col("j").cast("int"), col("b"), col("c"))
      .as[(Int, Long, Long)].collect().toSeq.toDF("j", "b", "c")
    val truth = batch.select(col("user_id").cast("long").as("k"))
      .filter(col("k") % 13 === 0)
      .groupBy("k").agg(count(lit(1)).as("true_cnt"))
    Cms.estimates(cellsLocal, truth)
  }

  /** The KMV distinct-count sketch DEPLOYED on the streaming engine:
    * per-group state is the K smallest distinct hash values (K doubles,
    * held by the [[graft.engine.Kmv.KMinValues]] Aggregator in a
    * complete-mode aggregation) — bounded however long the stream runs,
    * where the exact countDistinct it replaces would grow state with key
    * cardinality. Estimates drain at the end against the offline exact
    * counts, producing the SAME frame as the batch q_kmv_distinct — one
    * oracle checks both paths, the [[runStreamCmsOnce]] parity
    * discipline. */
  def runStreamKmvOnce(caller: SparkSession, parquetPath: String,
                       queryName: String = "graft_stream_kmv"): DataFrame = {
    val spark = EventStreams.drainSession(caller)
    import graft.engine.Kmv
    val raw = spark.read.parquet(parquetPath)
    val batch = TsNorm.normalizeTs(raw)
    val dir = EventStreams.stageToDir(parquetPath, queryName)
    // Streaming leg: hash per event (duplicates collapse inside the
    // sketch's distinct-set buffer — no pre-distinct stage needed, which
    // is the point: the stream is consumed in one bounded-state pass).
    val hashed = TsNorm.normalizeTs(
        spark.readStream.schema(raw.schema).parquet(dir))
      .select(col("event_type"),
        Kmv.hash(col("user_id").cast("long")).as("h"))
    val sketch = hashed.groupBy("event_type")
      .agg(Kmv.kMinValues(col("h")).as("mins"))
    val drained = EventStreams.drainOnce(sketch, queryName, "complete")
    // Re-base the drained sketch locally (groups × K doubles — model-sized,
    // the runStreamCmsOnce collect economics) before joining the exact leg.
    import spark.implicits._
    val kth = drained.select(col("event_type"), col("mins"))
      .as[(String, Seq[Double])].collect()
      .filter(_._2.length == Kmv.K) // only groups that filled the sketch
      .map { case (et, mins) => (et, mins.last) }
      .toSeq.toDF("event_type", "hk")
    // Offline leg: the exact distinct counts the sketch approximates.
    val exact = batch
      .select(col("event_type"), col("user_id").cast("long").as("u"))
      .groupBy("event_type").agg(countDistinct("u").as("n_exact"))
    Kmv.estimates(kth, exact, "event_type")
  }

  /** The HdrHistogram-style quantile sketch DEPLOYED on the streaming
    * engine: state is the bounded (group × bucket) count grid — at most
    * 64 octaves × 8 sub-buckets per group however long the stream runs,
    * which is what makes a histogram sketch the latency/price quantile
    * monitor for an unbounded feed (the exact `percentile` it replaces
    * needs the full value multiset). Estimates drain at the end against
    * the offline exact percentiles, producing the SAME frame as the batch
    * q_hdr_quantile — one oracle checks both paths, the [[runStreamCmsOnce]]
    * parity discipline. */
  def runStreamQuantileOnce(caller: SparkSession, parquetPath: String,
                            queryName: String = "graft_stream_quantile"): DataFrame = {
    val spark = EventStreams.drainSession(caller)
    import graft.engine.Hdr
    val raw = spark.read.parquet(parquetPath)
    val dir = EventStreams.stageToDir(parquetPath, queryName)
    // Streaming leg: the sketch. One corpus-sized pass computes integer
    // bucket ids; groupBy(g, bkt) counts in complete mode — state is the
    // grid, never the values.
    val vals = spark.readStream.schema(raw.schema).parquet(dir)
      .filter(col("l_extendedprice") > 0)
      .select(col("l_returnflag"), Hdr.cents(col("l_extendedprice")).as("c"))
    val counts = Hdr.withBucket(vals, "c")
      .groupBy("l_returnflag", "bkt").agg(count(lit(1)).as("cnt"))
    val drained = EventStreams.drainOnce(counts, queryName, "complete")
    // Re-base the drained grid locally (octaves × 8 rows per group —
    // model-sized, the runStreamCmsOnce collect economics).
    import spark.implicits._
    val gridLocal = drained.select(col("l_returnflag"), col("bkt").cast("int"), col("cnt"))
      .as[(String, Int, Long)].collect().toSeq.toDF("l_returnflag", "bkt", "cnt")
    // Offline leg: the exact interpolated percentiles the sketch approximates.
    val exact = raw.filter(col("l_extendedprice") > 0)
      .select(col("l_returnflag"), Hdr.cents(col("l_extendedprice")).as("c"))
      .groupBy("l_returnflag").agg(
        expr("percentile(c, 0.5)").as("e50"),
        expr("percentile(c, 0.9)").as("e90"),
        expr("percentile(c, 0.99)").as("e99"))
    Hdr.withExact(Hdr.quantileEstimates(gridLocal, "l_returnflag"),
      exact, "l_returnflag")
  }

  /** Checkpoint-RESTART drill for the streaming quantile grid — the
    * deployment shape a 24/7 latency/price monitor actually runs: wave 1 of
    * the feed is bucketed and checkpointed, wave 2 lands while the query is
    * down, and the restarted query must RESTORE the per-(group, bucket)
    * counts from the state store and fold in only the new files. A failed
    * restore would count wave 2 alone, shift the cumulative ranks, pick
    * different buckets, and miss the (shared) q_hdr_quantile oracle — the
    * [[runStreamKmvRestart]] discipline applied to grid state. */
  def runStreamQuantileRestart(caller: SparkSession, parquetPath: String,
                               queryName: String = "graft_stream_quantile_restart"): DataFrame = {
    val spark = EventStreams.drainSession(caller, noDataBatches = true)
    import graft.engine.Hdr
    // Narrow staging: the grid touches only (l_returnflag, l_extendedprice),
    // the wave split only l_orderkey.
    val batch = spark.read.parquet(parquetPath)
      .select("l_returnflag", "l_extendedprice", "l_orderkey")
    val srcDir  = EventStreams.freshDir(s"graft_qrestart_src_$queryName")
    val outDir  = EventStreams.freshDir(s"graft_qrestart_out_$queryName")
    val ckptDir = EventStreams.freshDir(s"graft_qrestart_ckpt_$queryName")
    def runWave(): Unit = {
      val vals = spark.readStream.schema(batch.schema).parquet(srcDir)
        .filter(col("l_extendedprice") > 0)
        .select(col("l_returnflag"), Hdr.cents(col("l_extendedprice")).as("c"))
      val q = Hdr.withBucket(vals, "c")
        .groupBy("l_returnflag", "bkt").agg(count(lit(1)).as("cnt"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    batch.filter(col("l_orderkey") % 2 === 0).write.mode("append").parquet(srcDir)
    runWave() // wave 1: grid state committed to the checkpoint
    batch.filter(col("l_orderkey") % 2 =!= 0).write.mode("append").parquet(srcDir)
    runWave() // restart: counts restored, only new files folded in
    org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    import spark.implicits._
    val gridLocal = spark.read.parquet(outDir)
      .select(col("l_returnflag"), col("bkt").cast("int"), col("cnt"))
      .as[(String, Int, Long)].collect().toSeq
      .toDF("l_returnflag", "bkt", "cnt")
    val exact = batch.filter(col("l_extendedprice") > 0)
      .select(col("l_returnflag"), Hdr.cents(col("l_extendedprice")).as("c"))
      .groupBy("l_returnflag").agg(
        expr("percentile(c, 0.5)").as("e50"),
        expr("percentile(c, 0.9)").as("e90"),
        expr("percentile(c, 0.99)").as("e99"))
    Hdr.withExact(Hdr.quantileEstimates(gridLocal, "l_returnflag"),
      exact, "l_returnflag")
  }

  /** Checkpoint-RESTART drill for the streaming KMV — the deployment shape
    * a 24/7 cardinality monitor actually runs: wave 1 of the feed is
    * sketched and checkpointed, wave 2 lands while the query is down, and
    * the restarted query must RESTORE the per-group Array[Double] sketch
    * buffers from the state store and fold in only the new files. A failed
    * restore would sketch wave 2 alone, land on a different K-th hash, and
    * miss the (shared) q_kmv_distinct oracle — so the oracle check IS the
    * exactly-once proof, the [[graft.streaming.StreamingClassify]] restart
    * discipline applied to stateful sketch state rather than a stateless
    * scorer. */
  def runStreamKmvRestart(caller: SparkSession, parquetPath: String,
                          queryName: String = "graft_stream_kmv_restart"): DataFrame = {
    val spark = EventStreams.drainSession(caller, noDataBatches = true)
    import graft.engine.Kmv
    // Narrow staging: the sketch touches only (event_type, user_id), the
    // wave split only event_id — staging the full event rows would double
    // the drill's IO for columns no leg ever reads (and ts never enters,
    // so no TsNorm dispatch is needed here).
    val batch = spark.read.parquet(parquetPath)
      .select("event_type", "user_id", "event_id")
    val srcDir  = EventStreams.freshDir(s"graft_kmvrestart_src_$queryName")
    val outDir  = EventStreams.freshDir(s"graft_kmvrestart_out_$queryName")
    val ckptDir = EventStreams.freshDir(s"graft_kmvrestart_ckpt_$queryName")
    def runWave(): Unit = {
      // Both waves run on the drain session's 2 shuffle partitions: the
      // checkpoint binds the state-store partitioning, so the restarted
      // query must come up with the same count.
      val hashed = spark.readStream.schema(batch.schema).parquet(srcDir)
        .select(col("event_type"),
          Kmv.hash(col("user_id").cast("long")).as("h"))
      val q = hashed.groupBy("event_type")
        .agg(Kmv.kMinValues(col("h")).as("mins"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          // Complete-mode snapshot: each micro-batch overwrites the full
          // sketch table, so after the final batch the directory holds
          // exactly the current state.
          b.write.mode("overwrite").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    batch.filter(col("event_id") % 2 === 0).write.mode("append").parquet(srcDir)
    runWave() // wave 1: sketch state committed to the checkpoint
    batch.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(srcDir)
    runWave() // restart: buffers restored, only new files folded in
    org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    import spark.implicits._
    val kth = spark.read.parquet(outDir)
      .select(col("event_type"), col("mins"))
      .as[(String, Seq[Double])].collect()
      .filter(_._2.length == Kmv.K)
      .map { case (et, mins) => (et, mins.last) }
      .toSeq.toDF("event_type", "hk")
    val exact = batch
      .select(col("event_type"), col("user_id").cast("long").as("u"))
      .groupBy("event_type").agg(countDistinct("u").as("n_exact"))
    Kmv.estimates(kth, exact, "event_type")
  }
}
