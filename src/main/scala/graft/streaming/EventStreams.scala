package graft.streaming

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-shaped operators over the `events` table (SURVEY.md §2.11
  * X6/X7). The aggregation logic is written once in batch form; the
  * Structured Streaming runner pushes the identical plan through the
  * streaming engine (file source → window agg → sink), which is how the same
  * code deploys against a real Kafka/file stream at scale.
  */
object EventStreams {

  /** Any physical `ts` shape → TimestampType(µs); see [[graft.engine.TsNorm]]. */
  private[streaming] def normalizeNanos(df: DataFrame): DataFrame =
    graft.engine.TsNorm.normalizeTs(df)

  /** Hourly tumbling-window aggregation — batch shape (X6). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("v"))
      .orderBy("h", "event_type")

  /** The same hourly aggregation executed by the Structured Streaming
    * engine: parquet file source → tumbling `window()` agg → memory sink,
    * drained synchronously. Complete output mode so every window is emitted;
    * the watermark/append shape is [[watermarkedSliding]]. */
  def runHourlyStreamingOnce(caller: SparkSession, parquetPath: String,
                             queryName: String = "graft_stream_hourly"): DataFrame = {
    val spark = drainSession(caller)
    val schema = spark.read.parquet(parquetPath).schema
    val dir = stageToDir(parquetPath, queryName)
    val stream = normalizeNanos(spark.readStream.schema(schema).parquet(dir))
    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("c"), sum("value").as("v_raw"))
    drainOnce(agg, queryName, "complete")
      .select(col("window.start").as("h"), col("event_type"), col("c"),
        round(col("v_raw"), 2).as("v"))
      .orderBy("h", "event_type")
  }

  /** Session-unique tmpdir suffix: two concurrent graft processes (an
    * overlapping Verify and Bench) must not share staging/checkpoint/sink
    * directories — a mid-read wipe by the other process corrupts both runs.
    * Stable within a session, so same-session re-runs still reuse paths. */
  private def appSuffix: String =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.applicationId).getOrElse("noapp")

  /** Resolve a parquet table path into a watchable directory — the
    * file-stream source contract is "a landing directory new files arrive
    * in". A DIRECTORY-shaped table (what every Spark/Hadoop writer produces,
    * and the only shape that exists at scale) already IS that: return it
    * untouched, zero copies — the source's listing skips `_SUCCESS` /
    * `.crc` like any batch scan. Only a bare single-file table (the
    * generator's testdata shape, which the source rejects with "basePath
    * must be a directory") needs staging via copy. Round-6 scale-probe
    * lesson: the old unconditional `Files.copy` silently created an EMPTY
    * staging dir for directory tables — every streaming query read zero
    * rows at sf1 — so this branch is load-bearing, not a convenience. */
  private[streaming] def stageToDir(parquetPath: String, name: String): String = {
    val src = java.nio.file.Paths.get(parquetPath)
    if (src.toFile.isDirectory) return parquetPath
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_stream_src_${name}_$appSuffix")
    dir.toFile.mkdirs()
    // Wipe leftovers from earlier processes: a stale differently-named part
    // file would be read as extra data (REPLACE_EXISTING only guards against
    // the same filename).
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName != src.getFileName.toString).foreach(_.delete())
    java.nio.file.Files.copy(src, dir.resolve(src.getFileName),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  /** Hardlink (copy fallback) every data file under `src` into `tgt`,
    * RECURSIVELY, preserving subdirectory structure — a partitioned table
    * (date=…/part-*.parquet subdirs) must stage its leaf files, not zero
    * files: a top-level-only walk silently staged an EMPTY dir for
    * partitioned tables, the same silent-zero-rows class stageToDir's
    * pass-through fixed for flat directory tables. */
  private def linkTree(src: java.io.File, tgt: java.nio.file.Path): Unit =
    Option(src.listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach { f =>
        if (f.isDirectory) {
          val sub = tgt.resolve(f.getName)
          sub.toFile.mkdirs()
          linkTree(f, sub)
        } else {
          val t = tgt.resolve(f.getName)
          try java.nio.file.Files.createLink(t, f.toPath)
          catch {
            case _: Exception => java.nio.file.Files.copy(f.toPath, t,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }

  /** Hive-style partition column names of a directory table, outermost
    * first — read off the first `col=value` subdir chain (every chain has
    * the same columns in a valid layout). Empty for flat tables. */
  private def partitionColsOf(dir: java.io.File): Seq[String] = {
    val sub = Option(dir.listFiles()).getOrElse(Array.empty)
      .find(f => f.isDirectory && f.getName.contains("="))
    sub match {
      case Some(d) => d.getName.takeWhile(_ != '=') +: partitionColsOf(d)
      case None => Seq.empty
    }
  }

  /** The latest event, re-keyed to `userId` and pushed 100 days out — a
    * stream-closure sentinel. `ts` is ns-as-long in the generator's
    * single-file shape but a real TimestampType on Spark-written tables, so
    * it is bumped in the column's own unit either way. */
  private[streaming] def farFutureEvent(events: DataFrame, userId: Long): DataFrame = {
    val bumped =
      if (events.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        col("ts") + lit(100L * 86400L * 1000000000L)
      else col("ts") + expr("INTERVAL 100 DAYS")
    events.orderBy(col("ts").desc).limit(1)
      .withColumn("user_id", lit(userId))
      .withColumn("ts", bumped)
  }

  /** Append sentinel rows beside the input staged in `dir` (a
    * [[stageWritableDir]]), so the file source reads them as part of the
    * same replay. A PARTITIONED table's sentinel must land inside a
    * partition subdir: a bare root-level file next to `col=value` subdirs
    * makes partition discovery throw "conflicting directory structures" —
    * so mirror the staged layout's partition columns (read off the dir
    * names). */
  private[streaming] def appendSentinels(rows: DataFrame, dir: String): Unit = {
    val partCols = partitionColsOf(new java.io.File(dir))
    if (partCols.isEmpty) rows.write.mode("append").parquet(dir)
    else rows.write.partitionBy(partCols: _*).mode("append").parquet(dir)
  }

  /** Staging the CALLER MAY APPEND files to (stream-closure sentinels):
    * always a fresh PRIVATE directory — [[stageToDir]]'s pass-through would
    * have the sentinel appended into the source table itself, silently
    * mutating user data. A directory source's data files are hardlinked in
    * (zero-copy on the same filesystem; per-file copy fallback), a single
    * file goes through the copy path which is already private. The dir is
    * wiped first so a re-run never replays a previous run's sentinel as
    * data. */
  private[streaming] def stageWritableDir(parquetPath: String, name: String): String = {
    val srcFile = new java.io.File(parquetPath)
    if (!srcFile.isDirectory) return stageToDir(parquetPath, name)
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_stream_src_${name}_$appSuffix")
    dir.toFile.mkdirs()
    FileUtil.fullyDeleteContents(dir.toFile) // leftover partition subdirs too
    linkTree(srcFile, dir)
    dir.toString
  }

  /** The session every runner builds its whole plan on (batch reads and
    * `readStream` alike: a file relation keeps the session that built it):
    * a clone of the caller's with the drain settings set once, at creation,
    * so no runner writes the caller's conf. `shuffle.partitions = 2`, since
    * every stateful operator spins one state store per shuffle partition;
    * `nanosAsLong`, for [[graft.engine.TsNorm]]; no-data micro-batches only
    * when emission waits on the watermark advancing after the last data
    * batch. Spark never removes a session's streaming listener bus from the
    * shared bus, so clones are memoized (LRU of `SessionMemo.MaxEntries`)
    * by caller, its `conf.getAll` and `noDataBatches`: a later caller conf
    * change (say, its time zone) still reaches the next drain. */
  private[streaming] def drainSession(caller: SparkSession,
                                      noDataBatches: Boolean = false): SparkSession =
    drainSessions.getOrBuild(caller, caller.conf.getAll, noDataBatches) {
      val s = org.apache.spark.sql.GraftSqlBridge.cloneSession(caller)
      s.conf.set("spark.sql.shuffle.partitions", "2")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        noDataBatches.toString)
      s
    }

  private val drainSessions = new graft.llm.SessionMemo[SparkSession](_ => ())

  /** Run a streaming plan (built on a [[drainSession]]) to completion against
    * a staged file source and return the drained memory-sink table, which is
    * registered in the plan's session under `queryName`. */
  private[streaming] def drainOnce(plan: DataFrame, queryName: String,
                                   outputMode: String): DataFrame = {
    val spark = plan.sparkSession
    spark.catalog.dropTempView(queryName) // re-runnable within one session
    val q = plan.writeStream.outputMode(outputMode)
      .format("memory").queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
    // One-shot drains never reuse their state stores (fresh checkpoint per
    // run), but loaded providers linger in the executor-wide registry where
    // the maintenance thread keeps snapshotting them — across a suite of
    // drains that accumulates into real drag on later stateful queries.
    org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    spark.table(queryName)
  }

  /** Streaming gap-sessionization: `session_window` + watermark in append
    * mode — the 24/7 form of X7 (bounded state: a session's state is evicted
    * once emitted). Append mode only emits a session after the watermark
    * passes its end, so a finite replay needs STREAM CLOSURE: one far-future
    * sentinel event (dummy user −1) advances the global watermark past every
    * real session's end — the standard flush technique for drain-and-stop
    * runs; the sentinel's own (still-open) session is filtered back out.
    * No-data micro-batches are ON here: when all files land in one batch,
    * the emission happens in the empty batch after that batch's watermark
    * update. */
  def runSessionWindowStreamingOnce(caller: SparkSession, parquetPath: String,
                                    gap: String = "30 minutes",
                                    queryName: String = "graft_stream_session"): DataFrame = {
    val spark = drainSession(caller, noDataBatches = true)
    val batchDf = spark.read.parquet(parquetPath)
    val schema = batchDf.schema
    // Writable staging, NOT the pass-through: the sentinel below is appended
    // into this directory, and appending into the source table would mutate
    // user data (round-6 scale-probe near-miss).
    val dir = stageWritableDir(parquetPath, queryName)
    // Sentinel key = Long.MinValue, NOT −1: a corpus with negative user
    // ids would collide with −1 and have real rows silently dropped by the
    // strip filter; MinValue cannot be produced by any generator here and
    // the strip is a strict > comparison, so only the sentinel dies.
    appendSentinels(farFutureEvent(batchDf, Long.MinValue), dir)
    val sessions = normalizeNanos(spark.readStream.schema(schema).parquet(dir))
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("session_window.end").as("end_ts"), col("n_events"))
    drainOnce(sessions, queryName, "append")
      .filter(col("user_id") > Long.MinValue)
      .orderBy("user_id", "start_ts")
  }

  /** Stream-stream inner join with a time-interval condition: purchases
    * joined to the same user's error events within the hour after the
    * purchase. Both sides carry watermarks so the join state is pruned as
    * event time advances — the bounded-state shape a 24/7 deployment needs
    * (without the interval bound + watermarks, both sides' state grows
    * forever). Inner-join results emit as soon as they match, so a one-shot
    * drain yields the complete batch-equivalent answer. */
  def runStreamStreamJoinOnce(caller: SparkSession, parquetPath: String,
                              queryName: String = "graft_stream_ssjoin"): DataFrame = {
    val spark = drainSession(caller)
    val schema = spark.read.parquet(parquetPath).schema
    val dir = stageToDir(parquetPath, queryName)
    def src() = normalizeNanos(spark.readStream.schema(schema).parquet(dir))
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errors = src().filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = purchases.join(errors,
      col("user_id") === col("e_user") &&
        col("e_ts") >= col("p_ts") &&
        col("e_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "error_id")
    drainOnce(joined, queryName, "append")
      .orderBy("purchase_id", "error_id")
  }

  /** Stream-stream LEFT OUTER join with a time-interval condition — the
    * production upgrade over the inner join: a purchase with NO error in
    * its following hour must still emit (with a null right side), and that
    * null result can only be decided once the watermark proves no matching
    * error can still arrive. Outer rows therefore emit on STATE EXPIRY,
    * not on match — so a finite replay needs stream closure on BOTH
    * inputs: one far-future sentinel per side (purchase + error, dummy
    * user −1) advances the global watermark past every real purchase's
    * interval, flushing the unmatched rows; the sentinels' own rows are
    * filtered back out. Unmatched error_id is −1 (not NULL) so the
    * ordering/oracle comparison is total. */
  def runStreamOuterJoinOnce(spark: SparkSession, parquetPath: String,
                             queryName: String = "graft_stream_ojoin"): DataFrame =
    runStreamOuterJoinImpl(spark, parquetPath, queryName, "leftOuter")

  /** FULL OUTER variant: unmatched rows from BOTH sides emit on state
    * expiry — unmatched errors surface too (purchase_id −1), the complete
    * reconciliation view. Same sentinel closure; both unmatched id columns
    * pin to −1 for a total order. */
  def runStreamFullOuterJoinOnce(spark: SparkSession, parquetPath: String,
                                 queryName: String = "graft_stream_fojoin"): DataFrame =
    runStreamOuterJoinImpl(spark, parquetPath, queryName, "fullOuter")

  private def runStreamOuterJoinImpl(caller: SparkSession, parquetPath: String,
                                     queryName: String, joinType: String): DataFrame = {
    val spark = drainSession(caller, noDataBatches = true)
    val batchDf = spark.read.parquet(parquetPath)
    val schema = batchDf.schema
    val dir = stageWritableDir(parquetPath, queryName)
    // Same non-colliding sentinel key as the session drill: MinValue,
    // never −1, so negative real user ids survive the strip below. BOTH
    // side sentinels ride ONE topK scan (checkpointed — each union branch
    // would re-run the scan) and ONE append write; the per-side loop paid
    // a full orderBy-limit scan plus a write job per side for identical
    // rows.
    val top = farFutureEvent(batchDf, Long.MinValue).localCheckpoint(eager = true)
    appendSentinels(Seq("purchase", "error")
      .map(side => top.withColumn("event_type", lit(side)))
      .reduce(_.unionAll(_)), dir)
    def src() = normalizeNanos(spark.readStream.schema(schema).parquet(dir))
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errors = src().filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = purchases.join(errors,
      col("user_id") === col("e_user") &&
        col("e_ts") >= col("p_ts") &&
        col("e_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
      // In fullOuter mode an unmatched ERROR row has a null purchase side,
      // so the sentinel filter must read whichever user column is present.
      .select(coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("user_id"), col("e_user")).as("u"),
        coalesce(col("error_id"), lit(-1L)).as("error_id"))
    drainOnce(joined, queryName, "append")
      .filter(col("u") > Long.MinValue)
      .select("purchase_id", "error_id")
      .orderBy("purchase_id", "error_id")
  }

  /** Late-data discipline drill: the same corpus split into an ON-TIME
    * file (the last 30 days) and a LATE file (everything older), replayed
    * in that order with `maxFilesPerTrigger=1` into a watermarked daily
    * count in append mode. After the on-time batch the watermark stands at
    * max(ts) − 1 hour, so every late row falls behind it and is DROPPED by
    * the stateful aggregation — and only day windows that closed under
    * that watermark ever emit. The emitted frame is therefore exactly
    * derivable (and oracle-checked): on-time rows only, days whose end ≤
    * max(ts) − 1 hour — the pinned statement of what a 24/7 pipeline
    * silently does to late data, made inspectable. */
  def runLateDataDropOnce(caller: SparkSession, parquetPath: String,
                          queryName: String = "graft_stream_late"): DataFrame = {
    val spark = drainSession(caller, noDataBatches = true)
    val batchDf = spark.read.parquet(parquetPath)
    val schema = batchDf.schema
    val isLong = schema("ts").dataType == org.apache.spark.sql.types.LongType
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_stream_src_${queryName}_$appSuffix")
    dir.toFile.mkdirs(); FileUtil.fullyDeleteContents(dir.toFile)
    val maxTs = batchDf.agg(max("ts")).head().get(0)
    val cutoff =
      if (isLong) lit(maxTs.asInstanceOf[Long] - 30L * 86400L * 1000000000L)
      else lit(maxTs) - expr("INTERVAL 30 DAYS")
    def writeOnePart(df: org.apache.spark.sql.DataFrame, name: String): java.io.File = {
      val tmp = s"$dir/_stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val tgt = dir.resolve(s"$name.parquet")
      java.nio.file.Files.move(part.toPath, tgt,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      FileUtil.fullyDelete(new java.io.File(tmp))
      tgt.toFile
    }
    val onTime = writeOnePart(batchDf.filter(col("ts") >= cutoff), "a_ontime")
    val late = writeOnePart(batchDf.filter(col("ts") < cutoff), "b_late")
    // file source batches by modification time under maxFilesPerTrigger —
    // pin the replay order explicitly
    onTime.setLastModified(1000000000000L): Unit
    late.setLastModified(1000000060000L): Unit
    val counts = normalizeNanos(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("date").as("day"), col("n"))
    drainOnce(counts, queryName, "append")
      .orderBy("day")
  }

  /** Streaming key dedup with bounded state:
    * `dropDuplicatesWithinWatermark` keeps one row per key and, unlike plain
    * streaming dropDuplicates, evicts key state once the watermark passes —
    * the only dedup that survives an unbounded stream. Projected to the key
    * columns, the output is the deterministic distinct key set. */
  def runStreamingDedupOnce(caller: SparkSession, parquetPath: String,
                            keys: Seq[String],
                            queryName: String = "graft_stream_dedup"): DataFrame = {
    val spark = drainSession(caller)
    val schema = spark.read.parquet(parquetPath).schema
    val dir = stageToDir(parquetPath, queryName)
    val deduped = normalizeNanos(spark.readStream.schema(schema).parquet(dir))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      .select(keys.map(col): _*)
    drainOnce(deduped, queryName, "append")
      .orderBy(keys.map(col): _*)
  }

  /** Fresh tmpdir path for a run: wiped before use — stale streaming
    * checkpoints pin source offsets, which would make a re-run a no-op
    * against already-read input. */
  private[streaming] def freshDir(name: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/${name}_$appSuffix"
    FileUtil.fullyDelete(new java.io.File(p))
    p
  }

  /** Streaming ETL through the exactly-once FILE sink (the production path;
    * the memory sink is a test harness): filter the stream, append parquet
    * with a checkpoint — the commit log is what makes restarts exactly-once
    * — then read the committed output back as a batch frame. */
  def runStreamToParquetOnce(caller: SparkSession, parquetPath: String,
                             filterExpr: org.apache.spark.sql.Column,
                             queryName: String = "graft_stream_fsink"): DataFrame = {
    val spark = drainSession(caller, noDataBatches = true)
    val schema = spark.read.parquet(parquetPath).schema
    val dir = stageToDir(parquetPath, queryName)
    val outDir  = freshDir(s"graft_fsink_out_$queryName")
    val ckptDir = freshDir(s"graft_fsink_ckpt_$queryName")
    val stream = normalizeNanos(spark.readStream.schema(schema).parquet(dir))
      .filter(filterExpr)
    val q = stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(outDir)
  }

  /** Exactly-once RESTART: the same pipeline is started twice against one
    * checkpoint — wave 1 of the source is processed and committed, wave 2
    * lands while the query is down, the restarted query must pick up ONLY
    * the unprocessed files (the checkpoint's source offsets + file-sink
    * commit log are the mechanism). Double-processing wave 1 would double
    * the counts, so a batch oracle over the full source verifies the
    * recovery semantics end-to-end. */
  def runStreamRestartOnce(caller: SparkSession, parquetPath: String,
                           queryName: String = "graft_stream_restart"): DataFrame = {
    val spark = drainSession(caller, noDataBatches = true)
    val batch = spark.read.parquet(parquetPath)
    val schema = batch.schema
    val srcDir  = freshDir(s"graft_restart_src_$queryName")
    val outDir  = freshDir(s"graft_restart_out_$queryName")
    val ckptDir = freshDir(s"graft_restart_ckpt_$queryName")
    def runWave(): Unit = {
      val stream = normalizeNanos(spark.readStream.schema(schema).parquet(srcDir))
        .filter(col("event_type") === "purchase")
      val q = stream.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    batch.filter(col("event_id") % 2 === 0).write.mode("append").parquet(srcDir)
    runWave() // wave 1: committed to the sink, offsets to the checkpoint
    batch.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(srcDir)
    runWave() // restart: same checkpoint — only the new files may process
    spark.read.parquet(outDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct("event_id").as("n_distinct"),
        round(sum("value"), 2).as("total"))
  }

  /** CDC-style streaming upsert via foreachBatch: each micro-batch folds
    * into a keyed parquet target, LATEST ROW PER KEY under `orderCols`
    * winning — the standard "stream of changes → queryable table"
    * materialization on a non-transactional format. The target and the
    * batch are unioned and re-deduplicated, so a late-arriving OLDER event
    * in a later batch cannot clobber a newer target row (an unconditional
    * per-batch merge would). foreachBatch is the escape hatch that lets a
    * streaming query run batch writers; the fold result is
    * localCheckpoint'd before the overwrite so the target can be read and
    * rewritten in the same batch. */
  def runStreamUpsertOnce(caller: SparkSession, parquetPath: String,
                          keyCol: String, orderCols: Seq[org.apache.spark.sql.Column],
                          queryName: String = "graft_stream_upsert"): DataFrame = {
    val spark = drainSession(caller, noDataBatches = true)
    val schema = spark.read.parquet(parquetPath).schema
    val dir = stageToDir(parquetPath, queryName)
    val targetDir = freshDir(s"graft_upsert_tgt_$queryName")
    val ckptDir   = freshDir(s"graft_upsert_ckpt_$queryName")
    val stream = normalizeNanos(spark.readStream.schema(schema).parquet(dir))
    val q = stream.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertFold(spark, targetDir, batch, keyCol, orderCols)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(targetDir)
  }

  /** One foreachBatch step of [[runStreamUpsertOnce]], exposed for direct
    * testing of the cross-batch contract: union target + batch, keep the
    * first row per key under `orderCols`, rewrite the target. */
  private[streaming] def upsertFold(spark: SparkSession, targetDir: String,
                                    batch: DataFrame, keyCol: String,
                                    orderCols: Seq[org.apache.spark.sql.Column]): Unit = {
    val incoming =
      if (new java.io.File(targetDir).exists)
        spark.read.parquet(targetDir).unionByName(batch)
      else batch
    graft.engine.Ops.dedupKeepFirst(incoming, Seq(col(keyCol)), orderCols)
      .localCheckpoint(true) // materialize BEFORE overwriting the input dir
      .write.mode("overwrite").parquet(targetDir)
  }

  /** Stream-static join: the streaming fact side enriches against a static
    * dimension (re-planned per micro-batch, so a small dimension broadcasts
    * each batch), then aggregates. Complete-mode drain returns the full
    * grouped result. */
  def runStreamStaticJoinOnce(caller: SparkSession, parquetPath: String,
                              dim: DataFrame, joinExpr: org.apache.spark.sql.Column,
                              groupCol: String,
                              queryName: String = "graft_stream_static"): DataFrame = {
    val spark = drainSession(caller)
    val schema = spark.read.parquet(parquetPath).schema
    val dir = stageToDir(parquetPath, queryName)
    val stream = normalizeNanos(spark.readStream.schema(schema).parquet(dir))
    val agg = stream.join(dim, joinExpr)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("c"), sum("value").as("v_raw"))
    drainOnce(agg, queryName, "complete")
      .select(col(groupCol), col("c"), round(col("v_raw"), 2).as("v"))
      .orderBy(groupCol)
  }

  /** Watermarked sliding-window aggregation (append mode) — the 24/7
    * deployment shape; late data beyond 10 minutes is dropped by the
    * watermark so state stays bounded. Takes and returns a *streaming*
    * DataFrame. */
  def watermarkedSliding(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("c"))

  /** Gap-based sessionization via session_window (X7). A session's end is
    * `last event + gap`, Spark's native session semantics. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("session_window.end").as("end_ts"), col("n_events"))
      .orderBy("user_id", "start_ts")

  /** Streaming ordered funnel (view → signup → purchase): the per-user state
    * is a streaming conditional-min aggregate — three timestamps per user,
    * bounded regardless of event volume, updated incrementally as batches
    * arrive (late/out-of-order events fold in correctly because min is
    * order-insensitive). The ordered-step flags and the global reduce run on
    * the drained per-user frame; identical math to the batch q_funnel, so
    * the batch oracle verifies the streaming engine's answer. */
  def runStreamFunnelOnce(caller: SparkSession, parquetPath: String,
                          queryName: String = "graft_stream_funnel"): DataFrame = {
    val spark = drainSession(caller)
    val schema = spark.read.parquet(parquetPath).schema
    val dir = stageToDir(parquetPath, queryName)
    val perUser = normalizeNanos(spark.readStream.schema(schema).parquet(dir))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t1"),
        min(when(col("event_type") === "signup", col("ts"))).as("t2"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t3"))
    drainOnce(perUser, queryName, "complete")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("s_view"),
        sum(when(col("t1").isNotNull && col("t2") > col("t1"), 1L)
          .otherwise(0L)).as("s_signup"),
        sum(when(col("t1").isNotNull && col("t2") > col("t1") &&
          col("t3") > col("t2"), 1L).otherwise(0L)).as("s_purchase"))
  }
}
