package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md §2.9): CSV export, target-table materialization and
  * the ingest — re-expressed as single lazy Spark write pipelines instead of
  * the reference's 1,000-row literal-INSERT loops (server.js:603-718), which
  * were O(n²) reads via an unordered OFFSET cursor. One `df.write` is a
  * single distributed job with atomic directory-commit semantics. There is
  * one ingest, [[ingestCopyObserved]]; its optional progress callback is the
  * reference's `{processed, total}` stream.
  */
object Sinks {

  /** CSV export (K1, server.js:391-415: `SELECT * … FORMAT CSVWithNames`).
    * `singleFile = true` mirrors the reference's one-attachment download; at
    * scale leave it false so each task writes its own part file. */
  def exportCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** JSON-lines export (K1's other wire format — the reference emits
    * `FORMAT JSON` for query results, server.js:126-136): one object per
    * line, so the file splits on line boundaries and re-reads in parallel
    * with an explicit schema (schema-on-read without an inference scan). */
  def exportJsonl(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").json(path)
  }

  /** ORC export — the third columnar wire format beside parquet and the
    * text formats above: columnar + compressed + min/max-indexed, so a
    * re-read gets pushdown and pruning like parquet (the right interchange
    * format when the consumer is Hive/Trino rather than a CSV client). */
  def exportOrc(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").orc(path)
  }

  /** XML export (Spark 4's built-in XML source) — the markup wire format
    * for consumers that want element-per-row documents. Like CSV, XML
    * carries no type system, so the matching read side supplies an explicit
    * schema (schema-on-read; never an inference scan over the corpus). */
  def exportXml(df: DataFrame, path: String, rowTag: String,
                singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").format("xml").option("rowTag", rowTag).save(path)
  }

  /** Target-table DDL (K2, server.js:586-601): the CREATE TABLE string the
    * reference ships to ClickHouse, generated from a Spark schema. For a real
    * ClickHouse target this becomes JDBC `createTableOptions`. */
  def clickHouseDdl(targetTable: String, df: DataFrame,
                    engine: String = "MergeTree()",
                    orderBy: String = "tuple()"): String = {
    val cols = df.schema.fields
      .map(f => s"${f.name} ${ClickHouseTypes.toClickHouse(f.dataType, f.nullable)}")
      .mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $targetTable ($cols) ENGINE = $engine ORDER BY $orderBy"
  }

  /** Writer configured for a real ClickHouse target over JDBC (K2-K4's
    * production path): DDL options carry the reference's engine clause, rows
    * stream in `batchsize` batches — the reference's 1,000-row INSERT loop
    * (server.js:603-655) collapsed into Spark's partition-parallel JDBC
    * writer. Caller supplies url/auth via `options` and invokes `.save()`.
    * `options` is also the dialect hook: later `.options()` entries override
    * the ClickHouse `driver`/`createTableOptions` defaults, so the same
    * writer targets any JDBC endpoint. Executed end-to-end against embedded
    * Derby (JdbcSinkDerbySpec: DDL, batched append, multi-partition flush,
    * parquet parity); the live-ClickHouse leg stays env-gated in
    * ClickHouseIntegrationSpec. */
  def clickHouseJdbcWriter(df: DataFrame, url: String, table: String,
                           batchSize: Int = 1000,
                           engine: String = "MergeTree()",
                           orderBy: String = "tuple()",
                           options: Map[String, String] = Map.empty) =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .option("createTableOptions", s"ENGINE = $engine ORDER BY $orderBy")
      .option("driver", "com.clickhouse.jdbc.ClickHouseDriver")
      .options(options)
      .mode("append")

  /** Sorted-layout parquet write for data skipping: clustering rows by the
    * filter columns tightens per-row-group min/max statistics, so range
    * predicates skip whole row groups at scan time (the poor man's Z-order;
    * the reference's `ORDER BY id` MergeTree sort key serves the same role,
    * create_sample_table.sql:9). `repartitionByRange` pre-ranges partitions
    * so file-level min/max are disjoint too — predicates then skip whole
    * FILES, not just row groups. */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  numFiles: Option[Int] = None): Unit = {
    val ranged = numFiles match {
      case Some(n) => df.repartitionByRange(n, sortCols.map(col): _*)
      case None    => df.repartitionByRange(sortCols.map(col): _*)
    }
    ranged.sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed table write: pre-shuffles once at write time so every later
    * equi-join/aggregation on `key` between co-bucketed tables runs with NO
    * exchange (the 100 TB lever for repeated joins on the same key — pay the
    * shuffle once, reuse it forever). Requires a metastore table, not a bare
    * path. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Drop-and-rewrite a bucketed table, clearing any orphan warehouse
    * directory a previous JVM's in-memory catalog left behind (saveAsTable
    * refuses to overwrite a location it has no metadata for). */
  def rewriteBucketed(spark: SparkSession, df: DataFrame, table: String,
                      key: String, buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    org.apache.hadoop.fs.FileUtil.fullyDelete(loc)
    writeBucketed(df, table, key, buckets)
  }

  /** Small-files compaction: rewrite a parquet directory into
    * ceil(bytes / targetBytes) files. Streaming sinks and incremental
    * ingests accrete thousands of tiny files; at scale that turns every
    * scan's file-listing + footer-reads into the bottleneck. Coalesce (no
    * shuffle) just concatenates partitions. Returns (filesBefore,
    * filesAfter). Not atomic w.r.t. concurrent readers of `path` — compact
    * into `outPath` and swap, or schedule in a maintenance window. */
  def compact(spark: SparkSession, path: String, outPath: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    // Hadoop FS recursive listing, not java.io.File: partitioned layouts
    // nest their files in subdirectories and the input may be HDFS/S3 — a
    // local top-level listing would see 0 bytes and coalesce(1) the world.
    // (Note compaction rewrites FLAT — a partitionBy layout should compact
    // per partition directory.)
    def listParquet(p: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(hp)) Seq.empty
      else {
        val it = fs.listFiles(hp, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet")) buf += st
        }
        buf.toSeq
      }
    }
    val files = listParquet(path)
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(path).coalesce(nOut)
      .write.mode("overwrite").parquet(outPath)
    (files.length, listParquet(outPath).length)
  }

  /** The ingest (K3-K5, server.js:603-655): a projected copy of a source
    * into a parquet "table" — one shuffle-free scan→project→write job in
    * place of the reference's paged SELECT/INSERT loop. Returns the true
    * written row count, read off the write's own `observe` metric (the
    * reference reports `total === count`, so its percentage is always 100 —
    * a bug we do not replicate).
    *
    * `onProgress(processed, total)` is the reference's NDJSON
    * `{processed, total}` stream. Spark's write is one distributed job, so
    * "a batch finished" becomes "a write task finished": a SparkListener adds
    * each task's `outputMetrics.recordsWritten`, counting only the stages of
    * jobs that carry this call's private local property, so concurrent jobs
    * on the same session never pollute the stream. The property's previous
    * value is restored afterwards; the caller's job group is never touched.
    * `total` comes from [[Ops.countTotal]] on the projection (footer row
    * counts, no job, for a plain Parquet source). Listener events post
    * asynchronously, so the call waits until the final count has been
    * reported (or 10 s elapse) before it returns. Without a callback the
    * call is the bare select → observe → write. */
  def ingestCopyObserved(spark: SparkSession, df: DataFrame, cols: Seq[String],
                         targetPath: String,
                         onProgress: Option[(Long, Long) => Unit] = None): Long = {
    val projected = df.select(cols.map(col): _*)
    // Observation registers its own QueryExecutionListener, so the metric is
    // captured from the write's QueryExecution (df.write plans a fresh one —
    // reading observedMetrics off the pre-write plan would always miss).
    val obs = org.apache.spark.sql.Observation("ingest_progress")
    def write(): Long = {
      projected.observe(obs, count(lit(1)).as("rows_written"))
        .write.mode("overwrite").parquet(targetPath)
      obs.get("rows_written").asInstanceOf[Long]
    }
    onProgress match {
      case None => write()
      case Some(report) => withProgress(spark, projected, report)(write())
    }
  }

  private val ProgressTag = "graft.ingest.tag"

  private def withProgress(spark: SparkSession, projected: DataFrame,
                           report: (Long, Long) => Unit)(write: => Long): Long = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val total = Ops.countTotal(projected).head().getLong(0)
    val tag = java.util.UUID.randomUUID().toString
    val reported = new java.util.concurrent.atomic.AtomicLong(0L)
    val myStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && tag == e.properties.getProperty(ProgressTag))
          e.stageIds.foreach(id => myStages.add(id))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (myStages.contains(e.stageId)) {
          val recs = Option(e.taskMetrics).map(_.outputMetrics.recordsWritten).getOrElse(0L)
          if (recs > 0) { // publish only after the callback has seen it
            val p = reported.get() + recs
            report(p, total)
            reported.set(p)
          }
        }
    }
    val saved = sc.getLocalProperty(ProgressTag)
    sc.addSparkListener(listener)
    sc.setLocalProperty(ProgressTag, tag)
    try {
      val written = write
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (reported.get() < written && System.nanoTime() < deadline)
        Thread.sleep(10)
      written
    } finally {
      sc.setLocalProperty(ProgressTag, saved)
      sc.removeSparkListener(listener)
    }
  }
}
