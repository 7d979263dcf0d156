package graft.engine

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Sinks (SURVEY.md §2.9): CSV export round-trip, ClickHouse DDL generation,
  * observed ingest counts. */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("exportCsv round-trips: write → all-String read == original as strings") {
    val df = Seq((1L, "alice", 10.5), (2L, "bob", 20.0)).toDF("id", "name", "amount")
    val out = tmpDir("graft_csv_sink")
    Sinks.exportCsv(df, out, singleFile = true)
    val files = new java.io.File(out).listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length == 1) // singleFile mirrors the reference's one attachment
    val back = CsvSource.readWithHeader(spark, files(0).getAbsolutePath)
    assert(back.columns.toSeq == Seq("id", "name", "amount"))
    val rows = back.orderBy("id").collect().map(_.toSeq)
    assert(rows(0) == Seq("1", "alice", "10.5"))
    assert(rows(1) == Seq("2", "bob", "20.0"))
  }

  test("clickHouseDdl mirrors the reference's CREATE TABLE shape (server.js:586-589)") {
    val df = Seq((1, "x", Option(2.5))).toDF("id", "name", "score")
    val ddl = Sinks.clickHouseDdl("target_tbl", df)
    assert(ddl ==
      "CREATE TABLE IF NOT EXISTS target_tbl (id Int32, name Nullable(String), " +
      "score Nullable(Float64)) ENGINE = MergeTree() ORDER BY tuple()")
  }

  test("ingest materializes the projected subset; re-read matches") {
    val df = Seq((3L, "c", 1.0), (1L, "a", 2.0), (2L, "b", 3.0)).toDF("k", "v", "x")
    val out = tmpDir("graft_ingest") + "/t"
    assert(Sinks.ingestCopyObserved(spark, df, Seq("k", "v"), out) == 3L)
    val back = spark.read.parquet(out)
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("co-bucketed tables join with no exchange (shuffle paid once at write)") {
    for (t <- Seq("graft_bkt_a", "graft_bkt_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // orphan location from a previous JVM's in-memory catalog
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val a = Seq.tabulate(100)(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = Seq.tabulate(100)(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Sinks.writeBucketed(a, "graft_bkt_a", "k", 4)
    Sinks.writeBucketed(b, "graft_bkt_b", "k", 4)
    // Force the shuffle-join path (tiny test tables would broadcast, hiding
    // what bucketing buys): the SMJ must run on bucket layout, zero shuffles.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() == 100)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("writeSorted: range-disjoint files so filters skip whole files") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("v", col("id") * 2)
      .repartition(8) // scramble first
    val out = tmpDir("graft_sorted") + "/t"
    Sinks.writeSorted(df, out, Seq("id"), numFiles = Some(8))
    val back = spark.read.parquet(out)
    assert(back.count() == 10000)
    // A tight range predicate must touch a subset of files: compare scanned
    // file bytes via the executed plan's scan metrics.
    val q = back.filter(col("id") < 100)
    assert(q.count() == 100)
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scan.isDefined)
    val filesRead = scan.get.metrics("numFiles").value
    val totalFiles = new java.io.File(out).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(totalFiles > 1, s"expected multiple files, got $totalFiles")
    assert(filesRead < totalFiles,
      s"filter read all $totalFiles files — no file skipping")
  }

  test("ingestCopyObserved reports the true written row count (not the reference's total===count bug)") {
    val df = Seq.tabulate(123)(i => (i.toLong, s"v$i")).toDF("k", "v")
    val out = tmpDir("graft_ingest_obs") + "/t"
    val n = Sinks.ingestCopyObserved(spark, df, Seq("k"), out)
    assert(n == 123L)
    assert(spark.read.parquet(out).count() == 123L)
  }

  /** Runs a progress ingest and returns (rows written, progress events). */
  private def ingestWithProgress(df: org.apache.spark.sql.DataFrame,
                                 cols: Seq[String], out: String): (Long, Seq[(Long, Long)]) = {
    val events = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val written = Sinks.ingestCopyObserved(spark, df, cols, out,
      Some((p: Long, t: Long) => events.synchronized { events += ((p, t)); () }))
    (written, events.synchronized(events.toSeq))
  }

  test("ingest progress streams >=2 monotonic true-count events (K5 parity)") {
    // 8 write partitions → 8 task-end events; the reference's per-batch
    // NDJSON chunks (server.js:645-649) map to per-task events here.
    val df = spark.range(0, 4000).toDF("k").withColumn("v", col("k") * 2)
      .repartition(8)
    val out = tmpDir("graft_ingest_prog") + "/t"
    val (written, events) = ingestWithProgress(df, Seq("k", "v"), out)
    assert(written == 4000L)
    assert(events.size >= 2, s"expected >=2 progress events, got $events")
    assert(events.map(_._1) == events.map(_._1).sorted, s"non-monotonic: $events")
    assert(events.last._1 == 4000L, s"final processed != total: $events")
    assert(events.forall(_._2 == 4000L), s"total drifted (reference bug): $events")
    // each event reports new rows: processed strictly increases
    assert(events.map(_._1).distinct.size == events.size, s"repeated event: $events")
    assert(spark.read.parquet(out).count() == 4000L)
  }

  test("ingest progress over a Parquet source launches no job besides the write") {
    val src = tmpDir("graft_ingest_pq_src") + "/t"
    spark.range(0, 3000).toDF("k").withColumn("v", col("k") % 7)
      .repartition(3).write.parquet(src)
    val source = spark.read.parquet(src) // schema inference runs its own job
    val out = tmpDir("graft_ingest_pq") + "/t"
    val ((written, events), jobs) = TestSpark.jobsLaunchedBy {
      ingestWithProgress(source, Seq("k", "v"), out)
    }
    assert(written == 3000L && events.last == ((3000L, 3000L)), s"$written $events")
    // total from the footers, so the write is the one job
    assert(jobs == 1, s"expected the write alone, got $jobs jobs")
  }

  test("ingest progress keeps the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("graft-caller-group", "caller")
    try {
      val out = tmpDir("graft_ingest_group") + "/t"
      ingestWithProgress(spark.range(0, 100).toDF("k"), Seq("k"), out)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "graft-caller-group")
    } finally sc.clearJobGroup()
  }

  test("zorder layout: per-file ranges tight on BOTH dimensions") {
    // 32x32 grid written as 4 range-partitioned files. Sorted by x alone,
    // each file spans the full y range; sorted by the Morton code, both
    // per-file ranges shrink — the 2-D data-skipping property.
    import graft.functions.ArrayKernels
    val grid = (for { x <- 0L until 32L; y <- 0L until 32L } yield (x, y))
      .toDF("x", "y").withColumn("z", ArrayKernels.zorder(col("x"), col("y")))
    val dir = tmpDir("graft_zorder") + "/t"
    Sinks.writeSorted(grid, dir, Seq("z"), numFiles = Some(4))
    val spans = spark.read.parquet(dir).withColumn("f", input_file_name())
      .groupBy("f").agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .as[(String, Long, Long)].collect()
    assert(spans.length == 4)
    // each quadrant of the 32x32 Morton curve spans exactly half of each axis
    assert(spans.forall { case (_, sx, sy) => sx <= 16 && sy <= 16 },
      s"z-order files not 2-D local: ${spans.toSeq}")
  }

  test("zorder interleave matches hand-computed Morton codes") {
    import graft.functions.ZOrder64
    assert(ZOrder64.interleave(0L, 0L) == 0L)
    assert(ZOrder64.interleave(1L, 0L) == 1L)  // a → even bits
    assert(ZOrder64.interleave(0L, 1L) == 2L)  // b → odd bits
    assert(ZOrder64.interleave(3L, 3L) == 15L) // 0b11 ⨯ 0b11 → 0b1111
    assert(ZOrder64.interleave(0xFFFFFFFFL, 0L) == 0x5555555555555555L)
  }

  test("compact collapses a many-file directory, content unchanged") {
    val src = tmpDir("graft_compact_src") + "/t"
    val dst = tmpDir("graft_compact_dst") + "/t"
    val df = Seq.tabulate(200)(i => (i.toLong, s"v$i")).toDF("k", "v")
    df.repartition(16).write.mode("overwrite").parquet(src)
    val (before, after) = Sinks.compact(spark, src, dst, targetBytes = Long.MaxValue)
    assert(before == 16 && after == 1, s"before=$before after=$after")
    assert(spark.read.parquet(dst).orderBy("k").as[(Long, String)].collect().toSeq ==
      df.orderBy("k").as[(Long, String)].collect().toSeq)
  }
}
