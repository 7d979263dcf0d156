package graft.engine

import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.jobsLaunchedBy

/** Table previews answered from Parquet footers ([[ParquetFooters]] behind
  * [[Ops.countTotal]] and [[Ops.page]]): every answer equals the full-scan
  * answer, the count runs no Spark job, and every frame or layout the
  * footers cannot answer falls back. */
class ParquetFootersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A fresh catalog's table path; [[read]] reads it back. */
  private def newTable(): String = Files.createTempDirectory("graft_footers").toString + "/t.parquet"
  private def read(path: String): DataFrame = new Catalog(spark, new Path(path).getParent.toString).table("t")
  private def table(df: DataFrame): DataFrame = { val p = newTable(); df.write.parquet(p); read(p) }

  /** Row groups in the Parquet files under `dir`. */
  private def rowGroups(dir: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    root.getFileSystem(conf).listStatus(root).filter(_.getPath.getName.endsWith(".parquet")).map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try reader.getFooter.getBlocks.size finally reader.close()
    }.sum
  }

  /** `countTotal` and every page of `df` (and the one past the end) equal
    * the full-scan answers; `footers` says whether the footer path must
    * have answered the pages. */
  private def assertSameAsScan(df: DataFrame, order: Seq[Column], size: Int, footers: Boolean): Unit = {
    val n = df.count()
    assert(Ops.countTotal(df).collect().toSeq == Seq(Row(n)))
    for (p <- 1 to (n / size + 1).toInt) {
      val offset = (p - 1) * size
      assert(ParquetFooters.page(df, order, offset, size).isDefined == footers, s"page $p")
      assert(Ops.page(df, order, p, size).collect().toSeq ==
        df.orderBy(order: _*).offset(offset).limit(size).collect().toSeq, s"page $p of size $size")
    }
  }

  private def keyed(n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(col("id"), concat(lit("v"), col("id")).as("v"))

  test("multi-file table: count with 0 jobs, every page ascending and descending") {
    val df = table(keyed(1000, 4))
    assert(df.inputFiles.length == 4)
    val (total, jobs) = jobsLaunchedBy(Ops.countTotal(df).collect())
    assert(total.toSeq == Seq(Row(1000L)) && jobs == 0)
    assert(Ops.countTotal(df).schema == df.agg(count(lit(1)).as("total")).schema)
    assertSameAsScan(df, Seq(col("id")), 70, footers = true)
    assertSameAsScan(df, Seq(col("id").desc), 70, footers = true)
    assertSameAsScan(df.select("v", "id"), Seq(col("id").desc_nulls_first), 333, footers = true)
  }

  test("multi-row-group file: integral, date and string keys locate their pages") {
    val path = newTable()
    spark.range(0, 600, 1, 1).select(
        col("id"), col("id").cast("int").as("i"), col("id").cast("short").as("s"),
        date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("d"),
        lpad(col("id").cast("string"), 5, "0").as("k"))
      .write.option("parquet.block.size", 2048)
      .option("parquet.block.size.row.check.min", 10)
      .option("parquet.block.size.row.check.max", 10).parquet(path)
    val df = read(path)
    assert(rowGroups(path) > 1)
    assert(Ops.countTotal(df).collect().toSeq == Seq(Row(600L)))
    for (k <- Seq("id", "i", "s", "d", "k"); order <- Seq(col(k), col(k).desc))
      assertSameAsScan(df, Seq(order), 128, footers = true)
  }

  test("events.parquet through TsNorm: count with 0 jobs, pages by event_id") {
    val df = new Catalog(spark, "/root/testdata/sf0.001").events
    val (total, jobs) = jobsLaunchedBy(Ops.countTotal(df).collect())
    assert(total.toSeq == Seq(Row(df.count())) && jobs == 0)
    assertSameAsScan(df, Seq(col("event_id")), 128, footers = true)
    // ts is the normalized column, not the stored one: the full sort answers.
    assertSameAsScan(df, Seq(col("ts"), col("event_id")), 400, footers = false)
    // A page read on the driver: the stored ts goes through the same TsNorm
    // projection as in the plain read.
    assert(df.schema("ts").dataType == TimestampType)
    for (p <- Seq(1, 2, (total.head.getLong(0) / 128 + 1).toInt)) {
      val (got, jobs) = jobsLaunchedBy(Ops.page(df, Seq(col("event_id")), p, 128).select("event_id", "ts").collect())
      assert(jobs == 0, s"page $p")
      assert(got.exists(!_.isNullAt(1)), s"page $p")
      assert(got.toSeq == df.orderBy("event_id").offset((p - 1) * 128).limit(128)
        .select("event_id", "ts").collect().toSeq, s"page $p")
    }
  }

  test("a second countTotal on an unchanged table opens no file") {
    val dir = Files.createTempDirectory("graft_footers_once").toString
    keyed(1000, 4).write.parquet(s"$dir/t.parquet")
    val c = new Catalog(spark, CountingFs.uri(spark, dir))
    val (first, opened) = CountingFs.during("open", dir)(Ops.countTotal(c.table("t")).collect().toSeq)
    assert(first == Seq(Row(1000L)) && opened >= 4) // the counter sees the footer reads
    val (second, reopened) = CountingFs.during("open", dir)(Ops.countTotal(c.table("t")).collect().toSeq)
    assert(second == Seq(Row(1000L)) && reopened == 0)
  }

  test("a run over LocalAnswers.MaxBytes is read by the job path") {
    val half = LocalAnswers.MaxBytes / 2 + 1
    val Seq(a, b) = Seq("a", "b").map(f => new FileStatus(half, false, 1, half, 0, new Path(s"/t/$f.parquet")))
    val groups = Seq(ParquetFooters.Group(100, 0L, 99L, half, a), ParquetFooters.Group(100, 100L, 199L, half, b))
    def run(offset: Long, desc: Boolean = false) =
      ParquetFooters.locate(groups, LongType, desc, offset, 50).flatten.get
    val inA = run(10)
    assert(inA.files == Seq(a) && inA.bytes == half && ParquetFooters.onDriver(inA))
    val across = run(80)
    assert(across.files == Seq(a, b) && across.bytes == 2 * half && !ParquetFooters.onDriver(across))
    assert(run(80, desc = true).files == Seq(b, a) && !ParquetFooters.onDriver(run(80, desc = true)))
    val atBound = ParquetFooters.Group(10, 0L, 9L, LocalAnswers.MaxBytes, a)
    assert(ParquetFooters.onDriver(ParquetFooters.locate(Seq(atBound), LongType, false, 0, 5).flatten.get))
    val overBound = atBound.copy(bytes = LocalAnswers.MaxBytes + 1)
    assert(!ParquetFooters.onDriver(ParquetFooters.locate(Seq(overBound), LongType, false, 0, 5).flatten.get))
  }

  test("empty table: count 0 with 0 jobs, every page empty") {
    val df = table(keyed(0, 1))
    val (total, jobs) = jobsLaunchedBy(Ops.countTotal(df).collect())
    assert(total.toSeq == Seq(Row(0L)) && jobs == 0)
    assertSameAsScan(df, Seq(col("id")), 10, footers = true)
  }

  test("a page past the end is empty") {
    val df = table(keyed(100, 2))
    for (p <- Seq(2, 3, 1000000))
      assert(Ops.page(df, Seq(col("id")), p, 100).isEmpty, s"page $p")
    assert(ParquetFooters.page(df, Seq(col("id").desc), 100, 100).isDefined)
    assert(Ops.page(df, Seq(col("id").desc), 2, 100).isEmpty)
  }

  test("fallback: filtered, partitioned and CSV frames, a computed key, too many files") {
    val rows = keyed(300, 3).withColumn("g", col("id") % 3)
    val filtered = table(rows).filter(col("g") === 1)
    val partitioned = newTable()
    rows.write.partitionBy("g").parquet(partitioned)
    val csv = Files.createTempDirectory("graft_footers_csv").toString + "/t"
    Sinks.exportCsv(rows, csv)
    for (df <- Seq(filtered, read(partitioned), CsvSource.read(spark, csv, hasHeader = true))) {
      assert(ParquetFooters.rowCount(df).isEmpty)
      assertSameAsScan(df, Seq(col("id")), 64, footers = false)
    }
    // A computed column under a stored column's name is not the stored key.
    assertSameAsScan(table(rows).withColumn("id", -col("id")), Seq(col("id")), 64, footers = false)
    val manyFiles = table(keyed(ParquetFooters.MaxFiles + 1, ParquetFooters.MaxFiles + 1))
    assert(ParquetFooters.rowCount(manyFiles).isEmpty)
    assert(Ops.countTotal(manyFiles).collect().toSeq == Seq(Row(ParquetFooters.MaxFiles + 1L)))
  }

  test("fallback: null keys, overlapping ranges, an equal key at a group boundary, pre-1582 dates") {
    val withNull = table((Seq((None, "null")) ++ (1 to 99).map(i => (Some(i.toLong), s"v$i")))
      .toDF("id", "v").repartitionByRange(2, col("id")))
    assert(ParquetFooters.rowCount(withNull).contains(100L))
    assertSameAsScan(withNull, Seq(col("id")), 30, footers = false)
    assertSameAsScan(withNull, Seq(col("id").desc), 30, footers = false)
    assertSameAsScan(table(keyed(400, 1).repartition(4)), Seq(col("id")), 64, footers = false)
    // Files [0, 10] and [10, 20] share the key 10 (its rows are equal, so
    // the order of the tie cannot change a page).
    val touching = newTable()
    for (keys <- Seq(0 to 10, 10 to 20))
      keys.map(i => (i.toLong, "x")).toDF("id", "v").coalesce(1).write.mode("append").parquet(touching)
    assertSameAsScan(read(touching), Seq(col("id")), 5, footers = false)
    val ancient = table(spark.range(0, 100, 1, 2)
      .select(date_add(lit("1500-01-01").cast("date"), col("id").cast("int")).as("d")))
    assertSameAsScan(ancient, Seq(col("d")), 30, footers = false)
  }

  test("pages of an unchanged table share one reader; a conf change builds a new one") {
    val session = spark.newSession()
    val dir = Files.createTempDirectory("graft_footers_reader").toString
    keyed(1000, 4).write.parquet(s"$dir/t.parquet")
    val df = new Catalog(session, dir).table("t")
    val sc = spark.sparkContext
    /** Broadcasts made while `f` runs, between two marker broadcasts. */
    def broadcasts(f: => Unit): Long = {
      val before = sc.broadcast(0)
      f
      val after = sc.broadcast(0)
      Seq(before, after).foreach(_.destroy())
      after.id - before.id - 1
    }
    def page(p: Int) = Ops.page(df, Seq(col("id")), p, 100).collect().toSeq.map(_.getLong(0))
    assert(page(1) == (0L until 100L))
    assert(broadcasts(assert(page(3) == (200L until 300L))) == 0)
    session.conf.set("spark.graft.probe", "reader")
    assert(broadcasts(assert(page(4) == (300L until 400L))) >= 1)
    assert(broadcasts(assert(page(5) == (400L until 500L))) == 0)
  }
}
