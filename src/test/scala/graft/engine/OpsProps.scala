package graft.engine

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import graft.TestSpark

/** ScalaCheck properties (SURVEY.md §5.2): pagination partitions the ordered
  * table (the bug class of the reference's unordered OFFSET cursor), dedup
  * idempotence, CSV round-trip identity. Runs under sbt's native ScalaCheck
  * framework (no scalatestplus bridge needed). */
object OpsProps extends Properties("graft.engine") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Small row counts: each Prop evaluation runs Spark jobs.
  private val rowsGen = Gen.chooseNum(0, 60)
  private val pageSizeGen = Gen.chooseNum(1, 25)

  property("pages partition the ordered table: no dup, no loss, stable order") =
    Prop.forAll(rowsGen, pageSizeGen) { (n: Int, pageSize: Int) =>
      val df = (1 to n).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      val nPages = (n + pageSize - 1) / pageSize
      val seen = (1 to math.max(nPages, 1)).flatMap(p =>
        Ops.page(df, Seq(col("id")), p, pageSize).select("id").as[Long].collect())
      seen == (1L to n.toLong)
    }

  property("countTotal == count() and pages == the plain page over any Parquet layout") =
    Prop.forAll(Gen.chooseNum(0, 150), Gen.chooseNum(1, 5), Gen.oneOf(256, 2048, 1 << 20),
      Gen.oneOf(true, false), Gen.oneOf(true, false), Gen.oneOf(true, false), Gen.chooseNum(20, 60)) {
      (n: Int, files: Int, blockBytes: Int, sorted: Boolean, nulls: Boolean, desc: Boolean, size: Int) =>
        // Null-key rows are equal, so the order of their tie cannot change a page.
        val rows = (0 until n).map(i =>
          if (nulls && i % 17 == 5) (None, "null") else (Some(i.toLong), s"v$i")).toDF("k", "v")
        val laid = if (sorted) rows.repartitionByRange(files, col("k")).sortWithinPartitions("k")
          else rows.repartition(files)
        val path = java.nio.file.Files.createTempDirectory("graft_prop_footers").toString + "/t.parquet"
        laid.write.option("parquet.block.size", blockBytes)
          .option("parquet.block.size.row.check.min", 5)
          .option("parquet.block.size.row.check.max", 5).parquet(path)
        val df = spark.read.parquet(path)
        val order = Seq(if (desc) col("k").desc else col("k"))
        val pagesEqual = (1 to n / size + 1).forall { p =>
          Ops.page(df, order, p, size).collect().toSeq ==
            df.orderBy(order: _*).offset((p - 1) * size).limit(size).collect().toSeq
        }
        // Every page the footers locate is read on the driver: these layouts
        // are far under LocalAnswers.MaxBytes.
        val located = (1 to n / size + 1).filter(p => ParquetFooters.page(df, order, (p - 1) * size, size).isDefined)
        val (_, locatedJobs) = TestSpark.jobsLaunchedBy(located.foreach(p => Ops.page(df, order, p, size).collect()))
        Ops.countTotal(df).head().getLong(0) == df.count() && pagesEqual &&
          (!sorted || nulls || ParquetFooters.page(df, order, 0, size).isDefined) && locatedJobs == 0
    }

  property("located pages over row groups in or out of key order equal the plain page, with 0 jobs") =
    Prop.forAll(Gen.chooseNum(1, 150), Gen.chooseNum(1, 4), Gen.oneOf(true, false), Gen.oneOf(true, false),
      Gen.chooseNum(7, 60)) { (n: Int, files: Int, shuffled: Boolean, desc: Boolean, size: Int) =>
      // Key-disjoint files; sorted files hold several row groups each, and a
      // shuffled file one group whose rows are out of key order.
      val rows = (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartitionByRange(files, col("k"))
      val path = java.nio.file.Files.createTempDirectory("graft_prop_groups").toString + "/t.parquet"
      (if (shuffled) rows.sortWithinPartitions(rand()) else rows.sortWithinPartitions("k"))
        .write.option("parquet.block.size", if (shuffled) 1 << 20 else 256)
        .option("parquet.block.size.row.check.min", 5)
        .option("parquet.block.size.row.check.max", 5).parquet(path)
      val df = spark.read.parquet(path)
      val order = Seq(if (desc) col("k").desc else col("k"))
      val pages = 1 to n / size + 1
      val located = pages.forall(p => ParquetFooters.page(df, order, (p - 1) * size, size).isDefined)
      val (got, jobs) = TestSpark.jobsLaunchedBy(pages.map(p => Ops.page(df, order, p, size).collect().toSeq))
      located && jobs == 0 &&
        got == pages.map(p => df.orderBy(order: _*).offset((p - 1) * size).limit(size).collect().toSeq)
    }

  property("a file page's observed total equals count(), also after the file is restaged") =
    Prop.forAll(Gen.chooseNum(0, 80), Gen.chooseNum(1, 40), Gen.chooseNum(1, 4)) {
      (n: Int, more: Int, pageNum: Int) =>
        val dir = java.nio.file.Files.createTempDirectory("graft_prop_observed")
        val source = dir.resolve("upload.csv")
        def stage(rows: Int) = {
          java.nio.file.Files.writeString(source, (Seq("id,v") ++ (0 until rows).map(i => f"$i%04d,r$i")).mkString("\n"))
          CsvSource.read(spark, CsvSource.stageUpload(spark, source.toString, dir.resolve("staged").toString))
        }
        def counted(rows: Int) = {
          val df = stage(rows)
          val unpaged = Ops.countTotal(df).head().getLong(0) // no page yet: counted by a job
          Ops.page(df, Seq(col("id")), pageNum, 10).collect()
          val (total, jobs) = TestSpark.jobsLaunchedBy(Ops.countTotal(df).head().getLong(0))
          unpaged == rows && total == df.count() && total == rows && jobs == 0
        }
        counted(n) && counted(n + more)
    }

  property("dedupKeepFirst: output keys unique, idempotent, subset of input") =
    Prop.forAll(Gen.listOfN(40, Gen.chooseNum(0, 9)), Gen.chooseNum(0L, 100L)) {
      (keys: List[Int], salt: Long) =>
        val df = keys.zipWithIndex.map { case (k, i) => (k, salt + i) }.toDF("k", "seq")
        val out = Ops.dedupKeepFirst(df, Seq(col("k")), Seq(col("seq")))
        val rows = out.as[(Int, Long)].collect().toSeq
        val again = Ops.dedupKeepFirst(out, Seq(col("k")), Seq(col("seq")))
          .as[(Int, Long)].collect().toSeq
        rows.map(_._1).distinct.size == rows.size &&
          rows.toSet.subsetOf(keys.zipWithIndex.map { case (k, i) => (k, salt + i) }.toSet) &&
          rows.sorted == again.sorted &&
          rows.map(_._1).toSet == keys.toSet
    }

  property("asofJoin == brute-force latest-at-or-before reference") =
    Prop.forAll(
      Gen.listOfN(25, Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0, 50))),
      Gen.listOfN(15, Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0, 50)))) {
      (leftRaw: List[(Long, Int)], rightRaw: List[(Long, Int)]) =>
        val left = leftRaw.zipWithIndex.map { case ((k, t), i) => (i, k, t) }
          .toDF("eid", "k", "t")
        // asof contract: right unique per (key, time)
        val rightRows = rightRaw.distinct.map { case (k, t) => (k, t, s"v${k}_$t") }
        val right = rightRows.toDF("rk", "rt", "rv")
        // Multiset compare (sorted sequences, not a Map): a regression that
        // duplicates or drops left rows must fail, not be collapsed away.
        val got = Ops.asofJoin(left, right, "k", "rk", "t", "rt", Seq("rv"))
          .select("eid", "rv").collect()
          .map(r => r.getInt(0) -> Option(r.getString(1))).toSeq.sorted
        val expected = leftRaw.zipWithIndex.map { case ((k, t), i) =>
          i -> rightRows.filter(r => r._1 == k && r._2 <= t)
            .sortBy(_._2).lastOption.map(_._3)
        }.sorted
        got == expected
    }

  property("mergeUpsert: result keys = target ∪ updates; updates win; idempotent") =
    Prop.forAll(
      Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0, 100))),
      Gen.listOfN(6, Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(200, 300)))) {
      (tRaw: List[(Long, Int)], uRaw: List[(Long, Int)]) =>
        // contract: unique per key on both sides
        val t = tRaw.distinctBy(_._1)
        val u = uRaw.distinctBy(_._1)
        val target  = t.toDF("k", "v")
        val updates = u.toDF("k", "v")
        val once = Ops.mergeUpsert(target, updates, Seq("k"))
        val got = once.as[(Long, Int)].collect().toSeq.sorted
        val expected = (t.filterNot { case (k, _) => u.exists(_._1 == k) } ++ u).sorted
        val twice = Ops.mergeUpsert(once, updates, Seq("k"))
          .as[(Long, Int)].collect().toSeq.sorted
        got == expected && twice == got
    }

  property("csv export → all-String read round-trips the stringified table") =
    Prop.forAll(Gen.listOfN(10, Gen.alphaNumStr.suchThat(_.nonEmpty))) { vals: List[String] =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_csv").toString
      Sinks.exportCsv(df, dir, singleFile = true)
      val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".csv")).head
      val back = CsvSource.readWithHeader(spark, f.getAbsolutePath)
        .orderBy(col("id").cast("long")).as[(String, String)].collect().toSeq
      back == vals.zipWithIndex.map { case (v, i) => (i.toString, v) }
    }
}
