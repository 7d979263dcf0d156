package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Relational operator surface (SURVEY.md §2): projection, deterministic
  * pagination, join chains, top-k, keep-first dedup. */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val nums = (1 to 57).map(i => (i.toLong, s"name_$i", i % 7)).toDF("id", "name", "grp")

  test("project selects exactly the requested columns in order") {
    val out = Ops.project(nums, Seq("name", "id"))
    assert(out.columns.toSeq == Seq("name", "id"))
    assert(out.count() == 57)
  }

  test("page: concat of all pages == ordered table (no dup, no loss)") {
    // Precisely the bug class of the reference's unordered OFFSET cursor
    // (server.js:610, 642): pages must partition the ordered table.
    val size = 10
    val pages = (1 to 6).flatMap(p =>
      Ops.page(nums, Seq(col("id")), p, size).select("id").as[Long].collect())
    assert(pages == (1L to 57L))
  }

  test("page clamps to MaxPageSize and floors page number at 1") {
    assert(Ops.page(nums, Seq(col("id")), 1, 5000).count() == 57) // clamp ≤ 1000
    val p0 = Ops.page(nums, Seq(col("id")), 0, 10).select("id").as[Long].collect()
    assert(p0.toSeq == (1L to 10L)) // page 0 treated as page 1
  }

  test("page offsets past Int.MaxValue: rejected when scanning, empty from footers") {
    // (3,000,000 - 1) * 1000 and (4,294,969 - 1) * 1000 overflow an Int: the
    // first to a negative offset, the second to 704.
    for (p <- Seq(3000000, 4294969)) {
      val e = intercept[IllegalArgumentException](Ops.page(nums, Seq(col("id")), p, 1000))
      assert(e.getMessage.contains(s"${(p - 1).toLong * 1000}"), e.getMessage)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ops_deep").toString
    nums.write.parquet(s"$dir/nums.parquet")
    val table = new Catalog(spark, dir).table("nums")
    for (p <- Seq(3000000, 4294969))
      assert(Ops.page(table, Seq(col("id")), p, 1000).isEmpty, s"page $p")
  }

  test("countTotal returns one row named total") {
    val r = Ops.countTotal(nums).collect()
    assert(r.length == 1 && r(0).getLong(0) == 57)
    assert(Ops.countTotal(nums).columns.toSeq == Seq("total"))
  }

  test("countTotal after a failed file page counts by job, not from the page's partial count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ops_failed").toString
    nums.select($"id".cast("string").as("id"), $"name").coalesce(1).write.option("header", "true").csv(s"$dir/t")
    val boom = udf((id: String) => if (id == "40") throw new IllegalStateException("bad row") else id)
    // A failing projection over a plain file scan; count(1) prunes it away.
    val df = CsvSource.read(spark, s"$dir/t").withColumn("checked", boom($"id"))
    intercept[Exception](Ops.page(df, Seq(col("id")), 1, 10).collect())
    val (total, jobs) = TestSpark.jobsLaunchedBy(Ops.countTotal(df).head().getLong(0))
    assert(total == 57 && jobs >= 1)
  }

  test("joinChain left-folds inner joins; joinChainSql accepts raw ON strings") {
    val a = Seq((1, "a1"), (2, "a2"), (3, "a3")).toDF("k", "av")
    val b = Seq((1, "b1"), (2, "b2")).toDF("kb", "bv")
    val c = Seq((1, "c1")).toDF("kc", "cv")
    val out = Ops.joinChainSql(a, Seq(b -> "k = kb", c -> "kb = kc"))
      .select("av", "bv", "cv").collect()
    assert(out.map(_.toSeq).toSet == Set(Seq("a1", "b1", "c1")))
    // theta-join conditions are expressible too (reference ON strings are raw)
    val theta = Ops.joinChainSql(a, Seq(b -> "k > kb")).select("k", "kb").collect()
    assert(theta.map(r => (r.getInt(0), r.getInt(1))).toSet == Set((2, 1), (3, 1), (3, 2)))
  }

  test("topK returns exactly the k smallest/largest under the given order") {
    val top = Ops.topK(nums, 5, Seq(col("id").desc)).select("id").as[Long].collect()
    assert(top.toSeq == Seq(57L, 56L, 55L, 54L, 53L))
  }

  test("topK plans as TakeOrderedAndProject (no full sort, no full shuffle)") {
    val plan = Ops.topK(nums, 5, Seq(col("id").desc)).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("asofJoin matches latest right row at-or-before each left time") {
    val ev = Seq(
      (1, 100L, 10), (2, 100L, 25), (3, 100L, 30), (4, 200L, 15), (5, 300L, 50))
      .toDF("eid", "k", "t")
    val quotes = Seq(
      (100L, 10, "a"), (100L, 20, "b"), (100L, 30, "c"), (200L, 99, "z"))
      .toDF("qk", "qt", "px")
    val out = Ops.asofJoin(ev, quotes, "k", "qk", "t", "qt", Seq("px"))
      .orderBy("eid").select("eid", "px").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)).orNull)).toSeq
    assert(out == Seq(
      (1, "a"),   // exactly at t=10 → inclusive
      (2, "b"),   // between 20 and 30
      (3, "c"),   // exactly at 30
      (4, null),  // right rows all later
      (5, null))) // no right rows for key 300
  }

  test("saltedJoin == plain join on skewed data (row multiset identical)") {
    // 90% of fact rows share one hot key — the salting target.
    val big = (1 to 500).map(i => (if (i % 10 == 0) i.toLong else 7L, s"p$i"))
      .toDF("k", "payload")
    val small = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty")).toDF("sk", "name")
    val plain = big.join(small, big("k") === small("sk"))
      .select("k", "payload", "name").collect().map(_.toSeq).sortBy(_.toString)
    val salted = Ops.saltedJoin(big, small, "k", "sk", salts = 8)
      .select("k", "payload", "name").collect().map(_.toSeq).sortBy(_.toString)
    assert(salted.toSeq == plain.toSeq)
    assert(plain.length == 450 + 2) // 450 hot-key matches + keys 10 and 20
  }

  test("dedupKeepFirst keeps exactly the first row per key under the tiebreak") {
    val df = Seq(
      ("k1", 3, "late"), ("k1", 1, "first"), ("k1", 2, "mid"),
      ("k2", 9, "only")).toDF("k", "seq", "tag")
    val out = Ops.dedupKeepFirst(df, Seq(col("k")), Seq(col("seq")))
      .orderBy("k").select("k", "tag").collect().map(_.toSeq)
    assert(out.toSeq == Seq(Seq("k1", "first"), Seq("k2", "only")))
  }

  test("dedupKeepFirst is idempotent") {
    val df = Seq(("a", 1), ("a", 2), ("b", 1)).toDF("k", "s")
    val once = Ops.dedupKeepFirst(df, Seq(col("k")), Seq(col("s")))
    val twice = Ops.dedupKeepFirst(once, Seq(col("k")), Seq(col("s")))
    assert(once.orderBy("k", "s").collect().toSeq == twice.orderBy("k", "s").collect().toSeq)
  }

  test("mergeUpsert: updates replace matched keys, inserts land, rest untouched") {
    val target  = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "tag", "v")
    val updates = Seq((2L, "b2", 21.0), (9L, "new", 90.0)).toDF("k", "tag", "v")
    val out = Ops.mergeUpsert(target, updates, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 21.0),
      (3L, "c", 30.0), (9L, "new", 90.0)))
  }

  test("mergeUpsert replaces a NULL-key row instead of duplicating it") {
    val target  = Seq((Some(1L), "a"), (None, "nullrow")).toDF("k", "tag")
    val updates = Seq((Option.empty[Long], "nullrow2")).toDF("k", "tag")
    val out = Ops.mergeUpsert(target, updates, Seq("k"))
      .orderBy(col("k").asc_nulls_first)
      .as[(Option[Long], String)].collect().toSeq
    assert(out == Seq((None, "nullrow2"), (Some(1L), "a")))
  }

  test("mergeUpsert with no matching keys is a plain union") {
    val target  = Seq((1L, 1.0)).toDF("k", "v")
    val updates = Seq((2L, 2.0)).toDF("k", "v")
    val out = Ops.mergeUpsert(target, updates, Seq("k"))
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1.0), (2L, 2.0)))
  }

  test("bloomPrunedJoin == plain join (no false negatives), empty dim → empty") {
    val big = spark.range(0, 5000).toDF("k")
      .withColumn("v", pmod(col("k") * 17, lit(1000)))
    val small = spark.range(0, 5000, 97).toDF("sk") // sparse key subset
    val expected = big.join(small, col("k") === col("sk"))
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    val got = Ops.bloomPrunedJoin(big, small, "k", "sk")
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    val none = Ops.bloomPrunedJoin(big, small.filter(col("sk") < 0), "k", "sk")
    assert(none.count() == 0)
  }

  test("ntileExact == ntile() window, including n % k != 0 and duplicate keys") {
    import org.apache.spark.sql.expressions.Window
    // 1003 rows (1003 = 4*250 + 3: first 3 buckets get 251), scrambled input,
    // duplicated sort values so the tiebreak column is load-bearing.
    val df = spark.range(0, 1003).toDF("id")
      .withColumn("v", pmod(col("id") * 37, lit(101)))
      .repartition(7)
    for (k <- Seq(4, 5, 1, 1003, 2000)) {
      val expected = df
        .withColumn("b", ntile(k).over(Window.orderBy(col("v"), col("id"))))
        .select("id", "b").orderBy("id")
        .as[(Long, Int)].collect().toSeq
      val got = Ops.ntileExact(df, k, Seq(col("v"), col("id")), "b")
        .select("id", "b").orderBy("id")
        .as[(Long, Int)].collect().toSeq
      assert(got == expected, s"ntileExact($k) diverges from ntile($k)")
    }
  }
}
