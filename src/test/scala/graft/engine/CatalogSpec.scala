package graft.engine

import java.nio.file.Files
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.jobsLaunchedBy

/** Catalog surface (SURVEY.md §2.1 S6-S11): list/describe/ping/bootstrap over
  * a directory of parquet tables. */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("listTables and describe over a parquet directory") {
    val dir = Files.createTempDirectory("graft_cat").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t1.parquet")
    Seq((1.5, 2)).toDF("x", "y").write.parquet(s"$dir/t2.parquet")
    val c = new Catalog(spark, dir)
    assert(c.listTables() == Seq("t1", "t2"))
    assert(c.describe("t1") == Seq("id" -> "bigint", "v" -> "string"))
    assert(c.table("t2").count() == 1)
    assert(c.ping())
  }

  test("bootstrapSampleData seeds 5 rows only into an empty catalog (S11)") {
    val dir = Files.createTempDirectory("graft_cat_boot").toString
    val c = new Catalog(spark, dir)
    assert(c.listTables().isEmpty)
    assert(c.bootstrapSampleData())
    assert(c.listTables() == Seq("sample_data"))
    val df = c.table("sample_data")
    assert(df.count() == 5)
    assert(df.columns.toSeq == Seq("id", "name", "age", "email", "created_at"))
    // second call is a no-op: tables exist now
    assert(!c.bootstrapSampleData())
    assert(c.table("sample_data").count() == 5)
  }

  test("a repeated table/describe on an unchanged table runs no Spark job") {
    val dir = Files.createTempDirectory("graft_cat_reuse").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val c = new Catalog(spark, dir)
    val (_, inferJobs) = jobsLaunchedBy(c.table("t"))
    assert(inferJobs >= 1) // the first lookup infers: the counter sees it
    val (df, tableJobs) = jobsLaunchedBy(c.table("t"))
    val (cols, describeJobs) = jobsLaunchedBy(c.describe("t"))
    assert(tableJobs == 0 && describeJobs == 0)
    assert(cols == Seq("id" -> "bigint", "v" -> "string"))
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(1L -> "a", 2L -> "b"))
  }

  test("a table overwritten with a new schema is never served stale") {
    val dir = Files.createTempDirectory("graft_cat_rewrite").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val c = new Catalog(spark, dir)
    assert(c.describe("t") == Seq("id" -> "bigint", "v" -> "string"))
    Seq((2.5, 7, "x"), (3.5, 8, "y")).toDF("x", "y", "z")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(c.describe("t") == Seq("x" -> "double", "y" -> "int", "z" -> "string"))
    assert(c.table("t").orderBy("x").collect().map(r => (r.getDouble(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((2.5, 7, "x"), (3.5, 8, "y")))
    // and back again, now that both schemas have been seen
    Seq((9L, "q")).toDF("id", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(c.describe("t") == Seq("id" -> "bigint", "v" -> "string"))
    assert(c.table("t").collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(9L -> "q"))
  }

  test("a missing table raises the same AnalysisException as a plain read, every time") {
    val dir = Files.createTempDirectory("graft_cat_missing").toString
    val c = new Catalog(spark, dir)
    val plain = intercept[AnalysisException](spark.read.parquet(s"$dir/nope.parquet"))
    for (_ <- 1 to 2) {
      val e = intercept[AnalysisException](c.table("nope"))
      assert(e.getCondition == plain.getCondition && e.getMessage == plain.getMessage)
      intercept[AnalysisException](c.describe("nope"))
    }
  }

  test("a partitionBy table keeps its partition column across lookups") {
    val dir = Files.createTempDirectory("graft_cat_part").toString
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .write.partitionBy("k").parquet(s"$dir/p.parquet")
    val c = new Catalog(spark, dir)
    for (_ <- 1 to 2) {
      assert(c.describe("p") == Seq("id" -> "bigint", "k" -> "string"))
      assert(c.table("p").where("k = 'a'").count() == 2)
    }
  }

  test("events read with a remembered schema equal a plain read + TsNorm, row for row") {
    val c = new Catalog(spark, "/root/testdata/sf0.001")
    val plain = TsNorm.normalizeTs(spark.read.parquet(s"${c.dir}/events.parquet"))
    c.table("events") // infers and remembers
    val (cached, jobs) = jobsLaunchedBy(c.table("events"))
    assert(jobs == 0)
    assert(cached.schema == plain.schema)
    val expected = plain.collect()
    assert(expected.nonEmpty)
    assert(cached.collect().toSeq.map(_.toSeq) == expected.toSeq.map(_.toSeq))
  }

  test("a catalog addressed by a file: URI lists, describes and reads its tables") {
    val dir = Files.createTempDirectory("graft_cat_uri").toFile
    Seq((1L, "a")).toDF("id", "v").write.parquet(new java.io.File(dir, "t1.parquet").getPath)
    Seq((1.5, 2)).toDF("x", "y").write.parquet(new java.io.File(dir, "t2.parquet").getPath)
    val uri = s"file://${dir.getAbsolutePath}"
    val c = new Catalog(spark, uri)
    assert(c.listTables() == Seq("t1", "t2"))
    assert(c.describe("t2") == Seq("x" -> "double", "y" -> "int"))
    assert(c.table("t1").count() == 1)
    assert(new Catalog(spark, s"$uri/absent").listTables().isEmpty)
  }

  test("table and describe leave the session's conf unchanged") {
    val dir = Files.createTempDirectory("graft_cat_conf").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val session = spark.newSession()
    session.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val before = session.conf.getAll
    val c = new Catalog(session, dir)
    assert(c.table("t").count() == 1)
    assert(c.describe("t") == Seq("id" -> "bigint", "v" -> "string"))
    assert(session.conf.getAll == before)
  }

  test("a table read with its remembered schema lists the table directory once") {
    val dir = Files.createTempDirectory("graft_cat_listing").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val c = new Catalog(spark, CountingFs.uri(spark, dir))
    val (_, inferListings) = CountingFs.during("list", s"$dir/t.parquet")(c.table("t"))
    assert(inferListings >= 1) // the counter sees the first read
    val (df, listings) = CountingFs.during("list", s"$dir/t.parquet")(c.table("t"))
    assert(listings == 1)
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(1L -> "a", 2L -> "b"))
  }

  test("two lookups of one remembered table join by column references with fresh attribute ids") {
    val dir = Files.createTempDirectory("graft_cat_selfjoin").toString
    spark.range(0, 100).select($"id".as("customer_id"), ($"id" % 10).as("region_id")).write.parquet(s"$dir/t.parquet")
    val plain = spark.read.parquet(s"$dir/t.parquet")
    val plainRows = plain.as("a").join(plain.as("b"), $"a.customer_id" === $"b.region_id").count()
    val c = new Catalog(spark, dir)
    c.table("t")
    val (a, b) = (c.table("t"), c.table("t"))
    assert(a.join(b, a("customer_id") === b("region_id")).count() == plainRows && plainRows == 100)
  }

  test("a table rewritten in place between two lookups is read fresh") {
    val dir = Files.createTempDirectory("graft_cat_fresh").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val c = new Catalog(spark, dir)
    assert(c.table("t").orderBy("id").as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
    Seq((3L, "c")).toDF("id", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(c.table("t").as[(Long, String)].collect().toSeq == Seq(3L -> "c"))
    assert(Ops.countTotal(c.table("t")).head().getLong(0) == 1)
  }

  test("a remembered table is served from one listing, opening no file") {
    val dir = Files.createTempDirectory("graft_cat_hit").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2).write.parquet(s"$dir/t.parquet")
    val c = new Catalog(spark, CountingFs.uri(spark, dir))
    c.table("t")
    val path = s"$dir/t.parquet"
    val (((df, jobs), listings), opened) =
      CountingFs.during("open", path)(CountingFs.during("list", path)(jobsLaunchedBy(c.table("t"))))
    assert(listings == 1 && opened == 0 && jobs == 0)
    assert(df.orderBy("id").as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
  }
}
