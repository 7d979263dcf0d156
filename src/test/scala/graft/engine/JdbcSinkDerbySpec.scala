package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** K3/K4 JDBC ingest mechanics, EXECUTED — against embedded Derby.
  *
  * The reference's flagship ingest (reference/server/server.js:530-735) is
  * DDL + a batched INSERT loop into a live ClickHouse server. Our writer
  * (`Sinks.clickHouseJdbcWriter`, Sinks.scala:76) targets the same wire
  * protocol, but no server/network exists in this sandbox — the live leg
  * stays env-gated in ClickHouseIntegrationSpec. What CAN execute offline is
  * every mechanic of the writer short of the ClickHouse dialect itself:
  * connection handling, dialect-generated CREATE TABLE, partition-parallel
  * batched INSERT (`batchsize`), append-mode semantics, and read-back parity
  * — all of which are dialect-independent Spark JDBC code paths. Derby's
  * embedded driver ships in /opt/spark/jars (the Hive metastore engine), so
  * `jdbc:derby:memory:` gives a real JDBC endpoint with zero network.
  *
  * The writer's `options` map is the production dialect hook: a caller
  * pointing at a different JDBC target overrides `driver` and
  * `createTableOptions` (later `.options()` wins over earlier `.option()`s
  * in DataFrameWriter) — exactly what these tests do for Derby, and what a
  * Postgres/MySQL deployment would do identically.
  */
class JdbcSinkDerbySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // One in-memory Derby database for the suite; lives for the JVM.
  private val url = "jdbc:derby:memory:graftdb;create=true"
  // Derby resolves unquoted identifiers to UPPERCASE; Spark's writer quotes
  // the name it's given verbatim, so we pass uppercase names everywhere and
  // quoted/unquoted lookups agree.
  private def derbyOptions: Map[String, String] = Map(
    // Dialect hook: replace the ClickHouse driver + engine clause. Empty
    // createTableOptions = plain dialect-generated CREATE TABLE.
    "driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    "createTableOptions" -> ""
  )

  private lazy val sample =
    Seq((1L, "alpha", 10.5), (2L, "beta", 20.25), (3L, "gamma", 30.0),
        (4L, "delta", 40.75), (5L, "epsilon", 50.0))
      .toDF("id", "name", "price")

  private def readBack(table: String) =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()

  test("clickHouseJdbcWriter executes end-to-end: DDL + batched append + read-back") {
    // batchSize = 2 forces multiple executeBatch() flushes per partition —
    // the same batching the reference implements by hand with 1,000-row
    // INSERT strings (server.js:603-655).
    Sinks.clickHouseJdbcWriter(sample, url, "GRAFT_RT",
        batchSize = 2, options = derbyOptions)
      .save()
    val back = readBack("GRAFT_RT").orderBy("id")
    assert(back.count() == 5)
    assert(back.columns.toSeq.map(_.toLowerCase) == Seq("id", "name", "price"))
    assert(back.select("name").as[String].collect().toSeq ==
      Seq("alpha", "beta", "gamma", "delta", "epsilon"))
    assert(back.select(round(sum("price"), 2)).as[Double].head() == 151.5)
  }

  test("append mode accumulates rows instead of truncating (reference INSERT semantics)") {
    Sinks.clickHouseJdbcWriter(sample, url, "GRAFT_APPEND",
        batchSize = 1000, options = derbyOptions)
      .save()
    Sinks.clickHouseJdbcWriter(sample.filter($"id" <= 2), url, "GRAFT_APPEND",
        batchSize = 1000, options = derbyOptions)
      .save()
    val back = readBack("GRAFT_APPEND")
    assert(back.count() == 7)
    assert(back.filter($"id" === 1).count() == 2)
  }

  test("JDBC ingest matches the parquet ingest row-for-row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jdbc-parity")
    val pq = dir.resolve("copy").toString
    Sinks.ingestCopyObserved(spark, sample, Seq("id", "name", "price"), pq)
    Sinks.clickHouseJdbcWriter(sample, url, "GRAFT_PARITY",
        batchSize = 2, options = derbyOptions)
      .save()
    val viaParquet = spark.read.parquet(pq)
    val viaJdbc = readBack("GRAFT_PARITY")
      .select($"id".cast("long"), $"name", $"price")
    assert(viaJdbc.exceptAll(viaParquet).isEmpty &&
           viaParquet.exceptAll(viaJdbc).isEmpty)
  }

  test("multi-partition writes land every partition's batches") {
    val wide = spark.range(0, 1000).repartition(8)
      .select($"id", (rand(7) * 100).as("v"))
    Sinks.clickHouseJdbcWriter(wide, url, "GRAFT_WIDE",
        batchSize = 37, options = derbyOptions)   // non-divisor: ragged final batches
      .save()
    val back = readBack("GRAFT_WIDE")
    assert(back.count() == 1000)
    assert(back.select(countDistinct("id")).as[Long].head() == 1000)
  }
}
