package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Spark-native analog of the reference's catalog surface: `SHOW TABLES`
  * (reference/server/server.js:139-144) and `DESCRIBE TABLE`
  * (reference/server/server.js:230-246), re-expressed over a directory of
  * parquet tables.
  *
  * On a real cluster this is a thin veneer over the metastore
  * (`spark.catalog`); here tables are `{dir}/{name}.parquet`, each a file or
  * a directory of part files, and `dir` may be any Hadoop FS URI (local
  * path, `file:`, HDFS, S3). Reads are lazy DataFrames, so Catalyst column
  * pruning / predicate pushdown reach the parquet scan untouched.
  *
  * Relation reuse, one listing per read. Inference costs one Spark job per
  * read and resolving a relation several milliseconds, so each instance
  * remembers every table's raw `LogicalRelation` with the session confs
  * that change inference ([[inferenceConfs]]). [[table]] lists the table
  * path once through the Hadoop FS API, skipping what Spark's own listing
  * skips; while that listing equals the relation's
  * [[ParquetFooters.snapshot]] (path, length and mtime of each file) and the
  * confs equal the remembered ones, it returns the remembered relation with
  * fresh attribute ids (no job, no file opened). Any difference, a
  * subdirectory or a listing error reads the table again and remembers the
  * new relation, so a table rewritten in place (an ingest,
  * `mode("overwrite")`, [[bootstrapSampleData]]) is never served stale.
  * Missing tables and partitioned layouts are never remembered: they keep
  * Spark's own errors and partition discovery. Safe to share between
  * threads.
  *
  * The session's conf is never written. Parquet reads
  * `spark.sql.legacy.parquet.nanosAsLong` from it alone, so the session's
  * owner sets it (every session builder in this repo does) for
  * [[TsNorm.normalizeTs]] to convert `TIMESTAMP(NANOS)` columns; without it
  * such a column fails with Spark's own `AnalysisException`.
  */
final class Catalog(val spark: SparkSession, val dir: String) {

  /** Table name → (inference confs it was read under, raw relation). */
  private val relations = new ConcurrentHashMap[String, (Seq[Option[String]], LogicalRelation)]()

  /** Full-table scan (reference S6, `SELECT * FROM t`, server.js:400-404). */
  def table(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val confs = Catalog.inferenceConfs.map(spark.conf.getOption)
    val raw = Option(relations.get(name))
      .collect { case (`confs`, leaf) if listing(path).contains(ParquetFooters.snapshot(leaf)) =>
        GraftSqlBridge.ofRows(spark, leaf.newInstance())
      }
      .getOrElse {
        val df = spark.read.parquet(path)
        df.queryExecution.analyzed match {
          case leaf @ LogicalRelation(rel: HadoopFsRelation, _, _, _, _) if rel.partitionSchema.isEmpty =>
            relations.put(name, confs -> leaf)
          case _ => relations.remove(name)
        }
        df
      }
    TsNorm.normalizeTs(raw)
  }

  /** The files at `path`, as [[ParquetFooters.snapshot]] gives them, from
    * one listing; None for a subdirectory or a listing error. */
  private def listing(path: String): Option[Seq[(String, Long, Long)]] = Try {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(fs.makeQualified(p)).toSeq.filterNot(f => GraftSqlBridge.hiddenPathName(f.getPath.getName))
  }.toOption.filterNot(_.exists(_.isDirectory))
    .map(_.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1))

  /** SHOW TABLES (reference S8), listed through the same Hadoop FS API the
    * reads use. */
  def listTables(): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Try(fs.listStatus(root)).getOrElse(Array.empty[FileStatus]).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }

  /** DESCRIBE TABLE → (name, type) pairs (reference S9, server.js:230-246). */
  def describe(name: String): Seq[(String, String)] =
    table(name).schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  /** Connection test (reference S10, `client.ping()`, server.js:126-136). */
  def ping(): Boolean = spark.range(1).count() == 1L

  /** Sample-data bootstrap (reference S11, server.js:146-179 +
    * clickhouse/create_sample_table.sql): if the catalog directory holds no
    * tables, seed the 5-row `sample_data` table (so a fresh catalog has
    * something to browse, exactly the reference's empty-database behavior).
    * Returns true when seeding happened. */
  def bootstrapSampleData(): Boolean = {
    if (listTables().nonEmpty) false
    else {
      import org.apache.spark.sql.functions._
      val rows = Seq(
        (1, "John Doe", 30, "john@example.com"),
        (2, "Jane Smith", 25, "jane@example.com"),
        (3, "Bob Johnson", 40, "bob@example.com"),
        (4, "Alice Brown", 35, "alice@example.com"),
        (5, "Charlie Wilson", 28, "charlie@example.com"))
      import spark.implicits._
      rows.toDF("id", "name", "age", "email")
        .withColumn("created_at", current_timestamp()) // reference uses now()
        .write.mode("ignore").parquet(s"$dir/sample_data.parquet")
      true
    }
  }

  /** Convenience accessors for the standard testdata tables. */
  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  def events: DataFrame    = table("events")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Catalog {

  /** Session confs whose values change the schema Parquet inference
    * produces. */
  private val inferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")
}
