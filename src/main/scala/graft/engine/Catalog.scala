package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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
  * Schema reuse. Parquet schema inference costs one Spark job per read, so
  * each instance remembers the raw inferred schema of every table it has
  * read, keyed by a fingerprint of the table's files (name, length and
  * modification time of each visible file) and by the session confs that
  * change inference ([[inferenceConfs]]). [[table]] lists the table on every
  * call: while the fingerprint and confs match it reads with the remembered
  * schema and runs no job; otherwise it infers again and remembers the new
  * schema. A table rewritten in place (an ingest, `mode("overwrite")`,
  * [[bootstrapSampleData]]) therefore never serves a stale schema. Missing
  * tables and directories with subdirectories (partitioned layouts) are
  * never remembered: they always go through plain inference, which keeps
  * Spark's own errors and partition discovery. Safe to share between
  * threads.
  */
final class Catalog(val spark: SparkSession, val dir: String) {

  // Parquet TIMESTAMP(NANOS) columns are rejected by Spark unless read as
  // raw longs; [[TsNorm.normalizeTs]] then converts whatever physical shape
  // the generator produced (ns-as-long, µs NTZ, µs UTC) to TimestampType.
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Table name → (fingerprint, raw inferred schema). */
  private val schemas = new ConcurrentHashMap[String, (Catalog.Fingerprint, StructType)]()

  /** Full-table scan (reference S6, `SELECT * FROM t`, server.js:400-404). */
  def table(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val raw = fingerprint(path) match {
      case None => spark.read.parquet(path)
      case Some(fp) =>
        Option(schemas.get(name)) match {
          case Some((`fp`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(name, fp -> df.schema)
            df
        }
    }
    TsNorm.normalizeTs(raw)
  }

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

  /** The table's files and the inference confs, or None when the table
    * must not be remembered: the path is missing or holds subdirectories. */
  private def fingerprint(path: String): Option[Catalog.Fingerprint] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Try(fs.getFileStatus(p)).toOption.flatMap { st =>
      val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      if (files.exists(_.isDirectory)) None
      else Some(Catalog.Fingerprint(
        files.filter(f => Catalog.visible(f.getPath.getName))
          .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
          .sorted,
        Catalog.inferenceConfs.map(spark.conf.getOption)))
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

  private final case class Fingerprint(files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  /** Hadoop's convention for data files: names starting with `_` or `.`
    * (`_SUCCESS`, checksums, temporaries) carry no rows. */
  private[engine] def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")
}
