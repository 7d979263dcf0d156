package graft.engine

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Flat-file (CSV/TXT) sources with the reference's semantics: every column
  * is `String`, schemas come from the header row, a preset, or positional
  * `column_N` names — never inferred from data values (SURVEY.md §2.1 S2-S5,
  * §2.8 F5; reference/server/server.js:261-349).
  */
object CsvSource {

  /** The reference's hard-coded UK property-price schema, triggered by
    * filenames containing `pp-` or `price-paid`
    * (reference/server/server.js:32-49, 263-266). 16 columns, all String,
    * no header row. */
  val ukPropertyColumns: Seq[String] = Seq(
    "transaction_id", "price", "date_of_transfer", "postcode",
    "property_type", "old_new", "duration", "paon", "saon", "street",
    "locality", "town_city", "district", "county", "ppd_category_type",
    "record_status")

  /** Does the filename select the preset UK property schema?
    * (reference/server/server.js:263-266) */
  def isUkPropertyFile(fileName: String): Boolean = {
    val f = fileName.toLowerCase
    f.contains("pp-") || f.contains("price-paid")
  }

  /** Header-row CSV scan (S2): first record supplies trimmed column names,
    * every column String, blank lines dropped (csv-parse `skip_empty_lines`,
    * server.js:480). Spark's CSV reader drops blank lines natively. */
  def readWithHeader(spark: SparkSession, path: String, delimiter: String = ","): DataFrame =
    scan(spark, path, firstRecord(spark, path, delimiter).map(_.trim), header = true, delimiter)

  /** Headerless CSV fallback scan (S3): `column_1..column_N` counted from the
    * first record (server.js:322-349). */
  def readHeaderless(spark: SparkSession, path: String, delimiter: String = ","): DataFrame = {
    val n = firstRecord(spark, path, delimiter).length
    scan(spark, path, (1 to n).map(i => s"column_$i"), header = false, delimiter)
  }

  /** Preset-schema scan (S4): UK property files — fixed 16-col String schema,
    * no header row consumed (server.js:261-278). */
  def readUkProperty(spark: SparkSession, path: String): DataFrame =
    scan(spark, path, ukPropertyColumns, header = false)

  /** The options of every scan here; the sniffed first line is tokenized
    * under the same ones. */
  private def csvOptions(header: Boolean, delimiter: String): Map[String, String] =
    Map("header" -> header.toString, "sep" -> delimiter)

  /** The one CSV scan: every column a String named by `names`. */
  private def scan(spark: SparkSession, path: String, names: Seq[String],
                   header: Boolean, delimiter: String = ","): DataFrame =
    spark.read
      .options(csvOptions(header, delimiter))
      .schema(StructType(names.map(n => StructField(n, StringType, nullable = true))))
      .csv(path)

  /** The fields of the sniffed first line, tokenized by univocity with the
    * parser settings Spark's scan derives from the same options, so a quoted
    * field that holds the delimiter stays one field. An empty line is one
    * empty field. */
  private def firstRecord(spark: SparkSession, path: String, delimiter: String): Seq[String] = {
    val settings = new CSVOptions(csvOptions(header = false, delimiter), false,
      spark.sessionState.conf.sessionLocalTimeZone).asParserSettings
    Option(new CsvParser(settings).parseLine(firstLine(spark, path)))
      .filter(_.nonEmpty).fold(Seq(""))(_.toSeq.map(f => Option(f).getOrElse("")))
  }

  /** Upload staging (S1, reference/server/server.js: multer writes the
    * multipart body under `uploads/` and the original filename rides along
    * in the request): copy an incoming flat file into the staging
    * directory PRESERVING the original filename — schema dispatch (the
    * `pp-`/`price-paid` preset, [[isUkPropertyFile]]) keys off that name,
    * so staging under an anonymized temp name would silently lose the
    * preset. Goes through the Hadoop FS API on both ends, so the staging
    * dir can be HDFS/S3 exactly like local disk, and the staged file is
    * immediately scannable by every reader here. Returns the staged path
    * for [[read]]. */
  def stageUpload(spark: SparkSession, sourcePath: String, stagingDir: String,
                  fileName: Option[String] = None): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(sourcePath)
    val dstDir = new org.apache.hadoop.fs.Path(stagingDir)
    val dst = new org.apache.hadoop.fs.Path(dstDir, fileName.getOrElse(src.getName))
    val dfs = dstDir.getFileSystem(conf)
    dfs.mkdirs(dstDir)
    org.apache.hadoop.fs.FileUtil.copy(
      src.getFileSystem(conf), src, dfs, dst,
      false /* keep source */, true /* overwrite */, conf)
    dst.toString
  }

  /** Dispatch the way the reference does: preset by filename, else header
    * presence decides (the reference always assumes a header unless the
    * preset matched; callers that know better use readHeaderless). */
  def read(spark: SparkSession, path: String, hasHeader: Boolean = true): DataFrame = {
    val name = new java.io.File(path).getName
    if (isUkPropertyFile(name)) readUkProperty(spark, path)
    else if (hasHeader) readWithHeader(spark, path)
    else readHeaderless(spark, path)
  }

  // Header sniffing: the first non-empty line, read on the driver through
  // the Hadoop FS API (not local java.io), so it works against object storage
  // (s3a/gcs/hdfs) the same as a local path and launches no Spark job. Like
  // Spark's text source: globs expand, a directory contributes its visible
  // files (`_`/`.` prefixes skipped) in name order, compressed files are
  // decoded by their extension's codec, lines end at LF, CR or CRLF, text is
  // UTF-8 and a leading byte-order mark is dropped. Reading stops at the
  // first non-empty line. A path that matches nothing sniffs as "" and the
  // scan that follows raises Spark's path-not-found error.
  private def firstLine(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pattern = new Path(path)
    val fs = pattern.getFileSystem(conf)
    val codecs = new CompressionCodecFactory(conf)
    def firstIn(file: Path): Option[String] = {
      val raw = fs.open(file)
      val in = Option(codecs.getCodec(file)).fold[InputStream](raw)(_.createInputStream(raw))
      val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      try {
        val first = Option(reader.readLine()).map(_.stripPrefix("\uFEFF"))
        (first.iterator ++ Iterator.continually(reader.readLine()).takeWhile(_ != null)).find(_.nonEmpty)
      } finally reader.close()
    }
    Option(fs.globStatus(pattern)).toSeq.flatten
      .flatMap { st =>
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq
          // Hadoop's convention: `_`/`.` names (`_SUCCESS`, checksums) carry no rows.
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
      }
      .iterator.map(st => firstIn(st.getPath)).collectFirst { case Some(line) => line }
      .getOrElse("")
  }
}
