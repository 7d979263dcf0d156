package graft.engine

import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.jobsLaunchedBy

/** Flat-file source semantics (SURVEY.md §2.1 S2-S5, §2.8 F5): schemas from
  * header / preset / positional names, every column String, never inferred
  * from data values. */
class CsvSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpCsv(name: String, lines: String*): String = {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, name)
    Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
    f.getAbsolutePath
  }

  test("readWithHeader: trimmed header names, all columns String") {
    val p = tmpCsv("data.csv", " id , name,amount", "1,alice,10.5", "2,bob,20")
    val df = CsvSource.readWithHeader(spark, p)
    assert(df.columns.toSeq == Seq("id", "name", "amount")) // trimmed (F2)
    assert(df.schema.fields.forall(_.dataType == StringType)) // F5 semantics
    assert(df.count() == 2)
    val r = df.orderBy("id").collect()
    assert(r(0).getString(2) == "10.5") // value stays a String, not a double
  }

  test("readWithHeader skips blank lines (csv-parse skip_empty_lines analog)") {
    val p = tmpCsv("gaps.csv", "a,b", "1,2", "", "3,4", "")
    assert(CsvSource.readWithHeader(spark, p).count() == 2)
  }

  test("readHeaderless: column_1..column_N counted from the first record") {
    val p = tmpCsv("raw.txt", "x,y,z", "1,2,3")
    val df = CsvSource.readHeaderless(spark, p)
    assert(df.columns.toSeq == Seq("column_1", "column_2", "column_3"))
    assert(df.count() == 2) // first line is data, not a header
    assert(df.schema.fields.forall(_.dataType == StringType))
  }

  test("UK property preset: filename match, 16 String columns, no header consumed") {
    assert(CsvSource.isUkPropertyFile("pp-2024.csv"))
    assert(CsvSource.isUkPropertyFile("price-paid-full.csv"))
    assert(!CsvSource.isUkPropertyFile("orders.csv"))
    val row = Seq.fill(16)("v").mkString(",")
    val p = tmpCsv("pp-mini.csv", row, row)
    val df = CsvSource.read(spark, p)
    assert(df.columns.toSeq == CsvSource.ukPropertyColumns)
    assert(df.count() == 2) // both lines are data
    assert(df.schema.fields.forall(_.dataType == StringType))
  }

  test("read dispatch: preset beats header flag; header flag selects reader") {
    val hdr = tmpCsv("plain.csv", "c1,c2", "a,b")
    assert(CsvSource.read(spark, hdr, hasHeader = true).columns.toSeq == Seq("c1", "c2"))
    assert(CsvSource.read(spark, hdr, hasHeader = false).columns.toSeq ==
      Seq("column_1", "column_2"))
  }

  test("stageUpload: original filename preserved so preset dispatch still fires (S1 end-to-end)") {
    val staging = Files.createTempDirectory("graft_staging").toString
    // The "upload" arrives under an anonymized temp name (what a multipart
    // handler hands over); staging must restore the ORIGINAL name because
    // the preset keys on it.
    val row = Seq.fill(16)("v").mkString(",")
    val body = tmpCsv("multipart-tmp-8271", row, row)
    val staged = CsvSource.stageUpload(spark, body, staging,
      fileName = Some("pp-monthly-update.csv"))
    assert(staged.endsWith("pp-monthly-update.csv"))
    val df = CsvSource.read(spark, staged)
    assert(df.columns.toSeq == CsvSource.ukPropertyColumns)
    assert(df.count() == 2)
    // Plain header file stages by its own name and reads back identically.
    val plain = tmpCsv("orders.csv", "c1,c2", "a,b", "c,d")
    val staged2 = CsvSource.stageUpload(spark, plain, staging)
    val back = CsvSource.read(spark, staged2)
    assert(back.columns.toSeq == Seq("c1", "c2") && back.count() == 2)
    // Re-staging overwrites (idempotent re-upload), source left in place.
    CsvSource.stageUpload(spark, plain, staging)
    assert(new java.io.File(plain).exists)
  }

  test("custom delimiter") {
    val p = tmpCsv("tabs.txt", "a\tb", "1\t2")
    val df = CsvSource.readWithHeader(spark, p, delimiter = "\t")
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.collect()(0).getString(1) == "2")
  }

  test("a quoted header or first-record field holding the delimiter stays one column") {
    // the header Sinks.exportCsv writes for a column name with a comma
    val hdr = tmpCsv("quoted.csv", "\"name, city\",age", "\"Ann, Leeds\",30")
    val df = CsvSource.readWithHeader(spark, hdr)
    assert(df.columns.toSeq == Seq("name, city", "age"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("Ann, Leeds", "30")))
    val raw = tmpCsv("quoted.txt", "\"Ann; Leeds\";30", "\"Bob; York\";41")
    val hl = CsvSource.readHeaderless(spark, raw, delimiter = ";")
    assert(hl.columns.toSeq == Seq("column_1", "column_2"))
    assert(hl.orderBy("column_1").collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("Ann; Leeds", "30"), ("Bob; York", "41")))
  }

  private def tmpBytes(name: String, bytes: Array[Byte]): String = {
    val f = new java.io.File(Files.createTempDirectory("graft_csv").toFile, name)
    Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  test("header sniff skips leading blank lines") {
    val p = tmpCsv("lead.csv", "", "", "a,b", "1,2", "3,4")
    val df = CsvSource.readWithHeader(spark, p)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 2)
    assert(CsvSource.readHeaderless(spark, p).columns.toSeq == Seq("column_1", "column_2"))
  }

  test("header sniff handles CRLF line endings and a UTF-8 byte-order mark") {
    val crlf = tmpBytes("crlf.csv", "id,name\r\n1,x\r\n2,y\r\n".getBytes("UTF-8"))
    val df = CsvSource.readWithHeader(spark, crlf)
    assert(df.columns.toSeq == Seq("id", "name")) // no trailing \r on the last name
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("x", "y"))
    val bom = tmpBytes("bom.csv", "\uFEFFid,name\n1,x\n".getBytes("UTF-8"))
    assert(CsvSource.readWithHeader(spark, bom).columns.toSeq == Seq("id", "name"))
  }

  test("header sniff decompresses a .csv.gz file") {
    val bytes = new java.io.ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bytes)
    gz.write("k,v\n1,one\n2,two\n3,three\n".getBytes("UTF-8"))
    gz.close()
    val p = tmpBytes("data.csv.gz", bytes.toByteArray)
    val df = CsvSource.read(spark, p)
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.orderBy("k").collect().map(_.getString(1)).toSeq == Seq("one", "two", "three"))
  }

  test("an empty file sniffs an empty header and reads no rows") {
    val p = tmpBytes("empty.csv", Array.emptyByteArray)
    val headerless = CsvSource.readHeaderless(spark, p)
    assert(headerless.columns.toSeq == Seq("column_1"))
    assert(headerless.count() == 0)
    assert(CsvSource.readWithHeader(spark, p).count() == 0)
  }

  test("header sniff reads a multi-part Sinks.exportCsv directory") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_csv_parts").toString + "/export"
    Sinks.exportCsv((1 to 40).map(i => (i.toLong, s"n$i")).toDF("id", "name").repartition(4),
      out, singleFile = false)
    assert(new java.io.File(out).list().count(_.startsWith("part-")) > 1)
    val df = CsvSource.readWithHeader(spark, out)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 40) // every part file's header dropped, no data lost
  }

  test("CsvSource.read launches no Spark job; a missing path still fails in Spark") {
    val hdr = tmpCsv("plain.csv", "c1,c2", "a,b")
    val raw = tmpCsv("raw.txt", "a,b,c")
    val row = Seq.fill(16)("v").mkString(",")
    val pp = tmpCsv("pp-jobs.csv", row)
    for ((path, hasHeader) <- Seq(hdr -> true, raw -> false, pp -> true)) {
      val (_, jobs) = jobsLaunchedBy(CsvSource.read(spark, path, hasHeader))
      assert(jobs == 0, path)
    }
    intercept[AnalysisException](CsvSource.read(spark, hdr + ".absent"))
  }
}
