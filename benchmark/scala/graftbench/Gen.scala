package graftbench

import java.util.SplittableRandom
import java.util.zip.CRC32

/** Seeded input generation shared by the workloads. Everything here is a
  * pure function of the seed, so the same seed gives byte-identical files. */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xC2B2AE3D27D4EB4FL)

  private val letters = "abcdefghijklmnopqrstuvwxyz"

  /** `n` distinct pseudo-words of 3-9 letters. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += (0 until len).map(_ => letters.charAt(r.nextInt(26))).mkString
    }
    seen.toArray
  }

  /** ISO dates from 2015-01-01 on, one per day. */
  val dates: Array[String] =
    Array.tabulate(3650)(d => java.time.LocalDate.of(2015, 1, 1).plusDays(d).toString)

  /** Seeded Fisher-Yates shuffle. */
  def shuffle[T](r: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  def pad2(i: Int): String = if (i < 10) "0" + i else i.toString

  /** CRC32 of the UTF-8 bytes of `fields` joined by \u0001 — the same value
    * Spark computes as `crc32(cast(concat_ws('\u0001', ...) as binary))`. */
  def rowCrc(fields: Seq[String]): Long = {
    val c = new CRC32
    c.update(fields.mkString("\u0001").getBytes("UTF-8"))
    c.getValue
  }

  /** One CSV field: its value as a reader sees it, and whether it is written
    * quoted. Values never contain quotes or newlines. */
  final case class Field(value: String, quoted: Boolean = false)

  /** Facts about a generated CSV file: rows, bytes, and the row count and
    * summed [[rowCrc]] over the columns at `keep` — the expected result of
    * copying that projection. `rowCrcs` holds each row's crc over all its
    * fields when asked for, for checking previews row by row. */
  final case class CsvFile(path: String, rows: Long, bytes: Long, checksum: Long,
                           rowCrcs: Array[Long])

  /** Write a CSV file of rows made by `row(r, i)` until it holds at least
    * `targetBytes` or `maxRows` rows. */
  def writeCsv(path: String, header: Option[Seq[String]], targetBytes: Long, maxRows: Long,
               r: SplittableRandom, keep: Seq[Int], keepRowCrcs: Boolean)
              (row: (SplittableRandom, Long) => Array[Field]): CsvFile = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 20)
    val line = new java.lang.StringBuilder(512)
    var bytes = 0L
    var rows = 0L
    var sum = 0L
    val crcs = scala.collection.mutable.ArrayBuilder.make[Long]
    def emit(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      out.write(b)
      bytes += b.length
    }
    try {
      header.foreach(h => emit(h.mkString(",") + "\n"))
      while (bytes < targetBytes && rows < maxRows) {
        val fs = row(r, rows)
        line.setLength(0)
        var i = 0
        while (i < fs.length) {
          if (i > 0) line.append(',')
          if (fs(i).quoted) line.append('"').append(fs(i).value).append('"')
          else line.append(fs(i).value)
          i += 1
        }
        line.append('\n')
        emit(line.toString)
        sum += rowCrc(keep.map(k => fs(k).value))
        if (keepRowCrcs) crcs += rowCrc(fs.toSeq.map(_.value))
        rows += 1
      }
    } finally out.close()
    CsvFile(path, rows, bytes, sum, crcs.result())
  }

  // ------------------------------------------------------------ row shapes

  val salesHeader: Seq[String] =
    Seq("sale_id", "customer", "amount", "quantity", "sale_date", "updated_at", "status", "note")
  private val statuses = Array("NEW", "PAID", "SHIPPED", "RETURNED", "CANCELLED")

  /** Header-row file: mixed numeric, date, timestamp and free-text columns;
    * about one note in four is quoted and holds a comma, one in five is
    * empty. */
  def salesRow(words: Array[String])(r: SplittableRandom, i: Long): Array[Field] = {
    val cents = r.nextInt(10000000)
    val d = dates(r.nextInt(dates.length))
    val nWords = r.nextInt(5)
    val note = (0 until nWords).map(_ => words(r.nextInt(words.length)))
    val noteField =
      if (nWords >= 2 && r.nextInt(4) == 0) Field(note.head + ", " + note.tail.mkString(" "), quoted = true)
      else Field(note.mkString(" "))
    Array(Field(i.toString), Field("cust_" + r.nextInt(200000)),
      Field(s"${cents / 100}.${pad2(cents % 100)}"), Field(r.nextInt(1000).toString),
      Field(d), Field(s"$d ${pad2(r.nextInt(24))}:${pad2(r.nextInt(60))}:${pad2(r.nextInt(60))}"),
      Field(statuses(r.nextInt(statuses.length))), noteField)
  }

  private val eventTypes = Array("view", "click", "add_to_cart", "purchase", "search", "share")
  private val countries = Array("GB", "US", "DE", "FR", "IN", "BR", "JP", "NG", "CA", "AU")
  private val devices = Array("ios", "android", "web", "tv")

  /** Headerless file (read back as `column_1..column_10`). */
  def eventRow(r: SplittableRandom, i: Long): Array[Field] = {
    val d = dates(r.nextInt(dates.length))
    Array(Field(i.toString), Field((r.nextLong() >>> 40).toString),
      Field(eventTypes(r.nextInt(eventTypes.length))),
      Field(s"${d}T${pad2(r.nextInt(24))}:${pad2(r.nextInt(60))}:${pad2(r.nextInt(60))}Z"),
      Field(s"${r.nextInt(100000)}.${pad2(r.nextInt(100))}"),
      Field(countries(r.nextInt(countries.length))), Field(devices(r.nextInt(devices.length))),
      Field(r.nextInt(3600000).toString), Field(f"0.${r.nextInt(1000000)}%06d"),
      Field(if (r.nextBoolean()) "true" else "false"))
  }

  private val ptypes = Array("D", "S", "T", "F", "O")
  private val towns = Array("LONDON", "MANCHESTER", "BIRMINGHAM", "LEEDS", "BRISTOL",
    "SHEFFIELD", "LIVERPOOL", "NOTTINGHAM", "YORK", "EXETER", "NORWICH", "DERBY")
  private val streetKinds = Array("ROAD", "STREET", "LANE", "AVENUE", "CLOSE", "DRIVE", "WAY")
  private val hex = "0123456789ABCDEF"

  private def hexDigits(v: Long, n: Int): String = {
    val c = new Array[Char](n)
    var x = v
    var k = n - 1
    while (k >= 0) { c(k) = hex.charAt((x & 0xF).toInt); x >>>= 4; k -= 1 }
    new String(c)
  }

  /** UK price-paid row, every field quoted as in the published files. The
    * transaction id's first group is the row number in fixed-width hex, so
    * ids sort in row order. */
  def pricePaidRow(words: Array[String])(r: SplittableRandom, i: Long): Array[Field] = {
    val town = towns(r.nextInt(towns.length))
    val tx = s"{${hexDigits(i, 8)}-${hexDigits(r.nextLong(), 4)}-${hexDigits(r.nextLong(), 4)}-" +
      s"${hexDigits(r.nextLong(), 4)}-${hexDigits(r.nextLong(), 12)}}"
    val postcode = s"${('A' + r.nextInt(26)).toChar}${('A' + r.nextInt(26)).toChar}${1 + r.nextInt(30)} " +
      s"${r.nextInt(10)}${('A' + r.nextInt(26)).toChar}${('A' + r.nextInt(26)).toChar}"
    def q(s: String) = Field(s, quoted = true)
    Array(q(tx), q((50000 + r.nextInt(2000000)).toString), q(dates(r.nextInt(dates.length)) + " 00:00"),
      q(postcode), q(ptypes(r.nextInt(ptypes.length))), q(if (r.nextInt(10) == 0) "Y" else "N"),
      q(if (r.nextInt(4) == 0) "L" else "F"),
      q(if (r.nextInt(5) == 0) s"FLAT ${1 + r.nextInt(40)}" else (1 + r.nextInt(300)).toString),
      q(if (r.nextInt(8) == 0) s"UNIT ${1 + r.nextInt(9)}" else ""),
      q(s"${words(r.nextInt(words.length)).toUpperCase} ${streetKinds(r.nextInt(streetKinds.length))}"),
      q(if (r.nextBoolean()) words(r.nextInt(words.length)).toUpperCase else ""),
      q(town), q(town + " DISTRICT"), q("GREATER " + town), q(if (r.nextInt(20) == 0) "B" else "A"),
      q("A"))
  }
}
