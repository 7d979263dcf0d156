package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, CsvSource, Sinks}

/** bulk_transfer: one client runs the batch side of the tool in a fixed
  * cycle: an ingest (stage a CSV upload, read it through the schema
  * dispatch, write a projected parquet copy), an export (write a parquet
  * table back out as CSV) and a near-dup pass over a fresh slice of a
  * document corpus. The three ingest files take the three schema paths:
  * header row, headerless `column_N`, and the `pp-` price-paid preset. */
final class BulkTransfer(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  import BulkTransfer._

  private val fileBytes: Long = if (ctx.tiny) 2L << 20 else FileMB * 1000000L
  private val exportRows: Long = fileBytes / 110 // ~110 CSV bytes per export row
  private val catalog = new Catalog(spark, ctx.path("tables"))
  private val corpus = new DedupCorpus(ctx)

  /** An ingest source: its schema path, the file, how to read it, and the
    * columns copied. */
  private final case class Source(path: String, file: Gen.CsvFile, hasHeader: Boolean,
                                  cols: Seq[String])
  private var sources: Seq[Source] = Nil
  private var exportExpected: (Long, Long) = (0L, 0L)
  private var opIndex = 0

  /** The three ingest files, the export table and the corpus, made
    * concurrently. */
  def generate(): Unit = {
    val words = Gen.vocabulary(Gen.rng(ctx.seed, 1), 5000)
    val s = ctx.seed
    val made = new Array[Source](3)
    Par.run(
      () => {
        val keep = Seq(0, 1, 2, 4, 5, 6, 7)
        made(0) = Source("header", Gen.writeCsv(ctx.path(s"uploads/sales_$s.csv"), Some(Gen.salesHeader),
          fileBytes, Long.MaxValue, Gen.rng(s, 11), keep, keepRowCrcs = false)(Gen.salesRow(words)),
          hasHeader = true, keep.map(Gen.salesHeader))
      },
      () => {
        val keep = 0 to 8
        made(1) = Source("column_n", Gen.writeCsv(ctx.path(s"uploads/events_$s.csv"), None,
          fileBytes, Long.MaxValue, Gen.rng(s, 12), keep, keepRowCrcs = false)(Gen.eventRow),
          hasHeader = false, keep.map(k => s"column_${k + 1}"))
      },
      () => {
        val keep = 0 to 14
        made(2) = Source("pp", Gen.writeCsv(ctx.path(s"uploads/pp-$s.csv"), None,
          fileBytes, Long.MaxValue, Gen.rng(s, 13), keep, keepRowCrcs = false)(Gen.pricePaidRow(words)),
          hasHeader = true, keep.map(CsvSource.ukPropertyColumns))
      },
      () => {
        writeExportTable("sales_archive", exportRows)
        exportExpected = fingerprint(catalog.table("sales_archive"))
      },
      () => corpus.generate())
    sources = made.toSeq
  }

  /** The export source: mixed-type columns, each a fixed function of the
    * row id and the seed. */
  private def writeExportTable(name: String, rows: Long): Unit = {
    val s = ctx.seed % 1000003
    val id = col("id")
    spark.range(0, rows, 1, ctx.cpus).select(
        id.as("sale_id"),
        pmod(id * 7919 + s, lit(200000)).as("customer_id"),
        (pmod(id * 31 + s, lit(10000000)).cast("decimal(12,0)") / 100).cast("decimal(12,2)").as("amount"),
        pmod(id * 13 + s, lit(1000)).cast("int").as("quantity"),
        date_add(lit("2015-01-01").cast("date"), pmod(id * 17 + s, lit(3650)).cast("int")).as("sale_date"),
        timestamp_seconds(lit(1420070400L) + pmod(id * 104729 + s, lit(315360000))).as("updated_at"),
        concat(lit("item, "), pmod(id * 7 + s, lit(50000)).cast("string")).as("item"),
        element_at(array(lit("NEW"), lit("PAID"), lit("SHIPPED"), lit("RETURNED")),
          (pmod(id + s, lit(4)) + 1).cast("int")).as("status"),
        (pmod(id * 2654435761L + s, lit(1000003)).cast("double") / 7.0).as("score"),
        (pmod(id + s, lit(2)) === 0).as("flag"))
      .write.mode("overwrite").parquet(ctx.path(s"tables/$name.parquet"))
  }

  /** (rows, order-independent sum of per-row 32-bit hashes over every
    * column; 32 bits so the sum cannot overflow). */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** (rows, summed crc32 over the all-string columns) — what the
    * generator computed for the copied projection. */
  private def stringChecksum(df: DataFrame): (Long, Long) = {
    val joined = concat_ws("\u0001", df.columns.map(c => coalesce(col(c), lit(""))): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(joined.cast("binary"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def ingest(src: Source, tr: Tracer, p: Phase): Unit = {
    val staging = ctx.path("staging")
    val target = ctx.path(s"out/ingest_$opIndex")
    val name = new java.io.File(src.file.path).getName
    val t0 = System.nanoTime()
    val written = p.attempt(s"ingest $name") {
      tr.op("ingest") {
        val staged = tr.span("csvsource.stage")(CsvSource.stageUpload(spark, src.file.path, staging))
        val df = tr.span("csvsource.read")(CsvSource.read(spark, staged, src.hasHeader))
        tr.span("sinks.ingest_copy")(Sinks.ingestCopyObserved(spark, df, src.cols, target))
      }
    }
    val ns = System.nanoTime() - t0
    for (w <- written if p.check(s"ingest $name: $w rows written, ${src.file.rows} expected") {
        w == src.file.rows &&
          stringChecksum(spark.read.parquet(target)) == (src.file.rows -> src.file.checksum)
      }) {
      p.record(s"ingest.${src.path}", ns / 1e6)
      p.record(s"ingest.${src.path}_rows", src.file.rows.toDouble)
      p.record("files_written", Files.dataFiles(target).size.toDouble)
    }
    Files.delete(target)
    Files.delete(new java.io.File(staging, name))
  }

  private def export(table: String, expected: (Long, Long), tr: Tracer, p: Phase): Unit = {
    val target = ctx.path(s"out/export_$opIndex")
    val t0 = System.nanoTime()
    val schema = p.attempt(s"export $table") {
      tr.op("export") {
        val df = tr.span("catalog.table")(catalog.table(table))
        tr.span("sinks.export_csv")(Sinks.exportCsv(df, target))
        df.schema
      }
    }
    val ns = System.nanoTime() - t0
    for (sc <- schema if p.check(s"export $table round-trips") {
        fingerprint(spark.read.schema(sc).option("header", "true").csv(target)) == expected
      }) {
      p.record("export", ns / 1e6)
      p.record("export_rows", expected._1.toDouble)
      p.record("files_written", Files.dataFiles(target).size.toDouble)
    }
    Files.delete(target)
  }

  /** One whole cycle at full scale, untimed. */
  def warmup(): Phase = {
    val p = new Phase
    cycle(p, Untraced, injectAt = -1)
    p
  }

  /** Ingest, export, near-dup pass; the ingests go through the three files
    * in turn. A pass runs whole cycles of nine operations, so it weighs the
    * schema paths and operations equally, and as many as `seconds` holds on
    * a 4-core host. The count does not follow the clock: latencies still
    * fall from cycle to cycle, so a pass that a slow host cut short would
    * also lose its fastest cycle. */
  def run(seconds: Double, tr: Tracer, minShare: Double): Phase = {
    val p = new Phase
    for (c <- 0 until math.max(1, math.round(seconds / CycleSeconds).toInt))
      cycle(p, tr, injectAt = if (c == 0 && ctx.injectError) 0 else -1)
    p
  }

  /** Nine operations; with `injectAt` >= 0, that one is an ingest of a
    * file that does not exist, which the program must reject. */
  private def cycle(p: Phase, tr: Tracer, injectAt: Int): Unit =
    for (i <- 0 until 9) {
      if (i == injectAt) ingest(missing, tr, p)
      else i % 3 match {
        case 0 => ingest(sources(i / 3), tr, p)
        case 1 => export("sales_archive", exportExpected, tr, p)
        case _ => corpus.op(tr, p)
      }
      p.noteStorage(spark)
      opIndex += 1
    }

  private def missing: Source =
    sources.head.copy(file = sources.head.file.copy(path = ctx.path("uploads/missing.csv")))

  /** The sample groups of each operation kind. Each ingest file is a group
    * of its own, as the three schema paths differ in cost. */
  private def kinds: Seq[Seq[String]] =
    Seq(sources.map(s => s"ingest.${s.path}"), Seq("export"), Seq("dedup"))

  /** Each operation kind weighs the same, and so does each group within a
    * kind: a kind's figure is the geometric mean over its groups, and the
    * workload's the geometric mean over the kinds. `op_p50_ms` is made of
    * the groups' medians and `rows_per_s` of their rows (or documents) per
    * median operation. `op_tail_ms` scales `op_p50_ms` by the tail
    * quantile of every sample divided by its group's median, so all
    * samples inform the tail. */
  def summary(p: Phase): Summary = {
    def perKind(f: String => Double) = Stats.geomean(kinds.map(gs => Stats.geomean(gs.map(f))))
    val p50 = perKind(g => Stats.median(p.ms(g)))
    val ratios = kinds.flatten.flatMap { g =>
      val m = Stats.median(p.ms(g))
      p.ms(g).map(_ / m)
    }
    val q = Stats.tailQ(ratios.size)
    Summary(p50, p50 * Stats.quantile(ratios, q), q,
      perKind(g => Stats.mean(p.ms(s"${g}_rows")) / (Stats.median(p.ms(g)) / 1000)), ratios.size)
  }

  /** Rows (or documents) per second of operation time, over a kind. */
  private def rate(p: Phase, groups: Seq[String]): Double =
    groups.map(g => p.ms(s"${g}_rows").sum).sum / (groups.map(g => p.ms(g).sum).sum / 1000)

  def detail(p: Phase): Map[String, Any] = Map(
    "ingest_rows_per_s" -> rate(p, kinds.head), "export_rows_per_s" -> rate(p, Seq("export")),
    "op_ms" -> kinds.flatten.map(k => k -> p.ms(k)).toMap,
    "ingest_file_mb" -> sources.map(_.file.bytes / 1e6),
    "ingest_file_rows" -> sources.map(_.file.rows), "export_rows" -> exportRows) ++ corpus.detail(p)

  def layers(p: Phase, t: TraceReport): Map[String, Double] = {
    val ingests = t.ops.filter(_.name == "op.ingest")
    val writes = t.spans.filter(_.layer == "sinks")
    val w = t.sumAgg(writes)
    Map(
      "csvsource.sniff_ms" -> t.medianMs("csvsource.read"),
      "csvsource.stage_ms" -> t.medianMs("csvsource.stage"),
      "csvsource.bytes_read" -> Stats.median(ingests.map(o => t.opAgg(o).inBytes.toDouble)),
      "sinks.write_ms" -> Stats.median(writes.map(_.durMs)),
      "sinks.bytes_written_per_input_byte" -> w.outBytes.toDouble / w.inBytes,
      "sinks.files_written" -> Stats.mean(p.ms("files_written"))) ++ corpus.layers(p, t)
  }
}

object BulkTransfer {
  /** Size of each generated ingest file; the export table is sized to write
    * about as much CSV. */
  val FileMB = 8L
  /** Time of one cycle on a 4-core host, with its checks. */
  val CycleSeconds = 5.0
}
