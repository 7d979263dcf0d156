package graftbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, CsvSource, Ops}

/** interactive_preview: two clients share the session and send a seeded,
  * read-only stream of table previews, flat-file previews, join views and
  * top-10 similarity searches over an IVF index — the tool's browsing
  * surface. Every table key is dense, sorted and unique, so the rows of any
  * page follow from the seed alone. */
final class InteractivePreview(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  import InteractivePreview._

  private val nOrders: Long = if (ctx.tiny) 20000L else 100000L
  private val nCustomers: Long = if (ctx.tiny) 2000L else 10000L
  private val nRegions = 50L
  private val nProducts = 5000L
  private val csvRows: Long = if (ctx.tiny) 2000L else 30000L
  private val minRequests = if (ctx.tiny) 40 else 200
  private val mix = ctx.seed % 1000003

  private val catalog = new Catalog(spark, ctx.path("catalog"))
  private val index = new VectorIndex(ctx)
  private val tableRows = Map("orders" -> nOrders, "customers" -> nCustomers,
    "regions" -> nRegions, "products" -> nProducts)
  private var schemas: Map[String, Seq[(String, String)]] = Map.empty

  /** A flat file for previews: path, ordering column, row crcs by key. */
  private final case class Flat(path: String, hasHeader: Boolean, keyCol: String,
                                rowCrcs: Array[Long], key: Long => String)
  private var flats: Seq[Flat] = Nil

  // Expected column values, as fixed functions of the key and the seed.
  private def customerOf(order: Long): Long = Math.floorMod(order * 2654435761L + mix, nCustomers)
  private def amountOf(order: Long): Long = Math.floorMod(order * 7919L + mix, 1000000L)
  private def regionOf(customer: Long): Long = Math.floorMod(customer * 40503L + mix, nRegions)

  /** The tables, the flat files and the vector corpus, made concurrently. */
  def generate(): Unit = Par.run(() => writeTables(), () => writeFlats(), () => index.generate())

  private def writeTables(): Unit = {
    val id = col("id")
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(ctx.path(s"catalog/$name.parquet"))
    write("orders", spark.range(0, nOrders, 1, ctx.cpus).select(id.as("order_id"),
      pmod(id * 2654435761L + mix, lit(nCustomers)).as("customer_id"),
      pmod(id * 7919L + mix, lit(1000000L)).as("amount_cents"),
      element_at(array(lit("NEW"), lit("PAID"), lit("SHIPPED")), (pmod(id, lit(3)) + 1).cast("int")).as("status"),
      date_add(lit("2020-01-01").cast("date"), pmod(id * 17 + mix, lit(1500)).cast("int")).as("order_date")))
    write("customers", spark.range(0, nCustomers, 1, ctx.cpus).select(id.as("customer_id"),
      concat(lit("cust_"), id.cast("string")).as("name"),
      pmod(id * 40503L + mix, lit(nRegions)).as("region_id"),
      element_at(array(lit("retail"), lit("trade"), lit("public")), (pmod(id, lit(3)) + 1).cast("int")).as("segment")))
    write("regions", spark.range(0, nRegions, 1, 1).select(id.as("region_id"),
      concat(lit("region_"), id.cast("string")).as("region_name")))
    write("products", spark.range(0, nProducts, 1, 1).select(id.as("product_id"),
      concat(lit("product_"), id.cast("string")).as("title"),
      (pmod(id * 31 + mix, lit(100000)).cast("decimal(10,0)") / 100).cast("decimal(10,2)").as("price")))
    schemas = tableRows.keys.map(t => t -> catalog.table(t).schema.fields.toSeq
      .map(f => f.name -> f.dataType.simpleString)).toMap
  }

  private def writeFlats(): Unit = {
    val words = Gen.vocabulary(Gen.rng(ctx.seed, 1), 2000)
    val pad = (k: Long) => f"$k%08d"
    def flat(name: String, header: Option[Seq[String]], stream: Long, keyCol: String,
             key: Long => String)(row: (SplittableRandom, Long) => Array[Gen.Field]): Flat = {
      val f = Gen.writeCsv(ctx.path(s"uploads/$name"), header, Long.MaxValue, csvRows,
        Gen.rng(ctx.seed, stream), Nil, keepRowCrcs = true)(row)
      Flat(f.path, header.isDefined || CsvSource.isUkPropertyFile(name), keyCol, f.rowCrcs, key)
    }
    // The id-like first column is the zero-padded row number, so string
    // order is row order.
    def padded(row: (SplittableRandom, Long) => Array[Gen.Field]) =
      (r: SplittableRandom, i: Long) => { val fs = row(r, i); fs(0) = Gen.Field(pad(i)); fs }
    flats = Seq(
      flat(s"upload_${ctx.seed}.csv", Some(Gen.salesHeader), 31, "sale_id", pad)(padded(Gen.salesRow(words))),
      flat(s"feed_${ctx.seed}.csv", None, 32, "column_1", pad)(padded(Gen.eventRow)),
      flat(s"pp-preview-${ctx.seed}.csv", None, 33, "transaction_id",
        k => f"{$k%08X")(Gen.pricePaidRow(words)))
  }

  // ------------------------------------------------------------- requests
  //
  // Each request is one call sequence of the reference tool's browsing
  // endpoints, as SURVEY.md (sections 3.2 and 3.3) documents them.

  private sealed trait Req extends Product
  /** `/preview` of a table: the total count, then the page. */
  private final case class TablePreview(table: String, page: Int, size: Int) extends Req
  /** `/preview` of a flat file, which the UI uploads again with every
    * page: stage, read, the page, then a second scan for the count. */
  private final case class FilePreview(flat: Int, page: Int, size: Int) extends Req
  /** The join view: SHOW TABLES, one DESCRIBE per joined table, then a
    * page of the join chain. */
  private final case class JoinView(tables: Int, page: Int, size: Int) extends Req
  /** A top-10 similarity search over the IVF index (the curation side of
    * the tool; no reference endpoint). */
  private final case class Similar(query: Int) extends Req

  /** One block of requests in seeded order: `TablePreviews` table pages
    * (the last of them on customers, the rest on orders), `FilePreviews`
    * file pages over the three schema paths in turn, one 2-table and one
    * 3-table join view, and `Searches` similarity searches. Page numbers
    * are Zipf-skewed; every `DeepEvery`-th block has one deep table page.
    * Page sizes cycle through the UI's options in seeded order, so each is
    * used equally often. */
  private def block(r: SplittableRandom, b: Long, sizes: Iterator[Int]): Seq[Req] = {
    def pageOf(rows: Long, size: Int, deep: Boolean): Int = {
      val last = math.max(1, ((rows + size - 1) / size).toInt)
      if (deep) last / 2 + r.nextInt(last - last / 2) + 1 min last
      else math.min(last, zipf(r, last))
    }
    val deepSlot = if (b % DeepEvery == DeepEvery - 1) r.nextInt(TablePreviews) else -1
    val reqs = (0 until TablePreviews).map { k =>
        val t = if (k == TablePreviews - 1) "customers" else "orders"
        val size = sizes.next()
        TablePreview(t, pageOf(tableRows(t), size, deep = k == deepSlot), size)
      } ++
      (0 until FilePreviews).map { k =>
        val size = sizes.next()
        FilePreview(((b * FilePreviews + k) % flats.size).toInt, pageOf(csvRows, size, deep = false), size)
      } ++
      Seq(2, 3).map { n =>
        val size = sizes.next()
        JoinView(n, pageOf(nOrders, size, deep = false), size)
      } ++
      (0 until Searches).map(_ => Similar(r.nextInt(index.nQueries)))
    Gen.shuffle(r, reqs)
  }

  /** The UI's page sizes, in rounds of all five options, each round in
    * seeded order. */
  private def pageSizes(r: SplittableRandom): Iterator[Int] =
    Iterator.continually(Gen.shuffle(r, PageSizes)).flatten

  private def keysOf(rows: Long, page: Int, size: Int): Seq[Long] =
    ((page - 1).toLong * size until math.min(rows, page.toLong * size)).toSeq

  private def ordersOk(rows: Array[Row]): Boolean = rows.forall { row =>
    val k = row.getAs[Long]("order_id")
    row.getAs[Long]("customer_id") == customerOf(k) && row.getAs[Long]("amount_cents") == amountOf(k)
  }

  /** Issue one request for client `c`; returns the rows of its page (or
    * search hits) and its check. */
  private def serve(c: Int, req: Req, tr: Tracer, p: Phase): (Long, () => Boolean) = req match {
    case TablePreview(t, page, size) =>
      val df = tr.span("catalog.table")(catalog.table(t))
      val total = tr.span("ops.count")(Ops.countTotal(df).collect())
      val key = s"${t.stripSuffix("s")}_id"
      val got = tr.span("ops.page")(Ops.page(df, Seq(col(key)), page, size).collect())
      (got.length.toLong, () => {
        total.length == 1 && total(0).getLong(0) == tableRows(t) &&
          got.map(_.getAs[Long](key)).toSeq == keysOf(tableRows(t), page, size) &&
          (if (t == "orders") ordersOk(got)
           else got.forall(row => row.getAs[String]("name") == s"cust_${row.getAs[Long]("customer_id")}"))
      })
    case FilePreview(i, page, size) =>
      val f = flats(i)
      val staged = tr.span("csvsource.stage") {
        CsvSource.stageUpload(spark, f.path, ctx.path(s"staging/client$c"))
      }
      val df = tr.span("csvsource.read")(CsvSource.read(spark, staged, f.hasHeader))
      val got = tr.span("ops.page")(Ops.page(df, Seq(col(f.keyCol)), page, size).collect())
      val total = tr.span("ops.count")(Ops.countTotal(df).collect())
      (got.length.toLong, () => {
        val keys = keysOf(csvRows, page, size)
        total.length == 1 && total(0).getLong(0) == csvRows &&
          got.length == keys.size && got.zip(keys).forall { case (row, k) =>
            row.getString(0).startsWith(f.key(k)) &&
              Gen.rowCrc((0 until row.length).map(j => Option(row.getString(j)).getOrElse(""))) ==
                f.rowCrcs(k.toInt)
          }
      })
    case JoinView(n, page, size) =>
      val names = Seq("orders", "customers", "regions").take(n)
      val listed = tr.span("catalog.list")(catalog.listTables())
      val described = names.map(t => tr.span("catalog.describe")(catalog.describe(t)))
      val frames = names.zip(Seq("o", "c", "r"))
        .map { case (t, a) => tr.span("catalog.table")(catalog.table(t)).alias(a) }
      val joins = frames.tail.zip(Seq("o.customer_id = c.customer_id", "c.region_id = r.region_id"))
      val cols = Seq(col("o.order_id"), col("c.name"), col("c.region_id")) ++
        (if (n == 3) Seq(col("r.region_name")) else Nil)
      val got = tr.span("ops.join_page") {
        Ops.page(Ops.joinChainSql(frames.head, joins).select(cols: _*), Seq(col("order_id")), page, size).collect()
      }
      (got.length.toLong, () => {
        listed == tableRows.keys.toSeq.sorted && described == names.map(schemas) &&
          got.map(_.getLong(0)).toSeq == keysOf(nOrders, page, size) && got.forall { row =>
            val cust = customerOf(row.getLong(0))
            row.getString(1) == s"cust_$cust" && row.getLong(2) == regionOf(cust) &&
              (n == 2 || row.getString(3) == s"region_${regionOf(cust)}")
          }
      })
    case Similar(i) => index.query(i, tr, p)
  }

  /** Closed loop for one client over its own seeded request stream. An
    * error in a request counts as a failed request, and the client goes on. */
  private def client(c: Int, p: Phase, tr: Tracer, stop: () => Boolean,
                     served: AtomicLong, stream: Long): Unit = {
    val r = Gen.rng(ctx.seed, stream + c)
    val sizes = pageSizes(r)
    var b = 0L
    while (!stop()) {
      for (planned <- block(r, b, sizes) if !stop()) {
        val req = if (injectPending.compareAndSet(true, false)) TablePreview(Missing, 1, 50) else planned
        val t0 = System.nanoTime()
        val res = p.attempt(s"client $c $req")(tr.op("request")(serve(c, req, tr, p)))
        val ns = System.nanoTime() - t0
        for ((rows, ok) <- res if p.check(s"client $c $req")(ok())) {
          p.record("request", ns / 1e6)
          p.record(req.productPrefix, ns / 1e6)
          p.units.addAndGet(rows)
          if (!req.isInstanceOf[Similar]) p.record("page_rows", rows.toDouble)
          p.busyNs.addAndGet(ns)
        }
        p.noteStorage(spark)
        served.incrementAndGet()
      }
      b += 1
    }
  }

  /** Both clients until `seconds` have passed and `minReq` requests have
    * been served. A client thread that dies counts as a failure. */
  private def loop(seconds: Double, tr: Tracer, minReq: Int, stream: Long, p: Phase): Phase = {
    val served = new AtomicLong
    val t0 = System.nanoTime()
    val stop = () => Clock.msSince(t0) >= seconds * 1000 && served.get >= minReq
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() =>
        try client(c, p, tr, stop, served, stream)
        catch { case e: Throwable => p.check(s"preview client $c")(throw e) },
        s"preview-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    p
  }

  private val injectPending = new AtomicBoolean
  private var passes = 0L
  private var firstFitS = Double.NaN

  /** Fit the index as its first user would (timed: `ann_build_s`), then
    * serve a block per client at full scale, untimed. */
  def warmup(): Phase = {
    val p = new Phase
    firstFitS = Clock.timed(index.build(Untraced, p))._2 / 1000
    loop(0, Untraced, Clients * BlockSize, stream = 50, p)
  }

  /** Serve requests. A traced pass first refits the index, to trace the
    * fit. Each pass has its own request streams. */
  def run(seconds: Double, tr: Tracer, minShare: Double): Phase = {
    val p = new Phase
    passes += 1
    if (tr ne Untraced) index.build(tr, p)
    injectPending.set(ctx.injectError)
    loop(seconds, tr, math.ceil(minRequests * minShare).toInt, stream = 100 + 10 * passes, p)
  }

  def summary(p: Phase): Summary = {
    val lat = p.ms("request")
    val q = Stats.tailQ(lat.size)
    Summary(Stats.median(lat), Stats.quantile(lat, q), q, p.units.get / (p.busyNs.get / 1e9), lat.size)
  }

  def detail(p: Phase): Map[String, Any] = Map(
    "clients" -> Clients, "requests" -> p.ms("request").size,
    "preview_p50_ms" -> Stats.median(p.ms("request")),
    "preview_p95_ms" -> Stats.quantile(p.ms("request"), 0.95),
    "table_rows" -> tableRows, "csv_rows" -> csvRows, "ann_build_s" -> firstFitS,
    "ann_query_p50_ms" -> Stats.median(p.ms("Similar")),
    "ann_query_p95_ms" -> Stats.quantile(p.ms("Similar"), 0.95),
    "p50_ms_by_kind" -> Seq("TablePreview", "FilePreview", "JoinView", "Similar")
      .map(k => k -> Stats.median(p.ms(k))).toMap) ++ index.detail(p)

  def layers(p: Phase, t: TraceReport): Map[String, Double] = {
    val reads = t.ops.filter(o => t.spans.exists(s => s.op == o.id && s.name == "csvsource.read"))
    val pages = t.spans.filter(s => s.name == "ops.page" || s.name == "ops.join_page")
    Map(
      "csvsource.sniff_ms" -> t.medianMs("csvsource.read"),
      "csvsource.stage_ms" -> t.medianMs("csvsource.stage"),
      "csvsource.bytes_read" -> Stats.median(reads.map(o => t.opAgg(o).inBytes.toDouble)),
      "catalog.list_ms" -> t.medianMs("catalog.list"),
      "catalog.describe_ms" -> t.medianMs("catalog.describe"),
      "ops.page_ms" -> t.medianMs("ops.page"),
      "ops.count_ms" -> t.medianMs("ops.count"),
      "ops.join_page_ms" -> t.medianMs("ops.join_page"),
      "ops.rows_read_per_row_returned" ->
        t.sumAgg(pages).inRecords.toDouble / p.ms("page_rows").sum) ++ index.layers(p, t)
  }
}

object InteractivePreview {
  val Clients = 2
  /** The reference UI's page-size options. */
  val PageSizes: Seq[Int] = Seq(50, 100, 200, 500, 1000)
  val Tables: IndexedSeq[String] = IndexedSeq("orders", "customers", "regions", "products")
  val DeepEvery = 2
  // The mix of one block. An assumption: the reference records no traffic.
  // Table pages come first because every browsing session starts there;
  // file previews, joins and searches follow at lower rates.
  val TablePreviews = 4
  val FilePreviews = 2
  val Searches = 2
  val BlockSize: Int = TablePreviews + FilePreviews + 2 + Searches
  /** A table no catalog holds, for the injected error. */
  val Missing = "missing_table"

  /** Zipf(s = 1.1) page number in 1..n, by inversion over a truncated
    * harmonic series (pages past 1000 are folded onto the uniform tail).
    * The exponent is an assumption: most page views are of the first pages
    * a pager offers, with a long tail. */
  def zipf(r: SplittableRandom, n: Int): Int = {
    val m = math.min(n, 1000)
    val cdf = zipfCdf(m)
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else -i - 1) + 1 min m
  }
  private val cdfs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private def zipfCdf(m: Int): Array[Double] = cdfs.computeIfAbsent(m, _ => {
    val w = (1 to m).map(k => 1.0 / math.pow(k, 1.1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  })
}
