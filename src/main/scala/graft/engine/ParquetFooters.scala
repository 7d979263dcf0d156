package graft.engine

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, Descending, Literal, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.types.{DataTypeUtils, PhysicalDataType}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-preview answers read from Parquet footers on the driver, the way
  * ClickHouse answers `count()` from part metadata and locates a
  * `LIMIT … OFFSET …` range through its primary-key index.
  *
  * Both answers apply only to a plain Parquet scan: a frame whose plan is
  * nothing but `Project`s (and aliases) over one non-partitioned,
  * non-bucketed Parquet `HadoopFsRelation` over a listed file index
  * ([[Catalog.table]] frames, `TsNorm` included).
  * Each returns None for any other frame, for a table of more than
  * [[MaxFiles]] files, and when a footer cannot be read; the caller then
  * takes its general path. Footers are read once per table [[snapshot]] and
  * relation options, from the file listing the frame's relation holds.
  *
  * A located page whose run of row groups holds at most
  * [[LocalAnswers.MaxBytes]] uncompressed bytes is read on the driver, from
  * only the row groups of the run, by one reader per relation and session
  * conf, and comes back as a local frame: no Spark job. A larger run is read
  * by one Spark job that skips every other row group.
  */
object ParquetFooters {

  /** Footers are read one file after another on the driver; past this many
    * files a distributed scan is the cheaper answer. */
  val MaxFiles = 256

  /** The frame's row count: the sum of its row groups' row counts. */
  def rowCount(df: DataFrame): Option[Long] =
    plainScan(df.queryExecution.analyzed)
      .flatMap(footers)
      .map(_.iterator.flatMap(_._2.getBlocks.asScala).map(_.getRowCount).sum)

  /** Rows `[offset, offset + size)` of `df` ordered by `orderBy`, read from
    * only the row groups that hold them. Applies when the order is one key,
    * a relation column passed through unchanged, of an integral, date or
    * (binary-collated) string type; every non-empty row group has footer
    * statistics for it with no nulls; and the groups' `[min, max]` ranges
    * are strictly disjoint. The groups are then totally ordered by the key,
    * so the page lies in a run of consecutive groups, and a key-range filter
    * over that run plus the skip inside the run gives exactly the page the
    * full sort gives.
    *
    * When the run fits [[LocalAnswers.MaxBytes]] ([[onDriver]]), its row
    * groups are read on the driver through the relation's own reader
    * ([[readRun]]); the page's rows stand in for the relation under the
    * frame's own projections in a local frame. A page past the last row is
    * an empty local frame. A larger run, or a relation whose output is not
    * its data columns, is the filtered frame sorted, skipped and limited by
    * one Spark job, whose row-group pushdown skips the groups outside the
    * run. */
  def page(df: DataFrame, orderBy: Seq[Column], offset: Long, size: Int): Option[DataFrame] =
    locatedPage(df, orderBy, offset, size, onDriver)

  /** [[page]] with every located run read by the one-job path, whatever its
    * size: the path a run over [[LocalAnswers.MaxBytes]] takes. */
  private[engine] def pageByJob(df: DataFrame, orderBy: Seq[Column], offset: Long, size: Int): Option[DataFrame] =
    locatedPage(df, orderBy, offset, size, _ => false)

  private def locatedPage(df: DataFrame, orderBy: Seq[Column], offset: Long, size: Int,
                          driver: Run => Boolean): Option[DataFrame] =
    for {
      scan <- plainScan(df.queryExecution.analyzed)
      if size > 0
      (key, descending) <- sortKey(df, orderBy)
      if scan.passed.contains(key)
      fs <- footers(scan)
      groups <- keyRanges(fs, key)
      located <- locate(groups, key.dataType, descending, offset, size)
    } yield located match {
      case None => local(df, scan, Nil)
      case Some(run) if driver(run) && scan.readsData =>
        local(df, scan, readRun(scan, key, descending, run, size))
      case Some(run) =>
        val k = GraftSqlBridge.column(key)
        df.filter(k >= GraftSqlBridge.column(Literal(run.lo, key.dataType)) &&
            k <= GraftSqlBridge.column(Literal(run.hi, key.dataType)))
          .orderBy(orderBy: _*).offset(run.skip).limit(size)
    }

  /** 1582-10-15: dates from here on read the same in every calendar. */
  private val GregorianCutoverDay = java.time.LocalDate.of(1582, 10, 15).toEpochDay.toInt

  /** One row group's row count, key range (as Catalyst values),
    * uncompressed bytes and file, and its byte range `[start, start +
    * length)` in the file: the footer's starting position and compressed
    * size. */
  private[engine] final case class Group(rows: Long, min: Any, max: Any, bytes: Long, file: FileStatus,
                                         start: Long = 0L, length: Long = 0L)

  /** The consecutive groups that hold a page, in page order: their key range
    * `[lo, hi]` and the rows to skip inside it. */
  private[engine] final case class Run(lo: Any, hi: Any, skip: Int, groups: Seq[Group]) {
    def bytes: Long = groups.map(_.bytes).sum
    def rows: Long = groups.map(_.rows).sum
    def files: Seq[FileStatus] = groups.map(_.file).distinct
  }

  /** Whether a located run is read on the driver rather than by a job. */
  private[engine] def onDriver(run: Run): Boolean = run.bytes <= LocalAnswers.MaxBytes

  /** A plain file scan: its relation leaf, the relation, and the relation
    * columns its projections pass through unchanged. */
  private[engine] final case class Scan(leaf: LogicalRelation, rel: HadoopFsRelation, passed: AttributeSet) {
    /** The leaf outputs exactly the data columns (no metadata columns), the
      * rows the relation's reader returns. */
    def readsData: Boolean = leaf.output.map(_.name) == rel.dataSchema.fieldNames.toSeq
  }

  /** The plain file scan under `plan`: nothing but `Project`s (and aliases)
    * over one non-bucketed batch `HadoopFsRelation`, so every row the scan
    * reads reaches the top once and no shuffle sits under it. Reads the
    * analyzed plan, whose aliases and projections the optimizer would only
    * collapse, so a frame that falls back pays no extra optimizer pass. */
  private[engine] def fileScan(plan: LogicalPlan): Option[Scan] = plan match {
    case SubqueryAlias(_, child) => fileScan(child)
    case Project(list, child) =>
      fileScan(child).map(scan => scan.copy(passed =
        AttributeSet(list.collect { case a: AttributeReference if scan.passed.contains(a) => a })))
    case leaf @ LogicalRelation(rel: HadoopFsRelation, output, _, false, _) if rel.bucketSpec.isEmpty =>
      Some(Scan(leaf, rel, AttributeSet(output)))
    case _ => None
  }

  /** The plain Parquet scan under `plan`: a [[fileScan]] of a
    * non-partitioned Parquet relation over a listed file index. */
  private def plainScan(plan: LogicalPlan): Option[Scan] = fileScan(plan).filter { scan =>
    scan.rel.fileFormat.isInstanceOf[ParquetFileFormat] && scan.rel.partitionSchema.isEmpty &&
      scan.rel.location.isInstanceOf[PartitioningAwareFileIndex]
  }

  /** A frame's table snapshot, the one table identity of [[Catalog.table]],
    * the footers below and `SessionMemo` keys: path, length and mtime of each
    * file its `HadoopFsRelation`s over a `PartitioningAwareFileIndex` listed
    * when it was built. Lists nothing: a frame keeps its snapshot. */
  private[graft] def snapshot(plan: LogicalPlan): Seq[(String, Long, Long)] =
    plan.collectWithSubqueries { case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) => listed(rel) }
      .flatten.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))

  /** The files the relation's index listed, in path order. */
  private def listed(rel: HadoopFsRelation): Seq[FileStatus] = Seq(rel.location)
    .collect { case index: PartitioningAwareFileIndex => index.allFiles() }.flatten.sortBy(_.getPath.toString)

  /** Footers by (session, snapshot, relation options); releases nothing. */
  private val footerMemo = new graft.llm.SessionMemo[Option[Seq[(FileStatus, ParquetMetadata)]]](_ => ())

  /** Each of the scan's files with its footer, or None past [[MaxFiles]]
    * files or when a footer cannot be read. */
  private def footers(scan: Scan): Option[Seq[(FileStatus, ParquetMetadata)]] = {
    val (rel, files) = (scan.rel, listed(scan.rel))
    if (files.size > MaxFiles) None
    else footerMemo.getOrBuild(rel.sparkSession, snapshot(scan.leaf), rel.options) {
      val conf = rel.sparkSession.sessionState.newHadoopConfWithOptions(rel.options)
      Try(files.map(f => f -> ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER))).toOption
    }
  }

  /** The single sort key of `df.orderBy(orderBy)` and whether it descends,
    * when it is one of `df`'s own columns. */
  private def sortKey(df: DataFrame, orderBy: Seq[Column]): Option[(AttributeReference, Boolean)] =
    df.orderBy(orderBy: _*).queryExecution.analyzed match {
      case Sort(Seq(SortOrder(key: AttributeReference, direction, _, _)), true, _, _) =>
        Some(key -> (direction == Descending))
      case _ => None
    }

  /** Every non-empty row group's key range, or None when one lacks complete
    * non-null statistics for the key or stores it in a layout whose order is
    * not Spark's order of the key's type. */
  private def keyRanges(fs: Seq[(FileStatus, ParquetMetadata)], key: AttributeReference): Option[Seq[Group]] = {
    val groups = fs.iterator.flatMap { case (file, f) => f.getBlocks.asScala.map(file -> _) }
      .filter(_._2.getRowCount > 0).map { case (file, block) =>
        for {
          chunk <- block.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(key.name)))
          decode <- decoder(key.dataType, chunk.getPrimitiveType)
          stats = chunk.getStatistics
          if stats != null && !stats.isEmpty && stats.hasNonNullValue &&
            stats.isNumNullsSet && stats.getNumNulls == 0
          min = decode(stats.genericGetMin)
          // Spark may rebase older dates between calendars on read, which the
          // stored statistics do not show.
          if key.dataType != DateType || min.asInstanceOf[Int] >= GregorianCutoverDay
        } yield Group(block.getRowCount, min, decode(stats.genericGetMax), block.getTotalByteSize, file,
          block.getStartingPos, block.getCompressedSize)
      }.toSeq
    if (groups.forall(_.isDefined)) Some(groups.flatten) else None
  }

  /** Converts a footer statistic of a column with physical type `t` to the
    * Catalyst value of `dt`, for the layouts whose statistics order the way
    * Spark orders `dt` (signed integers, dates, unsigned-bytewise strings). */
  private def decoder(dt: DataType, t: PrimitiveType): Option[Any => Any] = {
    val logical = t.getLogicalTypeAnnotation
    def signed(bits: Int): Boolean = logical match {
      case null => bits >= 32 // a plain INT32 or INT64
      case i: IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth == bits
      case _ => false
    }
    (dt, t.getPrimitiveTypeName) match {
      case (LongType, INT64) if signed(64) => Some(v => v.asInstanceOf[java.lang.Long].longValue)
      case (IntegerType, INT32) if signed(32) => Some(v => v.asInstanceOf[Integer].intValue)
      case (ShortType, INT32) if signed(16) => Some(v => v.asInstanceOf[Integer].shortValue)
      case (ByteType, INT32) if signed(8) => Some(v => v.asInstanceOf[Integer].byteValue)
      case (DateType, INT32) if logical.isInstanceOf[DateLogicalTypeAnnotation] =>
        Some(v => v.asInstanceOf[Integer].intValue)
      // StringType alone is the default collation, which orders by bytes.
      case (StringType, BINARY) if logical == null || logical.isInstanceOf[StringLogicalTypeAnnotation] =>
        Some(v => UTF8String.fromBytes(v.asInstanceOf[Binary].getBytes))
      case _ => None
    }
  }

  /** Locates rows `[offset, offset + size)` among key-disjoint groups.
    * Returns None when two groups' ranges touch or overlap, Some(None) when
    * the page lies past the last row, and otherwise the run of groups
    * holding the page. */
  private[engine] def locate(groups: Seq[Group], dt: DataType, descending: Boolean,
                             offset: Long, size: Int): Option[Option[Run]] = {
    val ord = PhysicalDataType.ordering(dt)
    val byMin = groups.sortBy(_.min)(ord)
    val disjoint = byMin.zip(byMin.drop(1)).forall { case (a, b) => ord.lt(a.max, b.min) }
    if (!disjoint) None
    else {
      val inOrder = if (descending) byMin.reverse else byMin
      val starts = inOrder.scanLeft(0L)(_ + _.rows)
      val total = starts.last
      if (offset >= total) Some(None)
      else {
        val first = starts.lastIndexWhere(_ <= offset)
        val last = starts.lastIndexWhere(_ < math.min(offset + size, total))
        val run = inOrder.slice(first, last + 1)
        val skip = offset - starts(first)
        if (skip > Int.MaxValue) None
        else Some(Some(Run(run.map(_.min).min(ord), run.map(_.max).max(ord), skip.toInt, run)))
      }
    }
  }

  /** Readers by (session, relation data schema, output schema, relation
    * options, session conf): building one broadcasts the session's whole
    * Hadoop conf, so a table's pages share one. A conf change builds a new
    * reader. Releases nothing: Spark's `ContextCleaner` frees the broadcast
    * once an evicted reader is collected. */
  private val readers = new graft.llm.SessionMemo[PartitionedFile => Iterator[InternalRow]](_ => ())

  /** The page's rows, read on the driver from the row groups of `run` alone,
    * in ascending key order, through the relation's own reader.
    *
    * Each group is given to the reader as its byte range (adjacent groups of
    * one file as one range); Parquet reads exactly the row groups whose
    * midpoint lies in a range. When every key read lies in `[run.lo,
    * run.hi]` and is at least the one before it (strictly greater, for a
    * descending page), and the reader returns the footers' row count, the
    * rows are in page order already and only the page's ranks are copied.
    * Otherwise every row in `[run.lo, run.hi]` is copied, sorted by the key
    * (equal keys keep read order) and cut to the page. */
  private def readRun(scan: Scan, key: AttributeReference, descending: Boolean,
                      run: Run, size: Int): Seq[InternalRow] = {
    val rel = scan.rel
    val spark = rel.sparkSession
    val schema = DataTypeUtils.fromAttributes(scan.leaf.output)
    val at = scan.leaf.output.indexWhere(_.exprId == key.exprId)
    val dt = key.dataType
    val ord = PhysicalDataType.ordering(dt)
    val read = readers.getOrBuild(spark, rel.dataSchema, schema, rel.options, spark.conf.getAll) {
      rel.fileFormat.buildReaderWithPartitionValues(spark, rel.dataSchema, new StructType(), schema, Nil,
        rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConfWithOptions(rel.options))
    }
    val toUnsafe = UnsafeProjection.create(schema)
    val ranges = (if (descending) run.groups.reverse else run.groups).foldLeft(List.empty[Group]) {
      case (last :: done, g) if g.file == last.file && g.start == last.start + last.length =>
        last.copy(length = last.length + g.length) :: done
      case (done, g) => g :: done
    }.reverse
    def rows = ranges.iterator.flatMap(g => read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(g.file),
      g.start, g.length, Array.empty, g.file.getModificationTime, g.file.getLen)))
    def inRun(k: Any) = k != null && ord.gteq(k, run.lo) && ord.lteq(k, run.hi)

    // The page's ranks among the run's rows in ascending order.
    val (from, until) =
      if (descending) (run.rows - run.skip - size, run.rows - run.skip) else (run.skip.toLong, run.skip.toLong + size)
    val page = Seq.newBuilder[InternalRow]
    var (n, ordered, prev) = (0L, true, null: Any)
    rows.foreach { r =>
      if (ordered) {
        val k = r.get(at, dt)
        ordered = inRun(k) && (n == 0 || { val cmp = ord.compare(k, prev); cmp > 0 || cmp == 0 && !descending })
        if (n >= from && n < until) page += toUnsafe(r).copy()
        prev = InternalRow.copyValue(k)
      }
      n += 1
    }
    if (ordered && n == run.rows) if (descending) page.result().reverse else page.result()
    else rows.filter(r => inRun(r.get(at, dt))).map(toUnsafe(_).copy()).toSeq
      .sorted(Ordering.by[InternalRow, Any](_.get(at, dt))(if (descending) ord.reverse else ord))
      .slice(run.skip, run.skip + size)
  }

  /** `df` with `rows` in place of its relation, under its own projections. */
  private def local(df: DataFrame, scan: Scan, rows: Seq[InternalRow]): DataFrame =
    LocalAnswers.frame(df.sparkSession, scan.leaf.output, rows,
      leaf => df.queryExecution.analyzed.transformUp { case l: LogicalRelation if l eq scan.leaf => leaf })
}
