package graft.engine

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, Descending, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-preview answers read from Parquet footers on the driver, the way
  * ClickHouse answers `count()` from part metadata and locates a
  * `LIMIT … OFFSET …` range through its primary-key index.
  *
  * Both answers apply only to a plain Parquet scan: a frame whose plan is
  * nothing but `Project`s (and aliases) over one non-partitioned,
  * non-bucketed Parquet `HadoopFsRelation` ([[Catalog.table]] frames,
  * `TsNorm` included).
  * Each returns None for any other frame, for a table of more than
  * [[MaxFiles]] files, and when a footer cannot be read; the caller then
  * takes its general path. Footers are read when the method is called, from
  * the file listing the frame's relation already holds.
  */
object ParquetFooters {

  /** Footers are read one file after another on the driver; past this many
    * files a distributed scan is the cheaper answer. */
  val MaxFiles = 256

  /** The frame's row count: the sum of its row groups' row counts. */
  def rowCount(df: DataFrame): Option[Long] =
    plainScan(df.queryExecution.analyzed)
      .flatMap { case (rel, _) => footers(rel) }
      .map(_.iterator.flatMap(_.getBlocks.asScala).map(_.getRowCount).sum)

  /** Rows `[offset, offset + size)` of `df` ordered by `orderBy`, read from
    * only the row groups that hold them. Applies when the order is one key,
    * a relation column passed through unchanged, of an integral, date or
    * (binary-collated) string type; every non-empty row group has footer
    * statistics for it with no nulls; and the groups' `[min, max]` ranges
    * are strictly disjoint. The groups are then totally ordered by the key,
    * so the page lies in a run of consecutive groups, and a key-range filter
    * over that run (which Parquet row-group pushdown turns into skipped
    * groups) plus the skip inside the run gives exactly the page the full
    * sort gives. */
  def page(df: DataFrame, orderBy: Seq[Column], offset: Long, size: Int): Option[DataFrame] =
    for {
      (rel, passed) <- plainScan(df.queryExecution.analyzed)
      if size > 0
      (key, descending) <- sortKey(df, orderBy)
      if passed.contains(key)
      fs <- footers(rel)
      groups <- keyRanges(fs, key)
      located <- locate(groups, key.dataType, descending, offset, size)
    } yield located match {
      case None => df.limit(0)
      case Some((lo, hi, skip)) =>
        val k = GraftSqlBridge.column(key)
        df.filter(k >= GraftSqlBridge.column(Literal(lo, key.dataType)) &&
            k <= GraftSqlBridge.column(Literal(hi, key.dataType)))
          .orderBy(orderBy: _*).offset(skip).limit(size)
    }

  /** 1582-10-15: dates from here on read the same in every calendar. */
  private val GregorianCutoverDay = java.time.LocalDate.of(1582, 10, 15).toEpochDay.toInt

  /** One row group's row count and key range, as Catalyst values. */
  private final case class Group(rows: Long, min: Any, max: Any)

  /** The relation under a plain Parquet scan, and the relation columns the
    * scan's projections pass through unchanged. Reads the analyzed plan,
    * whose aliases and projections the optimizer would only collapse, so a
    * frame that falls back pays no extra optimizer pass. */
  private def plainScan(plan: LogicalPlan): Option[(HadoopFsRelation, AttributeSet)] = plan match {
    case SubqueryAlias(_, child) => plainScan(child)
    case Project(list, child) =>
      plainScan(child).map { case (rel, passed) =>
        rel -> AttributeSet(list.collect { case a: AttributeReference if passed.contains(a) => a })
      }
    case LogicalRelation(rel: HadoopFsRelation, output, _, false, _)
        if rel.fileFormat.isInstanceOf[ParquetFileFormat] &&
          rel.partitionSchema.isEmpty && rel.bucketSpec.isEmpty =>
      Some(rel -> AttributeSet(output))
    case _ => None
  }

  /** The footers of the relation's files, or None past [[MaxFiles]] files
    * or when one cannot be read. */
  private def footers(rel: HadoopFsRelation): Option[Seq[ParquetMetadata]] = Try {
    val files = rel.location.listFiles(Nil, Nil).flatMap(_.files)
    if (files.size > MaxFiles) None
    else {
      val conf = rel.sparkSession.sessionState.newHadoopConfWithOptions(rel.options)
      Some(files.map(f => ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f.fileStatus, conf), ParquetMetadataConverter.NO_FILTER)))
    }
  }.toOption.flatten

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
  private def keyRanges(fs: Seq[ParquetMetadata], key: AttributeReference): Option[Seq[Group]] = {
    val groups = fs.iterator.flatMap(_.getBlocks.asScala).filter(_.getRowCount > 0).map { block =>
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
      } yield Group(block.getRowCount, min, decode(stats.genericGetMax))
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
    * the page lies past the last row, and otherwise the key range of the
    * run of groups holding the page and the rows to skip inside it. */
  private def locate(groups: Seq[Group], dt: DataType, descending: Boolean,
                     offset: Long, size: Int): Option[Option[(Any, Any, Int)]] = {
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
        else Some(Some((run.map(_.min).min(ord), run.map(_.max).max(ord), skip.toInt)))
      }
    }
  }
}
