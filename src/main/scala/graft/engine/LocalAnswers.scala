package graft.engine

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}

/** Answers computed on the driver and returned as local frames: collecting
  * one runs no Spark job. Three requests take this path when their read is
  * small: [[Ops.countTotal]] from Parquet footers, a page that
  * [[ParquetFooters.page]] located in a run of at most [[MaxBytes]], and an
  * IVF probe over an index of at most [[MaxBytes]]
  * (`graft.llm.Similarity.ivfTopK`). Everything larger takes the job path.
  *
  * Driver memory this holds: at most `SessionMemo.MaxEntries` × [[MaxBytes]]
  * for the IVF indexes the fit memo keeps; per page being served, its rows,
  * or a located run of at most [[MaxBytes]] when the run's rows are out of
  * key order; the remembered footers of at most `SessionMemo.MaxEntries` ×
  * [[ParquetFooters.MaxFiles]] files; at most `SessionMemo.MaxEntries`
  * Parquet readers, each holding one broadcast of the session's Hadoop conf;
  * at most `SessionMemo.MaxEntries` observed scan counts ([[ScanCounts]]), a
  * name and a number each; and one raw relation, with its file listing, per
  * table a [[Catalog]] has read. */
private[graft] object LocalAnswers {

  /** The most bytes one request reads onto the driver: a located run's
    * uncompressed row-group bytes, or a kept index's rows × dim × 8. */
  val MaxBytes: Long = 16L << 20

  /** A frame over `rows`, which are already on the driver and match
    * `output`. `over` puts the rows' relation under the plan that the
    * caller's frame applies on top of its own leaf. */
  def frame(spark: SparkSession, output: Seq[Attribute], rows: Seq[InternalRow],
            over: LocalRelation => LogicalPlan = identity): DataFrame =
    GraftSqlBridge.ofRows(spark, over(LocalRelation(output, rows)))
}
