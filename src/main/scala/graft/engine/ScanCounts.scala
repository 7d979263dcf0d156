package graft.engine

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Row counts of plain file scans, taken by the sort that pages them.
  *
  * A page of a file frame that [[ParquetFooters]] cannot locate (a CSV
  * upload, say) sorts the whole scan, so it reads every row once: [[observed]]
  * counts them on the way (Spark's `observe`), and [[total]] answers the
  * frame's `count()` from that count, with no second scan. Applies to a
  * [[ParquetFooters.fileScan]] frame (`Project`s over one file relation), so
  * no shuffle sits under the count and a retried stage cannot count twice.
  *
  * One count is kept per (session, frame, [[ParquetFooters.snapshot]]) in a
  * `SessionMemo`: a frame read after its files are rewritten misses. The
  * count comes from the first action that runs the observed page, and only
  * when that action succeeds; a failed first action (its count would hold
  * only the tasks that finished) leaves the frame counted by a job. */
private[engine] object ScanCounts {

  /** Counts still waiting for their page's first action, by observation
    * name; an entry leaves when the action ends or the memo drops it. */
  private val pending = new ConcurrentHashMap[String, Promise[Option[Long]]]()

  /** Each frame's observation name and count; bounded like every memo. */
  private val counts = new graft.llm.SessionMemo[(String, Promise[Option[Long]])]({ case (name, _) =>
    pending.remove(name)
    ()
  })

  /** Sessions whose actions [[Listener]] hears. */
  private val listening =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Spark reports an action's end from its listener bus, just after the
    * action returns; a page that is never run never reports. */
  private val Wait = 1.second

  /** `df` observing its row count, when it is a plain file scan whose count
    * is not held yet; otherwise `df` itself. */
  def observed(df: DataFrame): DataFrame =
    if (ParquetFooters.fileScan(df.queryExecution.analyzed).isEmpty || counts.get(df).isDefined) df
    else {
      val spark = df.sparkSession
      if (listening.putIfAbsent(spark, true) == null) spark.listenerManager.register(Listener)
      val name = s"graft_scan_count_${UUID.randomUUID}"
      val rows = Promise[Option[Long]]()
      pending.put(name, rows)
      counts.getOrBuild(df)(name -> rows)
      df.observe(name, count(lit(1)))
    }

  /** The row count the first action of an [[observed]] page of `df` took. */
  def total(df: DataFrame): Option[Long] =
    if (ParquetFooters.fileScan(df.queryExecution.analyzed).isEmpty) None
    else counts.get(df).flatMap { case (_, rows) => Try(Await.result(rows.future, Wait)).toOption.flatten }

  /** Completes the pending counts a finished action carried. */
  private object Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      complete(qe, succeeded = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      complete(qe, succeeded = false)

    private def complete(qe: QueryExecution, succeeded: Boolean): Unit = qe.logical.foreach {
      case c: CollectMetrics => Option(pending.remove(c.name)).foreach { rows =>
        rows.trySuccess(if (succeeded) qe.observedMetrics.get(c.name).map(_.getLong(0)) else None)
      }
      case _ =>
    }
  }
}
