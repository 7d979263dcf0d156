package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Minimal JSON rendering for the benchmark's report lines: maps (in
  * insertion order), sequences, strings, numbers and booleans. */
object Json {
  def render(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => render(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(render).mkString("[", ",", "]")
    case a: Array[_]          => render(a.toSeq)
    case o                    => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b ++= "\\\""
      case '\\'          => b ++= "\\\\"
      case '\n'          => b ++= "\\n"
      case c if c < ' '  => b ++= f"\\u${c.toInt}%04x"
      case c             => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  /** Linear-interpolated quantile (the R-7 / numpy default rule). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  /** The highest quantile, up to the 95th, that leaves at least ten of `n`
    * samples beyond it: a tail figure that a few outliers cannot set. */
  def tailQ(n: Int): Double = math.max(0.5, math.min(0.95, 1 - 10.0 / n))
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  /** Geometric mean: a change of a given factor in any one term moves it
    * by the same share, however large that term is. */
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Everything a workload needs from the run: the session, the seed, a
  * private scratch directory and the input scale. With `injectError` each
  * measured phase issues one request the program must reject, to show
  * that an error is counted as a failure. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, tiny: Boolean,
                     cpus: Int, injectError: Boolean) {
  def path(name: String): String = new java.io.File(work, name).getPath
}

/** What one measured phase of a workload saw. Timed samples are kept per
  * operation kind; `units` counts the rows (or documents) the timed
  * operations moved, `busyNs` the time they took. */
final class Phase {
  private val samples = new ConcurrentLinkedQueue[(String, Double)]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val units = new AtomicLong
  val busyNs = new AtomicLong
  private val storage = new ConcurrentLinkedQueue[Double]()

  def record(kind: String, ms: Double): Unit = samples.add(kind -> ms)
  def ms(kinds: String*): Seq[Double] =
    samples.asScala.collect { case (k, v) if kinds.isEmpty || kinds.contains(k) => v }.toSeq
  def storageMb: Seq[Double] = storage.asScala.toSeq

  /** Storage held by persisted frames right now, in MB (memory + disk). */
  def noteStorage(spark: SparkSession): Unit = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    storage.add(bytes / 1e6)
  }

  /** Count an attempted operation; a thrown error or a failed check both
    * count as a failure and are reported on stderr. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val passed =
      try ok
      catch { case e: Throwable => System.err.println(s"[check] $what threw: $e"); false }
    if (!passed) {
      failed.incrementAndGet()
      System.err.println(s"[check] FAILED: $what")
    }
    passed
  }

  /** Run an operation's timed section. An error thrown there counts as an
    * attempted, failed operation and gives None. */
  def attempt[T](what: => String)(body: => T): Option[T] =
    try Some(body)
    catch { case e: Throwable => check(what)(throw e); None }
}

object Clock {
  def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Run `body`, returning its value and its wall time in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, msSince(t0))
  }
}

object Par {
  /** Run the bodies on threads of their own and wait for all of them; an
    * error in any is rethrown. */
  def run(bodies: (() => Unit)*): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map(b => new Thread(() => try b() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek).foreach(e => throw e)
  }
}

object Files {
  def delete(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
  def delete(path: String): Unit = delete(new java.io.File(path))

  /** Data files (not markers or checksums) under a written output dir. */
  def dataFiles(path: String): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
}

/** Rows the leaf scans of an executed query produced (their
  * `numOutputRows` SQL metric), adaptive query stages included. */
object PlanRows extends AdaptiveSparkPlanHelper {
  def scanned(df: DataFrame): Long =
    collectLeaves(df.queryExecution.executedPlan).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}
