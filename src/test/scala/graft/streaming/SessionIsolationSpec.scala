package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.{StreamQueries, TestSpark}
import graft.engine.Sinks

/** Library calls on a shared session: the streaming runners build and run
  * their plans on a drain session (a memoized clone of the caller's), so the
  * caller's SQL conf is never written, the drain settings still apply, a
  * later caller conf change reaches the next drain, and the shared listener
  * bus grows by Spark's own per-stream clone only. The progress ingest keeps
  * the caller's job group. */
class SessionIsolationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A caller as a client would hold it: nanosAsLong unset, 4 shuffle
    * partitions. */
  private def callerSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  /** Six events over two hours, written as a Spark (µs timestamp) table. */
  private lazy val tinyEvents: String = {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val p = s"${sys.props("java.io.tmpdir")}/graft_session_isolation_events"
    Seq(
      (1L, 1L, "click", ts("2026-01-01 10:05:00"), 1.0),
      (2L, 1L, "click", ts("2026-01-01 10:55:00"), 2.0),
      (3L, 1L, "view", ts("2026-01-01 11:10:00"), 3.0),
      (4L, 2L, "click", ts("2026-01-01 11:20:00"), 4.0),
      (5L, 2L, "purchase", ts("2026-01-01 11:40:00"), 5.0),
      (6L, 3L, "view", ts("2026-01-01 11:45:00"), 6.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(p)
    p
  }

  private def hourly(s: SparkSession, name: String): DataFrame =
    EventStreams.runHourlyStreamingOnce(s, tinyEvents, queryName = name)

  /** Runs `f` and collects the progress events of the `queries` streaming
    * queries it starts on `drain`. */
  private def progressOf(drain: SparkSession, queries: Int)(f: => Unit): Seq[QueryProgressEvent] = {
    val seen = new ConcurrentLinkedQueue[QueryProgressEvent]()
    val terminated = new java.util.concurrent.atomic.AtomicInteger
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = { seen.add(e); () }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        terminated.incrementAndGet(); ()
      }
    }
    drain.streams.addListener(l)
    try {
      f
      // listener events post asynchronously: wait for the terminations
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (terminated.get() < queries && System.nanoTime() < deadline) Thread.sleep(20)
      seen.asScala.toSeq
    } finally drain.streams.removeListener(l)
  }

  test("(a) every streaming runner leaves the caller's conf unchanged") {
    val caller = callerSession()
    val before = caller.conf.getAll
    for ((name, run) <- StreamQueries.queries.toSeq.sortBy(_._1)) {
      run(caller, sf).collect()
      assert(caller.conf.getAll == before, s"$name changed the caller's conf")
    }
  }

  test("(b) drains and both waves of a restart drill run on 2 shuffle partitions") {
    val caller = callerSession()
    val drained = progressOf(EventStreams.drainSession(caller), 1) {
      hourly(caller, "graft_iso_partitions").collect(); ()
    }
    val ops = drained.flatMap(_.progress.stateOperators)
    assert(ops.nonEmpty && ops.forall(_.numShufflePartitions == 2),
      ops.map(_.numShufflePartitions))
    val waves = progressOf(EventStreams.drainSession(caller, noDataBatches = true), 2) {
      StreamingSketch.runStreamKmvRestart(caller, tinyEvents,
        queryName = "graft_iso_restart").collect(); ()
    }
    val perRun = waves.filter(_.progress.stateOperators.nonEmpty)
      .groupBy(_.progress.runId)
      .map { case (_, es) => es.flatMap(_.progress.stateOperators.map(_.numShufflePartitions)).toSet }
    assert(perRun.size == 2, s"expected two waves, got $perRun")
    assert(perRun.forall(_ == Set(2L)), perRun)
    assert(caller.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("(c) a caller's later time-zone change reaches the next drain") {
    val caller = callerSession()
    caller.conf.set("spark.sql.session.timeZone", "UTC")
    def hours(): Seq[String] = hourly(caller, "graft_iso_tz")
      .select(col("h").cast("string")).collect().map(_.getString(0)).toSeq
    val utc = hours()
    caller.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val expected = utc.map { h =>
      java.time.LocalDateTime.parse(h, fmt).atZone(java.time.ZoneOffset.UTC)
        .withZoneSameInstant(java.time.ZoneId.of("Asia/Kolkata")).format(fmt)
    }
    assert(utc.nonEmpty)
    assert(hours() == expected)
  }

  test("(d) concurrent progress ingests and drains keep job groups and conf") {
    val caller = callerSession()
    val before = caller.conf.getAll
    val src = caller.range(0, 2000).toDF("k").withColumn("v", col("k") * 2)
    val out = s"${sys.props("java.io.tmpdir")}/graft_iso_ingest"
    val hourlyRows = hourly(caller, "graft_iso_concurrent").count()
    val errors = new ConcurrentLinkedQueue[String]()
    def worker(group: String)(round: Int => Unit): Thread = new Thread(() => {
      val sc = caller.sparkContext
      sc.setJobGroup(group, group)
      try (1 to 10).foreach { i =>
        round(i)
        val now = sc.getLocalProperty("spark.jobGroup.id")
        if (now != group) errors.add(s"$group round $i: job group is $now")
        if (caller.conf.getAll != before) errors.add(s"$group round $i: conf changed")
      } catch { case e: Throwable => errors.add(s"$group: $e") }
      finally sc.clearJobGroup()
    })
    val ingest = worker("graft-iso-ingest") { i =>
      val events = new ConcurrentLinkedQueue[(Long, Long)]()
      val n = Sinks.ingestCopyObserved(caller, src, Seq("k", "v"), s"$out/$i",
        Some((p: Long, t: Long) => { events.add((p, t)); () }))
      if (n != 2000L || events.asScala.lastOption.forall(_._1 != 2000L))
        errors.add(s"ingest round $i: $n rows, events $events")
    }
    val drain = worker("graft-iso-drain") { _ =>
      if (hourly(caller, "graft_iso_concurrent").count() != hourlyRows)
        errors.add("drain returned the wrong hourly rows")
    }
    Seq(ingest, drain).foreach(_.start())
    Seq(ingest, drain).foreach(_.join())
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
  }

  test("(e) the shared listener bus grows by at most 1 per drain") {
    val caller = callerSession()
    val sc = caller.sparkContext
    hourly(caller, "graft_iso_bus").collect() // builds the drain session
    val before = org.apache.spark.SharedBus.listenerCount(sc)
    (1 to 20).foreach(_ => hourly(caller, "graft_iso_bus").collect())
    val grown = org.apache.spark.SharedBus.listenerCount(sc) - before
    info(s"shared-bus listeners grew by $grown over 20 drains")
    assert(grown <= 20, s"grew by $grown over 20 drains")
  }
}
