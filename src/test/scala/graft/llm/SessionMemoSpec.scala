package graft.llm

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.StoppedContext
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The shared build-once policy: LRU bound and access order, `release` on
  * exactly the values the memo drops, invalidation, the stopped-session
  * purge, and builds outside the map lock. Values are fakes; keys are tiny
  * local DataFrames, so no Spark job runs. */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // One thread per concurrent caller: the race and latch cases park threads.
  private val pool = Executors.newCachedThreadPool()
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
  override def afterAll(): Unit = pool.shutdownNow()

  private final class Fake(val name: String)

  private final class Counting {
    val released = new ConcurrentLinkedQueue[Fake]()
    val memo = new SessionMemo[Fake](v => released.add(v))
    def releasedNames: Seq[String] = released.asScala.map(_.name).toSeq
  }

  private def frame(tag: String) = Seq(tag).toDF("t")

  test("LRU: a re-read entry survives, the oldest is evicted and released once") {
    val c = new Counting
    val df = frame("lru")
    var builds = 0
    def get(i: Int) = c.memo.getOrBuild(df, i) { builds += 1; new Fake(s"v$i") }
    val first = (1 to SessionMemo.MaxEntries).map(get)
    assert(builds == SessionMemo.MaxEntries && c.released.isEmpty)
    assert(get(1) eq first(0), "a hit returns the stored value")
    get(SessionMemo.MaxEntries + 1)
    assert(c.memo.size == SessionMemo.MaxEntries)
    assert(c.releasedNames == Seq("v2"), "the least recently used entry goes")
    val before = builds
    assert(get(1) eq first(0), "the re-read entry survives")
    assert(builds == before)
    get(2)
    assert(builds == before + 1, "the evicted entry is rebuilt")
    assert(c.releasedNames == Seq("v2", "v3"))
  }

  test("keys compare plans and params: different corpora never share an entry") {
    val c = new Counting
    val a = c.memo.getOrBuild(frame("a"), 1)(new Fake("a"))
    val b = c.memo.getOrBuild(frame("b"), 1)(new Fake("b"))
    val a2 = c.memo.getOrBuild(frame("a"), 2)(new Fake("a2"))
    assert((a ne b) && (a ne a2) && c.memo.size == 3)
    assert(c.memo.getOrBuild(frame("a"), 1)(new Fake("dup")) eq a,
      "an equal plan built anew hits the entry")
  }

  test("frames read before and after an overwrite of their files are two entries") {
    val c = new Counting
    val p = java.nio.file.Files.createTempDirectory("graft_memo_rewrite").toString + "/t.parquet"
    Seq(1L, 2L).toDF("id").write.parquet(p)
    val before = spark.read.parquet(p)
    c.memo.getOrBuild(before, 1)(new Fake("before"))
    Seq(3L).toDF("id").write.mode("overwrite").parquet(p)
    val after = spark.read.parquet(p)
    c.memo.getOrBuild(after, 1)(new Fake("after"))
    assert(c.memo.size == 2)
    assert(c.memo.getOrBuild(before, 1)(new Fake("dup")).name == "before",
      "a frame built before the rewrite keeps its snapshot")
    assert(c.memo.getOrBuild(spark.read.parquet(p), 1)(new Fake("dup")).name == "after")
  }

  test("invalidate releases the entry once and the next getOrBuild rebuilds") {
    val c = new Counting
    val df = frame("refit")
    val v1 = c.memo.getOrBuild(df, "p")(new Fake("v1"))
    c.memo.invalidate(df, "p")
    assert(c.released.asScala.toSeq.map(_ eq v1) == Seq(true))
    c.memo.invalidate(df, "p")
    assert(c.released.size == 1, "invalidating an absent key releases nothing")
    val v2 = c.memo.getOrBuild(df, "p")(new Fake("v2"))
    assert(v2 ne v1)
    assert(c.memo.getOrBuild(df, "p")(new Fake("v3")) eq v2)
    assert(c.released.size == 1, "the returned value is never released")
  }

  test("entries of a stopped session are purged on access") {
    val c = new Counting
    c.memo.getOrBuild(frame("stopped"), 1)(new Fake("s"))
    assert(c.memo.size == 1)
    assert(StoppedContext.during(spark.sparkContext)(c.memo.size) == 0)
    assert(c.memo.size == 0)
    assert(c.released.isEmpty, "a purged entry's storage died with its session")
  }

  test("a race loser is released once and both callers get the winner") {
    val c = new Counting
    val df = frame("race")
    val bothBuilding = new CyclicBarrier(2)
    def racer(name: String) = Future {
      c.memo.getOrBuild(df, 1) {
        bothBuilding.await(30, TimeUnit.SECONDS)
        new Fake(name)
      }
    }
    val (x, y) = Await.result(racer("x").zip(racer("y")), 60.seconds)
    assert(x eq y, "both callers return the stored winner")
    val lost = c.released.asScala.toSeq
    assert(lost.size == 1 && (lost.head ne x))
    assert(c.memo.size == 1)
  }

  test("a build in progress for one key does not block another key") {
    val c = new Counting
    val started = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val slow = Future {
      c.memo.getOrBuild(frame("slow"), 1) {
        started.countDown()
        gate.await(60, TimeUnit.SECONDS)
        new Fake("slow")
      }
    }
    try {
      assert(started.await(30, TimeUnit.SECONDS))
      val fast = Future(c.memo.getOrBuild(frame("fast"), 1)(new Fake("fast")))
      assert(Await.result(fast, 30.seconds).name == "fast")
      assert(!slow.isCompleted, "the slow build is still holding its latch")
    } finally gate.countDown()
    assert(Await.result(slow, 60.seconds).name == "slow")
  }

  test("Pq.trained memo stays bounded past MaxEntries fits") {
    (0 to SessionMemo.MaxEntries).foreach { i =>
      val df = Seq((0L, Seq(i.toDouble, 1.0))).toDF("vec_id", "embedding")
      Pq.trained(df, "vec_id", "embedding", dim = 2, m = 1, k = 1, iters = 0)
    }
    assert(Pq.fits.size <= SessionMemo.MaxEntries)
  }
}
