package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.tools.CacheHygiene

/** Storage hygiene of the session memos: an EVICTED entry must release its
  * block-manager storage immediately, not wait for driver GC + the
  * ContextCleaner to notice the unreferenced frame (a long-lived session
  * cycling corpora would otherwise accrete stale checkpoint blocks).
  *
  * Covered here: the dup-graph LRU (localCheckpoint'ed frames — the round-5
  * gap; ivfCache already unpersisted on evict and keeps its own spec). The
  * bucketed-table memo needs no storage audit: bucketed tables are metastore
  * parquet, not pinned executor storage — their footprint is warehouse disk,
  * bounded by the per-corpus fingerprint naming.
  */
class CacheEvictionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A tiny corpus whose literal data makes its canonicalized plan — and so
    * its memo key — unique to this spec invocation. */
  private def corpus(tag: String) = Seq(
    (1L, s"alpha beta gamma delta $tag"),
    (2L, s"alpha beta gamma delta $tag"),
    (3L, s"totally different words here $tag")).toDF("doc_id", "text")

  test("dup-graph LRU eviction unpersists the checkpointed frame") {
    val victim = Dedup.dupGraphEdges(corpus("evict-victim"))
    val ids = CacheHygiene.checkpointRddIds(victim)
    assert(ids.nonEmpty, "memoized edge frame should be checkpoint-backed")
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains),
      "checkpoint blocks should be registered while the entry is live")
    // Fill the LRU (cap 8) with fresh corpora; the victim is oldest and
    // never re-accessed, so it must be evicted regardless of what other
    // concurrently-running suites add.
    (1 to 9).foreach(i => Dedup.dupGraphEdges(corpus(s"evict-filler-$i")))
    assert(ids.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "evicted entry's checkpoint RDDs must leave the persistent registry")
  }

  test("dupGraphEdges(refit = true) rebuilds and releases the stale frame") {
    val docs = corpus("refit-docs")
    val first = Dedup.dupGraphEdges(docs)
    val firstIds = CacheHygiene.checkpointRddIds(first)
    // Materialize the expected rows BEFORE refit: releasing a localCheckpoint
    // truncates lineage, so the stale frame is not recomputable afterwards.
    val expected = first.orderBy("src", "dst").collect().toSeq
    // Same plan, no refit → memo hit, same backing RDDs.
    val hit = Dedup.dupGraphEdges(docs)
    assert(CacheHygiene.checkpointRddIds(hit) == firstIds)
    // refit=true → new frame, old storage released.
    val rebuilt = Dedup.dupGraphEdges(docs, refit = true)
    val rebuiltIds = CacheHygiene.checkpointRddIds(rebuilt)
    assert(rebuiltIds != firstIds, "refit must rebuild, not serve the memo")
    assert(firstIds.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "refit must release the replaced entry's storage")
    // The rebuilt frame answers identically (same inputs).
    assert(rebuilt.orderBy("src", "dst").collect().toSeq == expected)
  }

  test("dupGraphComponents(refit = true) refreshes the edge memo underneath") {
    val docs = corpus("refit-comps")
    val comps1 = Dedup.dupGraphComponents(docs)
    val expected = comps1.orderBy("id").collect().toSeq // before lineage cut
    val edgeIds1 = CacheHygiene.checkpointRddIds(Dedup.dupGraphEdges(docs))
    val comps2 = Dedup.dupGraphComponents(docs, refit = true)
    val edgeIds2 = CacheHygiene.checkpointRddIds(Dedup.dupGraphEdges(docs))
    assert(edgeIds1 != edgeIds2,
      "components refit must also rebuild the underlying edge frame")
    assert(comps2.orderBy("id").collect().toSeq == expected)
  }

  test("dupGraphEdges on docs rewritten in place rebuilds without refit") {
    val path = java.nio.file.Files.createTempDirectory("graft_dup_rewrite").toString + "/docs.parquet"
    corpus("rewrite-before").write.parquet(path)
    val first = Dedup.dupGraphEdges(spark.read.parquet(path))
    val firstIds = CacheHygiene.checkpointRddIds(first)
    assert(first.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq(1L -> 2L))
    Seq((1L, "x y z w rewrite-after"), (5L, "x y z w rewrite-after"), (7L, "p q r s rewrite-after"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    val rebuilt = Dedup.dupGraphEdges(spark.read.parquet(path))
    assert(CacheHygiene.checkpointRddIds(rebuilt) != firstIds, "a rewrite must rebuild, not serve the memo")
    assert(rebuilt.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq(1L -> 5L))
  }
}
