package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session memo for build-once fits (IVF index, dup graph, BPE, Unigram,
  * PQ): a long-lived session fits an index or model once and probes it many
  * times, so refitting per call would be rebuilding a B-tree per lookup.
  *
  * Keyed on (session, CANONICALIZED input plan, table snapshot, params) —
  * equality-checked, not hashed, so two different corpora can never collide
  * into one entry; the snapshot ([[graft.engine.ParquetFooters.snapshot]]:
  * each input file's path, length and mtime) makes a frame read after an
  * in-place rewrite miss, while one built before keeps its old snapshot.
  * A value built from no input plan is keyed on (session, params) alone.
  * Entries of stopped sessions are purged on access without `release`
  * (their storage died with the executors). An access-ordered LRU holds at
  * most [[SessionMemo.MaxEntries]] entries; `release` frees the storage of
  * every value the memo drops: the LRU victim, an [[invalidate]]d entry and
  * the loser of a build race. A released localCheckpoint is irrecoverable
  * (its lineage was truncated), so a returned checkpointed frame is valid
  * until `MaxEntries` later corpora evict it; a caller holding one longer
  * persists its own copy or calls again.
  *
  * Builds run OUTSIDE the map lock, so a long fit never serializes callers
  * that want a different key. Two threads missing on the same key both
  * build; `putIfAbsent` keeps the winner and the loser is released. */
private[graft] final class SessionMemo[V](release: V => Unit) {
  private type Key = (SparkSession, Seq[Any])

  private val entries: java.util.Map[Key, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Key, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Key, V]): Boolean = {
          val evict = this.size() > SessionMemo.MaxEntries
          if (evict) release(e.getValue)
          evict
        }
      })

  private def key(df: DataFrame, params: Seq[Any]): Key = (df.sparkSession,
    df.queryExecution.analyzed.canonicalized +: graft.engine.ParquetFooters.snapshot(df.queryExecution.analyzed) +: params)

  private def purgeStopped(): Unit =
    entries.keySet.removeIf(k => k._1.sparkContext.isStopped)

  def getOrBuild(df: DataFrame, params: Any*)(build: => V): V =
    getOrBuildKey(key(df, params), build)

  def getOrBuild(spark: SparkSession, params: Any*)(build: => V): V =
    getOrBuildKey((spark, params), build)

  private def getOrBuildKey(k: Key, build: => V): V = {
    purgeStopped()
    Option(entries.get(k)).getOrElse {
      val built = build
      Option(entries.putIfAbsent(k, built)) match {
        case Some(winner) => release(built); winner
        case None => built
      }
    }
  }

  /** The entry of `df` and `params`, when the memo holds one. */
  def get(df: DataFrame, params: Any*): Option[V] = {
    purgeStopped()
    Option(entries.get(key(df, params)))
  }

  /** The `refit` hook: drop the entry and release it. */
  def invalidate(df: DataFrame, params: Any*): Unit =
    Option(entries.remove(key(df, params))).foreach(release)

  def size: Int = { purgeStopped(); entries.size() }
}

private[graft] object SessionMemo {
  private[llm] val MaxEntries = 8
}
