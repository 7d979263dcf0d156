package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The reference's relational surface as pure `DataFrame => DataFrame`
  * operators (SURVEY.md §2). Everything here is declarative — Catalyst picks
  * physical strategies (broadcast vs sort-merge joins, partial aggregation,
  * TakeOrderedAndProject for top-k) and pushes filters/projections into the
  * parquet scans.
  */
object Ops {

  /** Column projection (P1/P2, server.js:452-453, 492-496). */
  def project(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** Deterministic LIMIT/OFFSET pagination (L1/L2, server.js:463-498).
    *
    * The reference pages with `LIMIT … OFFSET …` and **no ORDER BY**
    * (nondeterministic, rows can repeat/vanish across pages). We require an
    * explicit total order so `concat(all pages) == ordered table`.
    * `MAX_PAGE_SIZE` clamp mirrors server.js:54; page numbers below 1 read
    * page 1.
    *
    * On a plain Parquet scan ordered by one key whose row groups hold
    * disjoint key ranges (a [[Catalog.table]] written in key order, such as
    * by [[Sinks.writeSorted]]), [[ParquetFooters.page]] locates the run of
    * row groups holding the page from the footers. A run of at most
    * [[LocalAnswers.MaxBytes]] is read on the driver and the page is a local
    * frame: collecting it runs no Spark job. A larger run is read by one job
    * that skips every other row group. Every other frame, key or layout
    * sorts the whole frame, and there an offset past `Int.MaxValue` rows is
    * rejected with an `IllegalArgumentException`. Every path gives the same
    * rows.
    *
    * When that full sort reads a plain file scan (a CSV upload, say), the
    * first page of the frame also counts the scan's rows ([[ScanCounts]]),
    * for [[countTotal]] to answer from.
    */
  val DefaultPageSize = 100 // server.js:53
  val MaxPageSize     = 1000 // server.js:54

  def page(df: DataFrame, orderBy: Seq[Column], pageNum: Int,
           pageSize: Int = DefaultPageSize): DataFrame = {
    val size   = math.min(pageSize, MaxPageSize)
    val offset = (math.max(pageNum, 1) - 1).toLong * size
    ParquetFooters.page(df, orderBy, offset, size).getOrElse {
      require(offset <= Int.MaxValue,
        s"page $pageNum of size $size starts at row $offset, past the ${Int.MaxValue} rows an offset can skip")
      ScanCounts.observed(df).orderBy(orderBy: _*).offset(offset.toInt).limit(size)
    }
  }

  /** Total-row count (A1/A2, server.js:455-461, 500-507) as a one-row frame
    * with one non-null `total: bigint` column.
    *
    * On a plain Parquet scan ([[ParquetFooters]]) the total is the sum of
    * the footers' row-group row counts, read when this is called. On a file
    * frame that a [[page]] has sorted whole, the total is the count that
    * page took ([[ScanCounts]]). Either frame is local ([[LocalAnswers]]):
    * collecting it runs no Spark job. Every other frame (filtered, joined,
    * more than [[ParquetFooters.MaxFiles]] files, or a file frame not yet
    * paged) counts in one Spark job when collected. */
  def countTotal(df: DataFrame): DataFrame =
    ParquetFooters.rowCount(df).orElse(ScanCounts.total(df)) match {
      case Some(n) =>
        LocalAnswers.frame(df.sparkSession,
          Seq(AttributeReference("total", LongType, nullable = false)()), Seq(InternalRow(n)))
      case None => df.agg(count(lit(1)).as("total"))
    }

  /** Chained multi-table INNER JOIN (J1, server.js:817-866): left-fold
    * `FROM t0 JOIN t1 ON c1 JOIN t2 ON c2 …`. Conditions are expressions, so
    * equi- and theta-joins are both expressible, matching the reference's raw
    * ON strings. Catalyst reorders and picks broadcast/SMJ per side size; AQE
    * revises at runtime. */
  def joinChain(base: DataFrame, joins: Seq[(DataFrame, Column)],
                joinType: String = "inner"): DataFrame =
    joins.foldLeft(base) { case (acc, (df, cond)) => acc.join(df, cond, joinType) }

  /** joinChain from SQL condition strings — the reference's exact input shape
    * (`joinConditions[]` are raw strings, server.js:838-844). */
  def joinChainSql(base: DataFrame, joins: Seq[(DataFrame, String)],
                   joinType: String = "inner"): DataFrame =
    joinChain(base, joins.map { case (df, c) => (df, expr(c)) }, joinType)

  /** Top-k: Catalyst executes orderBy+limit as TakeOrderedAndProject —
    * per-partition heaps + driver merge, no full sort, no shuffle of the
    * full data (X4). */
  def topK(df: DataFrame, k: Int, orderBy: Seq[Column]): DataFrame =
    df.orderBy(orderBy: _*).limit(k)

  /** As-of join: for every left row, the single latest right row with
    * `rightTime <= leftTime` on the same key (classic events↔slowly-changing
    * reference data alignment). Spark has no native ASOF JOIN; this composes
    * existing operators (SURVEY §custom preference (a)): union both sides
    * tagged, one window pass carrying the last non-null right payload
    * forward in time order, keep left rows. ONE shuffle on the key — same
    * cost as a plain sort-merge join, no range-condition BNLJ blowup.
    *
    * Right side must be unique per (key, time) — pre-aggregate if not, or
    * ties make "the" matched row ill-defined (same contract as DuckDB's
    * ASOF JOIN). Right payload columns come back null when nothing precedes. */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               rightPayload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val leftCols = left.columns.toSeq
    val reserved = Set("__key", "__t", "__rv", "__side")
    require(leftCols.forall(!reserved.contains(_)),
      s"left columns collide with asofJoin internals: ${leftCols.filter(reserved)}")
    val clash = rightPayload.toSet.intersect(leftCols.toSet)
    require(clash.isEmpty,
      s"rightPayload columns already exist on the left side: $clash — " +
        "rename before joining, silent clobbering otherwise")
    val l = left
      .withColumn("__key", col(leftKey)).withColumn("__t", col(leftTime))
      .withColumn("__rv", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(rightPayload.map(col): _*).schema.fields)))
      .withColumn("__side", lit(1))
    val r = right
      .select(col(rightKey).as("__key"), col(rightTime).as("__t"),
        struct(rightPayload.map(col): _*).as("__rv"), lit(0).as("__side"))
    val unioned = l.select(
      (leftCols.map(col) :+ col("__key") :+ col("__t") :+ col("__rv") :+ col("__side")): _*)
      .unionByName(r.withColumns(
        leftCols.filterNot(Set("__key", "__t", "__rv", "__side"))
          .map(c => c -> lit(null).cast(l.schema(c).dataType)).toMap), allowMissingColumns = false)
    // Right rows sort before left at equal time → "<=" (inclusive) semantics.
    val w = Window.partitionBy("__key").orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__m", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    rightPayload.foldLeft(matched) { case (df, c) =>
        df.withColumn(c, col("__m").getField(c))
      }
      .select((leftCols ++ rightPayload).map(col): _*)
  }

  /** Skew-salted equi-join of a large skewed fact side against a smaller
    * table. The fact side gets a per-row salt derived from a hash of all its
    * columns (deterministic across retries — no rand()); the small side is
    * exploded `salts`× so every (key, salt) bucket still finds its match.
    * A hot key's rows then spread over `salts` reducers instead of one.
    *
    * This is the manual fallback; AQE's skew-join handles most cases
    * (`spark.sql.adaptive.skewJoin.enabled`, on by default) — reach for this
    * when a single key is hot inside one logical partition AQE can't split
    * further, or on a non-AQE engine path. Join result is provably identical
    * to the unsalted join (spec-checked). */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
                 smallKey: String, salts: Int): DataFrame = {
    // Row-position salt, not a content hash: byte-identical duplicate rows
    // of the hot key (the common skew shape) must land in different buckets.
    // monotonically_increasing_id is deterministic per partition + row order,
    // so retries re-derive the same salts.
    val saltedBig = big.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salts)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall,
        saltedBig(bigKey) === saltedSmall(smallKey) &&
          saltedBig("__salt") === saltedSmall("__salt"))
      .drop("__salt")
  }

  /** Batch MERGE/upsert onto a keyed table without a transactional format:
    * rows of `target` whose key has no update survive; every `updates` row
    * lands (replacing matched keys, inserting new ones). Two shuffles on the
    * key (anti-join + union) — the classic parquet-era upsert; on a real
    * deployment the anti-join side is the only full-table pass, and writing
    * the result partitioned by key range confines the rewrite to touched
    * partitions. `updates` must be unique per key (pre-aggregate if not),
    * or "the" surviving row is ill-defined. */
  def mergeUpsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val clash = (target.columns ++ updates.columns).filter(_.startsWith("__u_"))
    require(clash.isEmpty,
      s"columns may not use the mergeUpsert-internal __u_ prefix: ${clash.toSeq}")
    // Null-safe equality (<=>): a NULL key must still match its update —
    // plain `=` would keep the stale target row AND union in the update.
    // Renamed key projection sidesteps ambiguous self-join resolution when
    // `updates` derives from `target`.
    val uk = updates.select(keys.map(k => col(k).as(s"__u_$k")): _*)
    val cond = keys.map(k => col(k) <=> col(s"__u_$k")).reduce(_ && _)
    target.join(uk, cond, "left_anti").unionByName(updates)
  }

  /** Column profiling: one row per column with null count, exact distinct
    * count, and min/max (rendered as strings for a uniform schema) — the
    * ANALYZE/data-quality summary every catalog UI wants next to DESCRIBE.
    *
    * ONE aggregation pass over the table computes every column's stats
    * simultaneously (a per-column union would rescan the table once per
    * column). Multiple exact count-distincts expand the input rows ×cols
    * before the shuffle — the exact tier is for audit scale; at 100 TB swap
    * `countDistinct` for `approx_count_distinct` and the pass is single-scan
    * map-combined. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).as("__total")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(cols.map { c =>
      struct(lit(c).as("col_name"),
        (col("__total") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_val"),
        col(s"__mx_$c").as("max_val"))
    }: _*)
    one.select(explode(entries).as("p")).select("p.*").orderBy("col_name")
  }

  /** Exact global ntile WITHOUT a single-partition window. `ntile(k) OVER
    * (ORDER BY …)` funnels every row through one window task — the global
    * sort itself distributes fine (range exchange), it's the unpartitioned
    * Window that serializes. This formulation keeps everything distributed:
    *
    *  1. range-repartition + sort within partitions (a distributed total
    *     order, the same exchange a global orderBy plans);
    *  2. `localCheckpoint` pins the range boundaries — the partitioner is
    *     re-sampled per action, so the count pass and the zip pass must see
    *     one materialized partitioning, not two independent samples;
    *  3. per-partition row numbering with cross-partition offsets: one tiny
    *     per-partition count job (32 rows to the driver), then the global
    *     row number assembles from codegen'd expressions only —
    *     `monotonically_increasing_id()` already carries a per-partition
    *     row counter in its low 33 bits IN ITERATION ORDER (= the sorted
    *     checkpoint order), so `__rn = offset[spark_partition_id()] +
    *     (mid & (2^33 - 1)) + 1`. No exit from Tungsten rows, no
    *     `zipWithIndex` Row round-trip, one fewer job. (Bound: the 33-bit
    *     counter caps a partition at 2^33 ≈ 8.6B rows — far beyond any sane
    *     partition size; size numShufflePartitions before hitting it);
    *  4. the exact SQL ntile bucket formula from the global row number —
    *     first `n % k` buckets get `n/k + 1` rows, the rest `n/k`.
    *
    * Output matches `ntile(k)` bit-for-bit. Requires a total order
    * (tiebreak included in sortCols) for cross-engine determinism. */
  def ntileExact(df: DataFrame, buckets: Int, sortCols: Seq[Column],
                 outCol: String = "bucket"): DataFrame = {
    require(buckets > 0, "ntileExact: buckets must be positive")
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint(true)
    val counts = ranged.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = ranged.rdd.getNumPartitions
    val offsets = new Array[Long](nParts)
    var acc = 0L
    for (p <- 0 until nParts) { offsets(p) = acc; acc += counts.getOrElse(p, 0L) }
    val total = acc
    val rn = element_at(array(offsets.map(lit(_)): _*), spark_partition_id() + 1) +
      monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) + 1
    val zipped = ranged.withColumn("__rn", rn)
    val q = total / buckets
    val r = total % buckets
    val cut = r * (q + 1) // rows 1..cut live in the q+1-sized buckets
    val bucket = when(col("__rn") <= cut,
        expr(s"CAST((__rn - 1) DIV ${q + 1} AS INT) + 1"))
      .otherwise(expr(s"CAST($r + (__rn - 1 - $cut) DIV ${math.max(q, 1)} AS INT) + 1"))
    zipped.withColumn(outCol, bucket).drop("__rn")
  }

  /** Bloom-filter pre-shuffle join pruning — the manual form of Spark's
    * runtime row-level filtering (InjectRuntimeFilter), for when the
    * selective side is known up front: build a bloom filter over the small
    * side's join keys (one aggregation, a few MB of bits), ship it as a
    * literal into a `might_contain` predicate on the big side, and only then
    * join. Rows whose key cannot match never enter the exchange — at 100 TB
    * the shuffle is the cost, and a 1% - selective dimension means ~99% of
    * fact bytes skip it.
    *
    * No false negatives (bloom guarantee) → prefilter + join ≡ plain join,
    * exactly (spec-checked); false positives only cost wasted shuffle rows,
    * tunable via `expectedItems`/`numBits`. Uses Spark's own
    * BloomFilterAggregate / BloomFilterMightContain expressions over
    * xxhash64(key) — the same pair the AQE runtime filter injects. */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame, bigKey: String,
                      smallKey: String, expectedItems: Long = 1000000L,
                      numBits: Long = 8388608L): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloomAgg = column(new BloomFilterAggregate(
        expression(xxhash64(col(smallKey))),
        Literal(expectedItems), Literal(numBits))
      .toAggregateExpression())
    val bytes = small.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val pruned =
      if (bytes == null) big.filter(lit(false)) // empty small side: nothing joins
      else big.filter(column(BloomFilterMightContain(
        Literal(bytes, org.apache.spark.sql.types.BinaryType),
        expression(xxhash64(col(bigKey))))))
    pruned.join(small, pruned(bigKey) === small(smallKey))
  }

  /** Keep-first dedup by key with a deterministic tiebreak ordering (Y1).
    * Implemented as row_number()=1 over a window — unlike dropDuplicates,
    * *which* row survives is well-defined. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[Column], tiebreak: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys: _*).orderBy(tiebreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
