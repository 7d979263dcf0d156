package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Ops
import SparkEntry.cat

/** The deterministic skew-stress fixture (split out of SparkEntry): a
  * power-law join key over the lineitem fact whose cap key absorbs ~52%
  * of all rows, driven through the salted and unsalted join paths with
  * ONE shared oracle — the measured evidence that Ops.saltedJoin spreads
  * a scorching reducer. */
object SkewFixture {

  /** Deterministic power-law join key for the skew-stress fixture: an
    * md5-uniform u in (0,1) mapped through the exact inverse CDF
    * k = ceil(min(25, u⁻⁵)) — u⁻⁵ spelled as five multiplications so the
    * whole synthesis is exactly-rounded IEEE arithmetic (no pow), hence
    * bit-identical across engines. P(k = 25) = 25^-0.2 ≈ 0.52: the cap key
    * is a genuine scorcher. */
  private def skewKey: org.apache.spark.sql.Column = {
    val hv = expr("CAST(conv(substring(md5(concat('skew_', " +
      "CAST(l_orderkey AS STRING), '_', CAST(l_linenumber AS STRING))), " +
      "1, 6), 16, 10) AS BIGINT)")
    val u = (hv.cast("double") + lit(0.5)) / lit(16777216.0)
    ceil(least(lit(25.0), lit(1.0) / (u * u * u * u * u))).cast("int")
  }

  /** The q_skew_join_stress / q_skew_join_plain oracle: the same exact-FP
    * key synthesis joined plainly — parity of the salted plan against the
    * plain aggregate IS the check. */
  private def skewJoinOracleSql: String =
    "WITH f AS (SELECT CAST(ceil(least(CAST(25.0 AS DOUBLE), CAST(1.0 AS DOUBLE) / (u * u * u * u * u))) AS INTEGER) AS k, l_quantity " +
      "FROM (SELECT (CAST(CAST(concat('0x', substr(md5(concat('skew_', CAST(l_orderkey AS VARCHAR), '_', CAST(l_linenumber AS VARCHAR))), 1, 6)) AS BIGINT) AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(16777216.0 AS DOUBLE) AS u, l_quantity FROM lineitem) t) " +
      "SELECT k, c_name, CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS qty " +
      "FROM f JOIN customer ON f.k = customer.c_custkey GROUP BY 1, 2 ORDER BY 1"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_join_stress" -> ((s, dir) => {
      // SKEW STRESS: the synthetic TPC-H keys are uniform, so the salted
      // join was exercised but never actually STRESSED — this fixture
      // derives a deterministic power-law key over the lineitem fact
      // (inverse-CDF of a Pareto(α=0.2) Zipf-like law, computed with EXACT
      // FP ops — md5-uniform u, k = ceil(min(25, u⁻⁵)) via five
      // multiplications, no transcendentals — so both engines synthesize
      // the identical key) whose cap key absorbs ~52% of all rows: the
      // one-scorching-reducer shape AQE can't split below its size
      // threshold. The dim side is SHUFFLE_MERGE-hinted (at 100 TB neither
      // side broadcasts; the hint models that here), so the hot key's rows
      // really do converge on one reducer — and Ops.saltedJoin spreads
      // them over 8 (k, salt) buckets instead. Oracle = the PLAIN join's
      // aggregate, proving salting loses/invents nothing;
      // q_skew_join_plain is the same query unsalted, so the bench
      // artifact carries the measured plain-vs-salted time split.
      val c = cat(s, dir)
      val fact = c.lineitem.withColumn("k", skewKey).select("k", "l_quantity")
      val dim = c.customer.filter(col("c_custkey") <= 25)
        .select(col("c_custkey"), col("c_name")).hint("SHUFFLE_MERGE")
      Ops.saltedJoin(fact, dim, "k", "c_custkey", salts = 8)
        .groupBy("k", "c_name")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("k")
    }),
    "q_skew_join_plain" -> ((s, dir) => {
      // The unsalted control leg of q_skew_join_stress: identical key
      // synthesis, identical aggregate, the join left to suffer the hot
      // key on one reducer. Same oracle — parity is the point.
      val c = cat(s, dir)
      val fact = c.lineitem.withColumn("k", skewKey).select("k", "l_quantity")
      val dim = c.customer.filter(col("c_custkey") <= 25)
        .select(col("c_custkey"), col("c_name")).hint("SHUFFLE_MERGE")
      fact.join(dim, col("k") === col("c_custkey"))
        .groupBy("k", "c_name")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("k")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_skew_join_stress" -> skewJoinOracleSql,
    "q_skew_join_plain" -> skewJoinOracleSql)
}
