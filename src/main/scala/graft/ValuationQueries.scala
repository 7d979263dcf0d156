package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Classify, TextStats}
import SparkEntry.cat

/** The data-valuation tier (split out of SparkEntry): leave-one-source-out
  * ablation and exact source-granularity Data Shapley, both over the
  * q_text_classifier hashedTf featurization, with unrolled sufficient-
  * stats oracles. */
object ValuationQueries {

  /** Player cap shared by the q_source_shapley query AND its oracle: the
    * Spark side passes it to Classify.sourceShapley; the oracle derives
    * its top-(cap−1)+'__rest__' lumping rule and its factorial lookup
    * table from the SAME constant, so bumping the cap can never leave the
    * oracle's factorial CASE short (which would NULL-propagate into a
    * silently-wrong shapley column instead of a loud mismatch). */
  private val shapleyMaxPlayers = 6

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_ablation" -> ((s, dir) => {
      // Leave-one-source-out DATA VALUATION (Classify.sourceAblation) —
      // the ablation behind "which ingest source helps, which hurts?":
      // for each training source, the held-out src0 split is scored under
      // the lang-id nearest-centroid model trained WITHOUT that source,
      // beside the full-pool model; delta = acc_without − acc_full, so a
      // negative delta marks a source pulling its weight. One pool scan of
      // exact-DECIMAL (source, label, dim) sufficient statistics; every
      // LSO centroid is subtraction algebra over them — never a re-scan
      // per source — and the eval panel joins one broadcast centroid
      // table. Features are the hashedTf(64) L2-normalized vectors (the
      // q_text_classifier featurizer: portable md5 routing, so the oracle
      // computes the identical vectors).
      val rawV = TextStats.hashedTf(col("text"), 64)
      val staged = cat(s, dir).documents
        .select(col("source"), col("lang"), rawV.as("rv"))
        .withColumn("nrm",
          sqrt(graft.functions.ArrayKernels.dot(col("rv"), col("rv"))))
        .select(col("source"), col("lang"),
          when(col("nrm") > 0, transform(col("rv"), x => x / col("nrm")))
            .otherwise(col("rv")).as("vec"))
      Classify.sourceAblation(staged, "source", "lang", "vec", "src0")
    }),
    "q_source_shapley" -> ((s, dir) => {
      // EXACT Data Shapley at source granularity (Ghorbani & Zou 2019) —
      // the principled upgrade of q_source_ablation's leave-one-out
      // marginal: each source's value is its average marginal accuracy
      // contribution over ALL coalitions, with the efficiency axiom
      // (Σφ = v(full)) spec-asserted. Feasible EXACTLY because players
      // are sources: one sufficient-stats scan, every coalition model is
      // addition over the model-sized stats frame, and the Shapley fold
      // runs in exact integers (acc×10⁴, weights ×n!) so it is order-free
      // and engine-portable. Exponential only in PLAYERS, never rows — and
      // the player set is BOUNDED: the top 5 sources by doc count stay
      // singleton players, the long tail lumps into '__rest__' (the
      // corpus has 19 training sources; 2^19 coalition models is the
      // trap this bound exists for), giving exact group-Shapley at that
      // granularity.
      val rawV = TextStats.hashedTf(col("text"), 64)
      val staged = cat(s, dir).documents
        .select(col("source"), col("lang"), rawV.as("rv"))
        .withColumn("nrm",
          sqrt(graft.functions.ArrayKernels.dot(col("rv"), col("rv"))))
        .select(col("source"), col("lang"),
          when(col("nrm") > 0, transform(col("rv"), x => x / col("nrm")))
            .otherwise(col("rv")).as("vec"))
      Classify.sourceShapley(staged, "source", "lang", "vec", "src0",
        maxPlayers = shapleyMaxPlayers) // one constant with the oracle
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_source_ablation" ->
      // The cvCentroid oracle re-keyed from folds to sources over the
      // q_text_classifier hashedTf featurization; LSO centroids by
      // subtraction, same degenerate guard, argmin (d2, label).
      ("WITH base AS MATERIALIZED (SELECT source, lang, list_transform(rv, x -> CASE WHEN nrm > 0 THEN x / nrm ELSE x END) AS v FROM "
       + "(SELECT source, lang, rv, sqrt(list_dot_product(rv, rv)) AS nrm FROM "
       + "(SELECT source, lang, list_transform(range(0, 64), d -> CAST(len(list_filter(list_transform(string_split(text, ' '), "
       + "w -> CAST(concat('0x', substr(md5(w), 1, 6)) AS INTEGER) % 64), x -> x = d)) AS DOUBLE)) AS rv FROM documents) t1) t2), "
       + "pool AS MATERIALIZED (SELECT * FROM base WHERE source <> 'src0'), "
       + "ev AS MATERIALIZED (SELECT row_number() OVER () AS vid, lang AS actual, v FROM base WHERE source = 'src0'), "
       + "pf AS MATERIALIZED (SELECT source, lang, CAST(u.d AS INTEGER) AS d, sum(CAST(v[CAST(u.d AS INTEGER)] AS DECIMAL(28,12))) AS sx, CAST(count(*) AS BIGINT) AS n "
       + "FROM pool, unnest(range(1, len(v) + 1)) AS u(d) GROUP BY 1, 2, 3), "
       + "tt AS MATERIALIZED (SELECT lang, d, sum(sx) AS tx, CAST(sum(n) AS BIGINT) AS tn FROM pf GROUP BY 1, 2), "
       + "mfull AS (SELECT 'all' AS model, lang, d, round(CAST(tx AS DOUBLE) / tn, 9) AS c FROM tt), "
       + "srcs AS (SELECT DISTINCT source FROM pool), "
       + "mlso AS (SELECT s.source AS model, tt.lang, tt.d, "
       + "round(CAST(tt.tx - coalesce(pf.sx, 0) AS DOUBLE) / (tt.tn - coalesce(pf.n, 0)), 9) AS c "
       + "FROM srcs s CROSS JOIN tt LEFT JOIN pf ON pf.source = s.source AND pf.lang = tt.lang AND pf.d = tt.d "
       + "WHERE tt.tn - coalesce(pf.n, 0) > 0), "
       + "cl AS MATERIALIZED (SELECT model, lang AS cand, list(c ORDER BY d) AS cv FROM (SELECT * FROM mfull UNION ALL SELECT * FROM mlso) mm GROUP BY 1, 2), "
       + "sc AS (SELECT cl.model, ev.vid, ev.actual, cl.cand, "
       + "list_sum(list_transform(range(1, len(ev.v) + 1), i -> (ev.v[i] - cl.cv[i]) * (ev.v[i] - cl.cv[i]))) AS d2 FROM ev, cl), "
       + "pk AS (SELECT model, vid, actual, cand FROM (SELECT *, row_number() OVER (PARTITION BY model, vid ORDER BY d2, cand) AS rn FROM sc) t WHERE rn = 1), "
       + "acc AS (SELECT model, CAST(count(*) AS BIGINT) AS n_eval, CAST(sum(CASE WHEN cand = actual THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, "
       + "round(CAST(sum(CASE WHEN cand = actual THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS accuracy FROM pk GROUP BY 1), "
       + "pt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM pool), "
       + "ntr AS (SELECT 'all' AS model, nt AS n_train FROM pt UNION ALL "
       + "SELECT source AS model, (SELECT nt FROM pt) - CAST(count(*) AS BIGINT) AS n_train FROM pool GROUP BY source), "
       + "fa AS (SELECT accuracy AS af FROM acc WHERE model = 'all') "
       + "SELECT acc.model, ntr.n_train, acc.n_eval, acc.n_correct, acc.accuracy, "
       + "round(acc.accuracy - (SELECT af FROM fa), 4) AS delta "
       + "FROM acc JOIN ntr ON acc.model = ntr.model ORDER BY acc.model"),
    "q_source_shapley" ->
      // The ablation oracle lifted to coalitions: bitmask coalition ids,
      // coalition stats by addition, round-4 accuracies, and the Shapley
      // fold in EXACT INTEGERS (acc x 10^4, factorial weights). The
      // lumping rule and the factorial CASE table are both generated from
      // shapleyMaxPlayers — the same constant the declared query passes
      // to Classify.sourceShapley — so the two sides cannot drift.
      ("WITH base AS MATERIALIZED (SELECT source, lang, list_transform(rv, x -> CASE WHEN nrm > 0 THEN x / nrm ELSE x END) AS v FROM (SELECT source, lang, rv, sqrt(list_dot_product(rv, rv)) AS nrm FROM (SELECT source, lang, list_transform(range(0, 64), d -> CAST(len(list_filter(list_transform(string_split(text, ' '), w -> CAST(concat('0x', substr(md5(w), 1, 6)) AS INTEGER) % 64), x -> x = d)) AS DOUBLE)) AS rv FROM documents) t1) t2), "
       + "pool0 AS MATERIALIZED (SELECT * FROM base WHERE source <> 'src0'), "
       + "pc AS (SELECT source, count(*) AS nd, row_number() OVER (ORDER BY count(*) DESC, source) AS rk FROM pool0 GROUP BY source), "
       + s"pmap AS MATERIALIZED (SELECT source AS rawsrc, CASE WHEN rk <= ${shapleyMaxPlayers - 1} OR (SELECT count(*) FROM pc) <= $shapleyMaxPlayers THEN source ELSE '__rest__' END AS player FROM pc), "
       + "pool AS MATERIALIZED (SELECT pmap.player AS source, pool0.lang, pool0.v FROM pool0 JOIN pmap ON pool0.source = pmap.rawsrc), "
       + "ev AS MATERIALIZED (SELECT row_number() OVER () AS vid, lang AS actual, v FROM base WHERE source = 'src0'), "
       + "pf AS MATERIALIZED (SELECT source, lang, CAST(u.d AS INTEGER) AS d, sum(CAST(v[CAST(u.d AS INTEGER)] AS DECIMAL(28,12))) AS sx, CAST(count(*) AS BIGINT) AS n "
       + "FROM pool, unnest(range(1, len(v) + 1)) AS u(d) GROUP BY 1, 2, 3), "
       + "srcs AS MATERIALIZED (SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS INTEGER) AS idx FROM (SELECT DISTINCT source FROM pool) t), "
       + "nn AS (SELECT CAST(count(*) AS INTEGER) AS n FROM srcs), "
       + "co AS MATERIALIZED (SELECT CAST(u.c AS INTEGER) AS cid FROM unnest(range(1, (CAST(1 AS BIGINT) << (SELECT n FROM nn)))) AS u(c)), "
       + "cm AS (SELECT s.source, co.cid FROM srcs s JOIN co ON ((co.cid >> s.idx) & 1) = 1), "
       + "cs AS MATERIALIZED (SELECT cm.cid, pf.lang, pf.d, round(CAST(sum(pf.sx) AS DOUBLE) / sum(pf.n), 9) AS c FROM pf JOIN cm ON pf.source = cm.source GROUP BY 1, 2, 3), "
       + "cl AS MATERIALIZED (SELECT cid, lang AS cand, list(c ORDER BY d) AS cv FROM cs GROUP BY 1, 2), "
       + "sc AS (SELECT cl.cid, ev.vid, ev.actual, cl.cand, "
       + "list_sum(list_transform(range(1, len(ev.v) + 1), i -> (ev.v[i] - cl.cv[i]) * (ev.v[i] - cl.cv[i]))) AS d2 FROM ev, cl), "
       + "pk AS (SELECT cid, vid, actual, cand FROM (SELECT *, row_number() OVER (PARTITION BY cid, vid ORDER BY d2, cand) AS rn FROM sc) t WHERE rn = 1), "
       + "acc AS MATERIALIZED (SELECT cid, round(CAST(sum(CASE WHEN cand = actual THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS acc FROM pk GROUP BY 1), "
       + s"fct AS (SELECT CAST(u.k AS INTEGER) AS k, CASE CAST(u.k AS INTEGER) ${(0 to shapleyMaxPlayers + 1).map(k => s"WHEN $k THEN ${(1 to k).foldLeft(1L)(_ * _)}").mkString(" ")} END AS f FROM unnest(range(0, ${shapleyMaxPlayers + 2})) AS u(k)), "
       + "allc AS (SELECT 0 AS cid UNION ALL SELECT cid FROM co), "
       + "csz AS (SELECT cid, CAST(len(list_filter(range(0, (SELECT n FROM nn)), i -> ((cid >> CAST(i AS INTEGER)) & 1) = 1)) AS INTEGER) AS s FROM allc), "
       + "av AS MATERIALIZED (SELECT allc.cid, coalesce(CAST(round(acc.acc * 10000) AS BIGINT), 0) AS a FROM allc LEFT JOIN acc ON allc.cid = acc.cid), "
       + "terms AS (SELECT s.source, "
       + "(SELECT f FROM fct WHERE k = csz.s) * (SELECT f FROM fct WHERE k = (SELECT n FROM nn) - 1 - csz.s) * (av2.a - av1.a) AS term "
       + "FROM srcs s JOIN av av1 ON ((av1.cid >> s.idx) & 1) = 0 "
       + "JOIN csz ON csz.cid = av1.cid "
       + "JOIN av av2 ON av2.cid = (av1.cid | (CAST(1 AS INTEGER) << s.idx))), "
       + "phi AS (SELECT source, round(CAST(sum(term) AS DOUBLE) / ((SELECT f FROM fct WHERE k = (SELECT n FROM nn)) * 10000.0), 6) AS shapley FROM terms GROUP BY 1), "
       + "nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM pool GROUP BY 1), "
       + "solo AS (SELECT s.source, CAST(coalesce(acc.acc, 0.0) AS DOUBLE) AS solo_acc FROM srcs s LEFT JOIN acc ON acc.cid = (CAST(1 AS INTEGER) << s.idx)) "
       + "SELECT nd.source, nd.n_docs, solo.solo_acc, phi.shapley FROM nd JOIN solo ON nd.source = solo.source JOIN phi ON nd.source = phi.source ORDER BY nd.source")
  )
}
