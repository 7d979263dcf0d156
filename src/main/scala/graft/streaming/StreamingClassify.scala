package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Classify, TextStats}

/** Train-offline / score-online: the deployment shape of every curation
  * classifier. The model is fitted ONCE on the batch training split
  * ([[Classify.logregWeights]] — iters × one scan, dim-row collects), then
  * ships INSIDE the streaming plan as literals ([[Classify.logregProb]]):
  * scoring is a stateless per-row map over the live stream — no state
  * store, no lookup join, nothing that grows with stream length. The only
  * stateful operator is the final per-class calibration rollup (complete
  * mode, |classes| rows of state).
  *
  * A 100 TB/day deployment runs exactly this plan: the featurizer
  * ([[TextStats.hashedTf]], vocabulary-free by construction) and the weight
  * literals are the whole model — no side artifact to distribute, version,
  * or refresh atomically; retraining swaps the literals in the next query
  * restart.
  */
object StreamingClassify {

  /** The q_text_classifier features: label lang = 'en', L2-normalized
    * 64-dim hashedTf. */
  private def featurize(df: DataFrame): DataFrame = {
    val rawV = TextStats.hashedTf(col("text"), 64)
    df.select(col("doc_id").as("vid"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"), rawV.as("rv"))
      .withColumn("nrm",
        sqrt(graft.functions.ArrayKernels.dot(col("rv"), col("rv"))))
      .select(col("vid"), col("y"),
        when(col("nrm") > 0, transform(col("rv"), x => x / col("nrm")))
          .otherwise(col("rv")).as("v"))
  }

  /** Drain a documents parquet table through the streaming scorer: batch-
    * train on the training split (positive = lang 'en', L2-normalized
    * 64-dim hashedTf — the q_text_classifier model exactly), then score the
    * held-out panel as a file STREAM and roll up per-class calibration.
    * Output == the batch q_text_classifier frame, which is what the parity
    * contract (and the shared DuckDB oracle) checks. */
  def runStreamClassifyOnce(caller: SparkSession, parquetPath: String,
                            queryName: String = "graft_stream_classify"): DataFrame = {
    val spark = EventStreams.drainSession(caller)
    val batch = spark.read.parquet(parquetPath)
    val schema = batch.schema
    val dir = EventStreams.stageToDir(parquetPath, queryName)

    // Offline fit: identical split, featurization, and trajectory as the
    // batch query — the weights ARE the q_text_classifier weights.
    val wts = Classify.logregWeights(
      featurize(batch).filter(!Classify.isTestRow(col("vid"))), "v", "y")

    // Online score: stateless map over the stream; only the bounded
    // per-class rollup holds state.
    val scored = featurize(spark.readStream.schema(schema).parquet(dir))
      .filter(Classify.isTestRow(col("vid")))
      .select(col("y"), Classify.logregProb(wts, col("v")).as("p"))
    EventStreams.drainOnce(Classify.calibration(scored), queryName, "complete")
      .orderBy("y")
  }

  /** Exactly-once RESTART for the scoring path — the recovery drill a
    * 100 TB/day gate actually rehearses. The stateless scorer writes
    * (vid, y, p) through the exactly-once parquet FILE sink (the
    * production sink; the complete-mode memory rollup above is the test
    * harness): wave 1 of the corpus lands and commits, wave 2 arrives
    * while the query is down, and the restarted query — same checkpoint,
    * same weight literals — may process ONLY the unseen files. A
    * double-processed wave would double per-class `n` and shift `mean_p`,
    * so rolling up the COMMITTED sink output and comparing to the batch
    * calibration frame verifies offsets + commit-log recovery end-to-end.
    * Model restart semantics are the module contract: weights are plan
    * literals, so the restarted query carries the identical model with no
    * side artifact to reload. */
  def runStreamClassifyRestart(caller: SparkSession, parquetPath: String,
                               queryName: String = "graft_stream_classify_restart"): DataFrame = {
    val spark = EventStreams.drainSession(caller, noDataBatches = true)
    val batch = spark.read.parquet(parquetPath)
    val schema = batch.schema
    val srcDir  = EventStreams.freshDir(s"graft_clsrestart_src_$queryName")
    val outDir  = EventStreams.freshDir(s"graft_clsrestart_out_$queryName")
    val ckptDir = EventStreams.freshDir(s"graft_clsrestart_ckpt_$queryName")

    val wts = Classify.logregWeights(
      featurize(batch).filter(!Classify.isTestRow(col("vid"))), "v", "y")

    def runWave(): Unit = {
      val scored = featurize(spark.readStream.schema(schema).parquet(srcDir))
        .filter(Classify.isTestRow(col("vid")))
        .select(col("vid"), col("y"), Classify.logregProb(wts, col("v")).as("p"))
      val q = scored.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    batch.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(srcDir)
    runWave() // wave 1: scored rows committed, offsets checkpointed
    batch.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(srcDir)
    runWave() // restart: only the new files may process
    Classify.calibration(spark.read.parquet(outDir).select(col("y"), col("p")))
      .orderBy("y")
  }
}
