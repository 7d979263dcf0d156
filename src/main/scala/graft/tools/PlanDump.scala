package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only plan-dump harness (not part of the driver contract): write the
  * `.explain("formatted")` text of the named queries to files — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/r<n>/`. Args: <outDir> <suffix> <q1,q2,...>; reads
  * SPARK_GRAFT_SF_DIR (default sf0.01) and mirrors Bench's session shape
  * (local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus) so the dumped
  * plans are the ones the bench actually runs. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val Array(outDir, suffix, list) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    list.split(",").foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sf)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"dumped $n -> $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
