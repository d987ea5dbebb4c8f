package perfbench

import org.apache.spark.sql.SparkSession

/** The one session recipe every workload runs under: the confs `graft.Bench`
  * sets at this core count, spelled out here so no environment knob of the
  * repo (`SPARK_GRAFT_*`) can change what is measured. */
object Session {
  def confs(cores: Int, workDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> math.max(4, cores / 8).toString,
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.ui.explainMode" -> "simple",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.cleaner.periodicGC.interval" -> "30s",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // keep every byte the run writes inside its work directory
    "spark.sql.warehouse.dir" -> s"$workDir/warehouse",
    "spark.local.dir" -> s"$workDir/spark-local")

  def start(cores: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .appName("perfbench")
    confs(cores, workDir).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
