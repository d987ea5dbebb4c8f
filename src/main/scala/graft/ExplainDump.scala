package graft

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic main: dump `.explain("formatted")` for named registry
  * queries to files — the plan evidence the optimization rounds commit
  * under plans/rNN/ (the judge checks plan claims against these).
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> <q1,q2,...> [suffix]
  * Writes <outDir>/<name><suffix>.txt. The session is Bench's
  * (`Sessions.Latency`) and Bench.setup runs first, so the dumped plan is
  * the plan the bench executes; SPARK_GRAFT_EXTRA_CONF overrides confs as
  * for every main.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExplainDump <sfDir> <outDir> <q1,q2,...> [suffix]")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val suffix = if (args.length > 3) args(3) else ""
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Sessions.start(Sessions.Latency)
    Bench.setup(spark, sfDir)
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(outDir.resolve(n + suffix + ".txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[explain] wrote ${outDir.resolve(n + suffix + ".txt")}")
    }
    spark.stop()
  }
}
