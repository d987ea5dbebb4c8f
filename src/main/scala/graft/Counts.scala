package graft

/** Registry census for README/status reporting — the counts come from the
  * same `SparkEntry` maps the driver's correctness gate runs against, so
  * they cannot drift from reality the way hand-maintained numbers have
  * (tools/update_readme_counts.sh rewrites the README block from this
  * output). No SparkSession needed: the registry maps are plain data. */
object Counts {
  def main(args: Array[String]): Unit = {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val noOracle = (qs -- os).toSeq.sorted
    println(s"queries=${qs.size}")
    println(s"oracled=${(qs & os).size}")
    println(s"no_oracle_n=${noOracle.size}")
    println(s"no_oracle=${noOracle.mkString(", ")}")
    println(s"names=${qs.toSeq.sorted.mkString(",")}")
    // an oracle without a query would silently never be checked
    val orphaned = (os -- qs).toSeq.sorted
    if (orphaned.nonEmpty) {
      System.err.println(s"[counts] oracle entries with no query: ${orphaned.mkString(", ")}")
      sys.exit(2)
    }
  }
}
