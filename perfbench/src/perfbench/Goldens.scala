package perfbench

import java.io.File

/** Regenerates `goldens.json`: `Goldens <work> <outDir>` writes the corpus
  * under `<work>/corpus`, each registry row's result as parquet under
  * `<outDir>/<row>/`, the rows' oracle SQL as `<outDir>/oracle_sql.json`, and
  * the row counts and hashes as `<outDir>/goldens.json`. `check_goldens.py`
  * then compares every result with its DuckDB oracle before the file is
  * copied next to the benchmark. */
object Goldens {
  def main(args: Array[String]): Unit = {
    val Array(work, out) = args
    val spark = Session.start(Runtime.getRuntime.availableProcessors, work)
    Corpus.load(spark, s"$work/corpus", write = true)
    val fns = graft.SparkEntry.queries
    val golden = Json.obj()
    val oracle = Json.obj()
    Registry.Rows.foreach { n =>
      val df = fns(n)(spark, s"$work/corpus")
      df.write.mode("overwrite").parquet(s"$out/$n")
      val (rows, hash) = Registry.fingerprint(df)
      golden.putObject(n).put("rows", rows).put("hash", hash)
      oracle.put(n, graft.SparkEntry.oracleSql(n))
    }
    val pretty = Json.mapper.writerWithDefaultPrettyPrinter()
    pretty.writeValue(new File(out, "goldens.json"), golden)
    Json.mapper.writeValue(new File(out, "oracle_sql.json"), oracle)
    spark.stop()
  }
}
