package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession. Each main names a recipe;
  * the recipe's conf list is a pure function of the core count, so a spec
  * pins it without starting a session.
  *
  *  - [[Latency]] — the single-node latency profile: Bench, and ExplainDump
  *    (so a dumped plan is the plan the bench runs). The repo benchmark's
  *    session (`perfbench/src/perfbench/Session.scala`) spells out the same
  *    list plus its work-dir entries; keep the two equal.
  *  - [[Scale]] — the cluster-shaped profile with AQE on: ScaleStress and
  *    BenchStream (the skew-split and coalescing receipts live there).
  *  - [[Verify]] — graft.Verify: shuffle width = cores, AQE at Spark's
  *    default. The partition-invariance receipt diffs dumps taken at two
  *    SPARK_GRAFT_CPUS values, so the width must follow the core count.
  *
  * Every session also gets GraftExtensions, UTC, no UI, WARN logging with
  * [[QuietLogs]], and the `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` overrides on
  * top of the recipe — a conf hypothesis (`spark.sql.shuffle.partitions=8`,
  * `spark.sql.adaptive.enabled=true`, ...) is A/B-measured on any main
  * without editing code. Results are bit-identical across recipes; only
  * plan shape and scheduling differ.
  */
object Sessions {
  sealed trait Recipe
  case object Latency extends Recipe
  case object Scale extends Recipe
  case object Verify extends Recipe

  /** SPARK_GRAFT_CPUS, default 4: the local master width every main runs. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  def confs(recipe: Recipe, cores: Int): Seq[(String, String)] = {
    val tuned = recipe match {
      // Where the warm floor of an overhead-dominated row goes (the
      // `registry.*` layers of `perfbench/run.py --trace 1`): ~15-30 ms
      // DataFrame build (Dataset ops analyze eagerly), ~10-30 ms optimize +
      // physical planning, and jobs × ~20-25 ms of driver round-trip. These
      // confs attack the round-trip count and the per-event payload.
      //
      // Shuffle width: at bench scale every shuffle partition is a ~1-3 ms
      // task launch on kB of data; width 4 halves the task count vs 8 with
      // no compute loss (measured A/B, converged pass totals).
      // AQE off: AQE materializes every exchange as its own job — ~3 extra
      // driver round-trips (~25 ms each) per query — to gather runtime stats
      // that at sf0.1 are already known at plan time (same-window A/B over
      // the full registry: 142.0 s → ~119 s; where a small join side is
      // bounded by construction the query sites carry static hints instead).
      // explainMode: every SQL execution renders its plan into the
      // SQLExecutionStart event even with the UI off; "simple" is the
      // cheapest renderer (~2% of the floor total). A/B'd and rejected:
      // files.maxPartitionBytes=512m (task counts identical) and
      // constraintPropagation.enabled=false (+13 s: inferred IsNotNull
      // filters prune real work).
      case Latency => Seq(
        "spark.sql.shuffle.partitions" -> math.max(4, cores / 8).toString,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.ui.explainMode" -> "simple")
      case Scale => Seq(
        "spark.sql.shuffle.partitions" -> math.max(8, cores / 4).toString,
        "spark.sql.adaptive.enabled" -> "true")
      case Verify => Seq(
        "spark.sql.shuffle.partitions" -> cores.toString)
    }
    // Long runs in one JVM: shuffle files, broadcast blocks and accumulator
    // state are reclaimed only when the ContextCleaner's weak references
    // fire, and the default 30 min periodic-GC nudge is longer than the run
    // (a 189-query run measured 277 s vs ~120 s in family-sized sessions).
    // Interleaved rep passes cycle the whole registry between a query's
    // samples; the default 100-entry codegen cache would evict every
    // generated class in between (~+0.15 s/query of Janino recompiles).
    val longRun = recipe match {
      case Verify => Nil
      case _ => Seq(
        "spark.cleaner.periodicGC.interval" -> "30s",
        "spark.sql.codegen.cache.maxEntries" -> "4096")
    }
    Seq("spark.master" -> s"local[$cores]") ++ tuned ++ Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ longRun
  }

  /** Parse `SPARK_GRAFT_EXTRA_CONF`: `;`-separated `key=value` entries,
    * trimmed; the value keeps any further `=`. Blank entries are skipped (an
    * A/B tool's default arm passes ""); any other entry without a key fails,
    * so a typo'd arm cannot time the default plan under its label. */
  def extraConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
      }
    }

  def start(recipe: Recipe): SparkSession = {
    val b = SparkSession.builder().withExtensions(new GraftExtensions)
    (confs(recipe, cores) ++ extraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")))
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QuietLogs.quietBenignWindowWarnings()
    spark
  }
}
