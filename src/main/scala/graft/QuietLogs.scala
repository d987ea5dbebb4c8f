package graft

/** Targeted log hygiene for the engine's entry points (Bench / Verify /
  * test session).
  *
  * WindowExec warns "No Partition Defined for Window operation" on every
  * run of an unpartitioned window. The repo's unpartitioned windows are
  * each audited benign because the window input is already reduced to a
  * bounded handful of rows before the window runs: top-K prefixes,
  * tiny aggregate dims, matrix- or bucket-sized frames. The
  * authoritative, enforced list lives in PlanQualitySpec's allowlist.
  *
  * A partitionBy(lit(...)) rewrite cannot silence it: Spark 4's
  * EliminateWindowPartitions optimizer rule strips foldable partition
  * keys, restoring the empty spec (and the warning). So the sites keep
  * their design comments and the entry points downgrade ONLY this one
  * logger — every other WARN still reaches the bench/test tail.
  *
  * The detection the warning used to provide is NOT lost: PlanQualitySpec
  * ("no NEW unpartitioned windows") walks every registered query's
  * physical plan and fails by name on any unpartitioned WindowExec outside
  * the allowlist — a stronger guard than a log line.
  */
object QuietLogs {
  def quietBenignWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
