package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable, executor-side, idempotent keyed upsert over plain parquet — the
  * engine's stand-in for the reference's Cassandra `counter` tables
  * (create-timeseries.cql:76-83,86-91; incremented from the stream in
  * KafkaStreamingActor.scala:55-64).
  *
  * Contract: each `upsert(batch)` carries, per key, the FULL recomputed
  * aggregate (exactly what an update-mode streaming aggregation emits per
  * micro-batch). The sink MERGEs by key: existing rows for keys present in
  * the batch are replaced, all other rows survive. Replaying a batch (the
  * at-least-once `foreachBatch` failure mode) rewrites the same keys with
  * the same values — convergent, unlike a Cassandra counter increment which
  * double-counts on replay (the reference's known weakness, SURVEY §2.9).
  *
  * Mechanics (the same shape as a Delta/Iceberg MERGE, on bare parquet):
  *  1. keys are hashed into `numBuckets` partition directories (`kb=<n>`) —
  *     the unit of rewrite, so a batch touching k keys rewrites at most
  *     min(k, numBuckets) directories, not the table;
  *  2. a stats job over the batch returns its row count (the width guard)
  *     and the touched-bucket ids — the only driver-side values, bounded by
  *     `numBuckets`, i.e. metadata-sized;
  *  3. a write job reads the touched buckets (partition-pruned, with the
  *     batch's schema, so no inference job), unions them with the batch
  *     under a source flag and merges in ONE shuffle on `kb`: grouping by
  *     `kb` + keys keeps the batch row per key where there is one. Each
  *     bucket lands in one task and is written as one file, straight into
  *     `tableDir` by a dynamic partition overwrite. Spark stages that output
  *     under `.spark-staging-<jobId>` and swaps the touched `kb=` directories
  *     in only at job commit, after every input has been read, so the merge
  *     never overwrites a file it is still scanning.
  *
  * The swap inside that commit is NOT atomic: per touched bucket Spark
  * deletes the old directory and then renames the staged one in. A
  * concurrent reader can see the bucket missing. A crash between the two
  * leaves the merged bucket only in the abandoned staging directory, and a
  * replayed `upsert` rewrites its keys but not the bucket's other rows. A
  * crash before or after the swap of a bucket is covered by the replay.
  * This hole is the upsert tables' only: the ingest counters, which add
  * increments instead of replacing aggregates, are a [[CounterTable]] and
  * publish each batch by one directory rename.
  *
  * Scale notes: `numBuckets` is the rewrite granularity / parallelism
  * trade-off — at 100 TB of counter state you'd raise it so each bucket is
  * ~100 MB-1 GB, and swap step 3's publish for a transactional table format
  * (Delta/Iceberg MERGE does steps 2-3 with an atomic log commit). One
  * writer per table (one streaming query per sink instance) — same
  * single-writer rule the reference gets from one Kafka consumer group per
  * counter table.
  */
final class KeyedParquetSink(val tableDir: String, keyCols: Seq[String],
    numBuckets: Int = 32,
    maxBatchKeys: Long = KeyedParquetSink.DefaultMaxBatchKeys)
    extends Serializable {

  private val bucketCol = "kb"
  private val srcCol = "_kps_from_batch"

  def exists(spark: SparkSession): Boolean = {
    val p = new Path(tableDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Current durable state, bucket column dropped. */
  def read(spark: SparkSession): DataFrame =
    spark.read.parquet(tableDir).drop(bucketCol)

  /** Idempotent merge of one micro-batch of full per-key aggregates. */
  def upsert(batch: DataFrame): Unit = synchronized {
    val spark = batch.sparkSession
    // both jobs read the batch; pinned, the upstream micro-batch plan (for a
    // streaming caller, the stateful aggregation) runs once, inside the
    // stats job, and the write job reads the cached rows
    val withBucket = batch.withColumn(bucketCol,
      pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets.toLong)).cast("int"))
      .persist()
    try {
      val stats = withBucket.agg(count(lit(1)), collect_set(col(bucketCol))).head()
      // Fail-fast guard on batch width: the contract is one row per key
      // (update-mode aggregation output), so a batch past `maxBatchKeys`
      // rows means the upstream aggregation has no watermark (or a far
      // too lax one) and its state — and every bucket rewrite here — is
      // growing without bound. Surfacing that as an error at the sink
      // beats silently rewriting the whole table every trigger.
      if (maxBatchKeys > 0 && stats.getLong(0) > maxBatchKeys)
        throw new IllegalStateException(
          s"KeyedParquetSink($tableDir): micro-batch carries more than " +
            s"$maxBatchKeys keyed rows — is the upstream aggregation " +
            "missing a watermark? Raise maxBatchKeys if this width is " +
            "intended.")
      // an empty batch writes nothing, so an empty first trigger can't
      // leave behind a schemaless (unreadable) empty table
      if (stats.getLong(0) == 0) return
      val fresh = withBucket.withColumn(srcCol, lit(1))
      val merged =
        if (!exists(spark)) fresh
        else spark.read.schema(withBucket.schema).parquet(tableDir)
          .filter(col(bucketCol).isin(stats.getSeq[Int](1): _*)) // pruned scan
          .withColumn(srcCol, lit(0))
          .unionByName(fresh)
      val valueCols = batch.columns.filterNot(keyCols.contains)
      merged.repartition(col(bucketCol))
        .groupBy((bucketCol +: keyCols).map(col): _*)
        .agg(max_by(struct(valueCols.map(col): _*), col(srcCol)).as(srcCol))
        .select(batch.columns.map(c =>
          if (keyCols.contains(c)) col(c) else col(srcCol).getField(c).as(c)) :+
          col(bucketCol): _*)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(bucketCol)
        .parquet(tableDir)
    } finally withBucket.unpersist()
  }
}

object KeyedParquetSink {
  /** Default per-batch keyed-row cap. Generous: a healthy watermarked
    * counter stream touches days-per-trigger keys (dozens); 4M rows means
    * state is effectively unbounded. */
  val DefaultMaxBatchKeys: Long = 1L << 22
}
