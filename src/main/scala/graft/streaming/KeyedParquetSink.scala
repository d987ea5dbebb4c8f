package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftPlanDoor, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.plans.ParamLiteral

/** Durable, executor-side, idempotent keyed merge over plain parquet — the
  * engine's stand-in for the reference's Cassandra `counter` tables
  * (create-timeseries.cql:76-83,86-91; incremented from the stream in
  * KafkaStreamingActor.scala:55-64). Two merges share one mechanism:
  *
  *  - `upsert(batch)`: each batch carries, per key, the FULL recomputed
  *    aggregate (what an update-mode streaming aggregation emits per
  *    micro-batch). Existing rows for keys in the batch are replaced, all
  *    other rows survive. A replayed batch rewrites the same keys with the
  *    same values, so replay converges by value.
  *  - `add(delta, batchId)`: each batch carries, per key, an INCREMENT
  *    (one micro-batch's sums and counts); every value column is summed
  *    into the stored row. This is the counter the reference increments,
  *    without a state store upstream. Replay converges by batch id: each
  *    rewritten bucket's rows carry the id of the batch that wrote them,
  *    and a replay drops its delta rows for the buckets already stamped
  *    with its id — the ones an earlier attempt of the same batch published
  *    before the crash. Ids must grow with each batch, as a streaming
  *    query's do; one table takes one kind of merge.
  *
  * Unlike a Cassandra counter increment, neither double-counts on replay
  * (the reference's known weakness, SURVEY §2.9).
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
  *     `kb` + keys keeps the batch row per key where there is one (`upsert`)
  *     or sums the rows (`add`, after a window over `kb` on the same
  *     partitioning finds the bucket's stored stamp). Each bucket lands in
  *     one task and is written as one file, straight into `tableDir` by a
  *     dynamic partition overwrite. Spark stages that output under
  *     `.spark-staging-<jobId>` and swaps the touched `kb=` directories in
  *     only at job commit, after every input has been read, so the merge
  *     never overwrites a file it is still scanning.
  *
  * The swap inside that commit is NOT atomic: per touched bucket Spark
  * deletes the old directory and then renames the staged one in. A
  * concurrent reader can see the bucket missing. A crash between the two
  * leaves the merged bucket only in the abandoned staging directory: a
  * replayed `upsert` rewrites its keys but not the bucket's other rows, and
  * a replayed `add` finds no stamp and adds its delta onto nothing. A
  * crash before or after the swap of a bucket is covered by the replay.
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
  private val stampCol = "_kps_batch_id"
  private val publishedCol = "_kps_published"

  def exists(spark: SparkSession): Boolean = {
    val p = new Path(tableDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Current durable state, bucket column (and [[add]]'s batch stamp)
    * dropped. */
  def read(spark: SparkSession): DataFrame =
    spark.read.parquet(tableDir).drop(bucketCol, stampCol)

  /** Idempotent merge of one micro-batch of full per-key aggregates. */
  def upsert(batch: DataFrame): Unit = merge(batch, None)

  /** Additive merge of one micro-batch's per-key increments: every value
    * column of `delta` is summed into the key's row. Replay-safe by batch
    * id, not by value: each rewritten bucket's rows carry `batchId`, and a
    * replay drops its delta rows for buckets already stamped with it. */
  def add(delta: DataFrame, batchId: Long): Unit = merge(delta, Some(batchId))

  private def merge(batch: DataFrame, batchId: Option[Long]): Unit = synchronized {
    val spark = batch.sparkSession
    // both jobs read the batch; pinned, the upstream micro-batch plan (for a
    // streaming caller, the micro-batch's aggregation) runs once, inside the
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
      // the batch id reaches generated code as a field, not as source, so
      // every batch's merge reuses one compiled class
      val stamp = batchId.map(id => GraftPlanDoor.column(ParamLiteral(id, LongType)))
      val fresh = stamp.foldLeft(withBucket)(_.withColumn(stampCol, _))
        .withColumn(srcCol, lit(1))
      val merged =
        if (!exists(spark)) fresh
        else spark.read.schema(fresh.drop(srcCol).schema).parquet(tableDir)
          .filter(col(bucketCol).isin(stats.getSeq[Int](1): _*)) // pruned scan
          .withColumn(srcCol, lit(0))
          .unionByName(fresh)
      val valueCols = batch.columns.filterNot(keyCols.contains)
      val byBucket = merged.repartition(col(bucketCol))
      val out = stamp match {
        case None =>
          byBucket.groupBy((bucketCol +: keyCols).map(col): _*)
            .agg(max_by(struct(valueCols.map(col): _*), col(srcCol)).as(srcCol))
            .select(batch.columns.map(c =>
              if (keyCols.contains(c)) col(c) else col(srcCol).getField(c).as(c)) :+
              col(bucketCol): _*)
        case Some(idCol) =>
          // a bucket whose stored rows already carry this id was published
          // by an earlier attempt of the batch: its delta is in them. The
          // window runs on the `kb` partitioning, so it adds no shuffle.
          val published = max(when(col(srcCol) === 0, col(stampCol)))
            .over(Window.partitionBy(col(bucketCol))) === idCol
          val sums = valueCols.map(c => sum(col(c)).cast(batch.schema(c).dataType).as(c))
          byBucket.withColumn(publishedCol, published)
            .filter(col(srcCol) === 0 || !coalesce(col(publishedCol), lit(false)))
            .groupBy((bucketCol +: keyCols).map(col): _*)
            .agg(sums.head, sums.tail: _*)
            .select(batch.columns.map(col) :+ idCol.as(stampCol) :+ col(bucketCol): _*)
      }
      out.write.mode("overwrite")
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
