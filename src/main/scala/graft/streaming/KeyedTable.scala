package graft.streaming

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable keyed table over plain parquet, written batch by batch and merged
  * on read — the stand-in for the reference's Cassandra tables, which the
  * stream writes batch by batch (KafkaStreamingActor.scala:55-64) and the
  * storage engine merges on read and in compaction
  * (create-timeseries.cql:76-83,86-91; SURVEY §2.9).
  *
  * Each table names its merge rule, the way the rows of one key in several
  * batches combine:
  *  - [[KeyedTable.Sum]]: every value column is summed by key. A batch
  *    carries increments: the ingest counters;
  *  - [[KeyedTable.Latest]]: the row from the highest batch wins. A batch
  *    carries each touched key's whole current row: update-mode aggregates,
  *    leaderboards and dedup registries (the upsert contract).
  *
  * Layout under `tableDir`:
  *  - `deltas/batch=<id>/`: one micro-batch's per-key rows (for `Sum`, its
  *    sums and counts) as one file, written once and never changed;
  *  - `base/g=<id>/`: a fold, the merge of every batch up to
  *    `id`. The largest published `g` is the current base, so no pointer
  *    file is kept;
  *  - `_staging/`: a write in flight, which no reader lists.
  *
  * `add(delta, batchId)` writes the delta under `_staging` and publishes it
  * with one directory rename, so a reader sees all of a batch or none of
  * it. [[read]] merges the current base and the deltas newer than it by
  * key: `Sum` adds them up; `Latest` tags each file set with its id (a
  * base's `g`, a delta's batch id) and keeps, per key, the row of the
  * highest id. A single file set is returned as it is.
  * When `foldEvery` deltas are live, `add` folds them inline, on the same
  * trigger: it writes their merge with the base as the next base, staged and
  * renamed the same way, and then deletes what the PREVIOUS base covered
  * (older bases, and deltas at or below its id). The delete lags one fold,
  * so a reader that listed the previous base still finds its files while
  * the next fold runs. A read that spans two folds can fail on a missing
  * file; it never returns a partial merge, and never misses a key.
  *
  * Exactly-once by batch id (Structured Streaming, SIGMOD 2018): a replayed
  * id whose delta is published, or that the current base covers, writes
  * nothing, and a staged write that a crash left unpublished is deleted and
  * written again. A crash between a fold's rename and its deletes leaves
  * files that no reader lists, and the next fold deletes them. Unlike a
  * Cassandra counter increment, a replay never double-counts. Ids must grow
  * with each batch, as a streaming query's do. One writer per table. A
  * replayed batch still runs to its end, so that a stateful upstream
  * commits its state for it.
  *
  * Scale notes: a delta is bounded by the keys one trigger touches; the
  * fold is the only whole-table rewrite, paid once per `foldEvery`
  * triggers instead of on every trigger, and a read opens the base and
  * fewer than `foldEvery` delta files. Nothing bounds a batch's width: a
  * caller whose upstream state grows without bound sees it in
  * `StreamingQueryProgress.stateOperators`, and its deltas grow with it.
  */
final class KeyedTable(val tableDir: String, keyCols: Seq[String],
    merge: KeyedTable.Merge, foldEvery: Int = KeyedTable.FoldEvery) extends Serializable {
  import KeyedTable._

  private val deltaDir = new Path(tableDir, "deltas")
  private val baseDir = new Path(tableDir, "base")
  private val stagingDir = new Path(tableDir, "_staging")

  /** Whether any batch is published. */
  def exists(spark: SparkSession): Boolean = {
    val (base, deltas) = snapshot(fileSystem(spark))
    base.nonEmpty || deltas.nonEmpty
  }

  /** Current rows per key: the base plus the live deltas, merged. */
  def read(spark: SparkSession): DataFrame = {
    val (base, deltas) = snapshot(fileSystem(spark))
    mergeByKey(spark.read.parquet(paths(base, deltas): _*), base, deltas)
  }

  /** Adds one micro-batch's per-key rows: each is merged into its key by
    * the table's rule. Replay-safe by `batchId`. */
  def add(delta: DataFrame, batchId: Long): Unit = synchronized {
    val spark = delta.sparkSession
    val fs = fileSystem(spark)
    fs.delete(stagingDir, true) // what a killed write left unpublished
    val (base, live) = snapshot(fs)
    val fresh = !base.exists(batchId <= _) && !live.contains(batchId)
    if (fresh) publish(fs, delta.coalesce(1), deltaPath(batchId))
    // a replay writes nothing, but still runs the batch to its end, so that
    // a stateful upstream (an update-mode aggregation) commits its state
    else delta.write.format("noop").mode("overwrite").save()
    val pending = if (fresh) live :+ batchId else live
    if (pending.size >= foldEvery) {
      val files = spark.read.schema(delta.schema).parquet(paths(base, pending): _*)
      publish(fs, mergeByKey(files, base, pending), basePath(pending.max))
      // the previous base and the deltas above it stay for a reader that
      // listed them; what it covered goes
      base.foreach { prev =>
        ids(fs, baseDir, "g=").filter(_ < prev).foreach(g => fs.delete(basePath(g), true))
        ids(fs, deltaDir, "batch=").filter(_ <= prev).foreach(d => fs.delete(deltaPath(d), true))
      }
    }
  }

  private def fileSystem(spark: SparkSession): FileSystem =
    deltaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The ids of `dir`'s `<prefix><id>` children, ascending. */
  private def ids(fs: FileSystem, dir: Path, prefix: String): Seq[Long] =
    (try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil })
      .map(_.getPath.getName).filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong).sorted

  /** The current base and the deltas above it. Deltas are listed first: a
    * fold published in between only raises the base, so the pair always
    * covers a prefix of the batches. */
  private def snapshot(fs: FileSystem): (Option[Long], Seq[Long]) = {
    val deltas = ids(fs, deltaDir, "batch=")
    val base = ids(fs, baseDir, "g=").lastOption
    (base, deltas.filter(d => base.forall(d > _)))
  }

  private def basePath(g: Long) = new Path(baseDir, s"g=$g")
  private def deltaPath(id: Long) = new Path(deltaDir, s"batch=$id")

  private def paths(base: Option[Long], deltas: Seq[Long]): Seq[String] =
    (base.map(basePath).toSeq ++ deltas.map(deltaPath)).map(_.toString)

  /** `files`, read from the file sets of `base` and `deltas`, merged by key
    * under the table's rule. One file set holds one row per key. */
  private def mergeByKey(files: DataFrame, base: Option[Long], deltas: Seq[Long]): DataFrame =
    if (base.size + deltas.size <= 1) files
    else merge match {
      case Sum =>
        val sums = files.columns.filterNot(keyCols.contains)
          .map(c => sum(col(c)).cast(files.schema(c).dataType).as(c))
        files.groupBy(keyCols.map(col): _*).agg(sums.head, sums.tail: _*)
          .select(files.columns.map(col): _*)
      case Latest =>
        val tagged = (base.toSeq ++ deltas).zip(paths(base, deltas)).map { case (id, p) =>
          files.sparkSession.read.schema(files.schema).parquet(p).withColumn(IdCol, lit(id))
        }.reduce(_ union _)
        val values = files.columns.filterNot(keyCols.contains).map(col)
        tagged.groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(values: _*), col(IdCol)).as(IdCol))
          .select(files.columns.map(c =>
            if (keyCols.contains(c)) col(c) else col(IdCol).getField(c).as(c)): _*)
    }

  /** Writes `df` under `_staging` and renames it to `to` in one step. */
  private def publish(fs: FileSystem, df: DataFrame, to: Path): Unit = {
    val staged = new Path(stagingDir, to.getName)
    df.write.parquet(staged.toString)
    fs.mkdirs(to.getParent)
    if (!fs.rename(staged, to))
      throw new IllegalStateException(s"KeyedTable($tableDir): could not rename $staged to $to")
  }
}

object KeyedTable {
  /** How the rows of one key in several batches merge. */
  sealed trait Merge extends Serializable
  /** Every value column is summed by key, in its own type. */
  case object Sum extends Merge
  /** The key's row from the highest batch id wins. */
  case object Latest extends Merge

  /** Live deltas that trigger a fold. */
  private val FoldEvery = 8
  /** A file set's id while `Latest` merges; never stored. */
  private val IdCol = "_keyed_table_id"
}
