package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** THE events file-stream recipe, in one place: stage the (single-file)
  * events table into a watched directory and open it as a streaming frame
  * with the same `ts` normalization the batch path applies (Tables.events).
  * The driver's testdata has shipped `ts` both as TIMESTAMP(NANOS) (legacy,
  * readable only as raw long) and as native TIMESTAMP(MICROS); a streaming
  * read needs a declared schema, so we peek at the parquet footer with a
  * batch read first and declare the matching stream schema. The
  * stream≡batch equivalence specs and any future streaming consumer share
  * this one spelling, so the schema/encoding can never silently drift
  * between copies. A Kafka topic takes the staged directory's place in
  * production. */
object EventStreamSource {

  private val legacyDDL =
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
  private val ntzDDL =
    "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  /** Copy a single table file into a fresh watched directory. */
  def stageToDir(file: String, prefix: String = "stream-src"): String = {
    val dir = Files.createTempDirectory(prefix)
    val src = java.nio.file.Paths.get(file)
    Files.copy(src, dir.resolve(src.getFileName))
    dir.toString
  }

  /** Footer-peek: the scanned schema of the staged events files. Sets the
    * legacy nanos conf only when a plain read actually rejects the file. */
  private def scannedSchema(spark: SparkSession, dir: String): StructType =
    try spark.read.parquet(dir).schema
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("PARQUET_TYPE_ILLEGAL") =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(dir).schema
    }

  /** Streaming frame over an already-staged directory of events files,
    * `ts` normalized to session-TZ TimestampType (µs) like Tables.events. */
  def fromDir(spark: SparkSession, dir: String): DataFrame =
    scannedSchema(spark, dir)("ts").dataType match {
      case LongType => // legacy nanos-as-int64
        spark.readStream.schema(legacyDDL).parquet(dir)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        spark.readStream.schema(ntzDDL).parquet(dir)
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        spark.readStream
          .schema(ntzDDL.replace("TIMESTAMP_NTZ", "TIMESTAMP"))
          .parquet(dir)
    }

  /** Stage `$sfDir/events.parquet` and open it as a stream. */
  def staged(spark: SparkSession, sfDir: String): DataFrame =
    fromDir(spark, stageToDir(s"$sfDir/events.parquet"))
}
