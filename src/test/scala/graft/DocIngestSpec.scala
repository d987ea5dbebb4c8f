package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{DocIngest, KeyedTable}

/** Streaming incremental dedup: first-writer-wins admission, cross-batch
  * and cross-RESTART dedup from the durable registry, and no-op batch
  * replay — the streaming twin of the batch `dedup_incremental` verdict. */
class DocIngestSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private def lines(docs: (Long, String)*): String =
    docs.map { case (id, t) => s"$id,$t" }.mkString("\n")

  private def registrySnapshot(r: KeyedTable) =
    r.read(spark).collect()
      .map(row => row.getAs[String]("fp") -> row.getAs[Long]("doc_id")).toMap

  test("admission dedups in-batch, across batches, across restarts; replay is a no-op") {
    val src = Files.createTempDirectory("doc-src")
    val table = Files.createTempDirectory("doc-table").resolve("registry").toString
    val ckpt = Files.createTempDirectory("doc-ckpt").toString

    // batch 1: doc 3 and 5 are exact duplicates (case-insensitive), doc 1 unique
    Files.write(src.resolve("b1.csv"),
      lines(3L -> "the quick fox", 5L -> "THE QUICK FOX", 1L -> "other text").getBytes("UTF-8"))
    val in1 = spark.readStream.format("text")
      .option("path", src.toString).load()
    val r1 = DocIngest.start(DocIngest.parseLines(in1), table, ckpt)
    r1.awaitAll()
    val s1 = registrySnapshot(r1.registry)
    assert(s1.size == 2, s"two distinct fingerprints, got $s1")
    assert(s1.values.toSet == Set(3L, 1L), "min doc_id wins in-batch")

    // restart from the same checkpoint with a second file: doc 9 repeats
    // doc 3's content (cross-restart dup), doc 7 is new
    Files.write(src.resolve("b2.csv"),
      lines(9L -> "the quick fox", 7L -> "brand new content").getBytes("UTF-8"))
    val in2 = spark.readStream.format("text")
      .option("path", src.toString).load()
    val r2 = DocIngest.start(DocIngest.parseLines(in2), table, ckpt)
    r2.awaitAll()
    val s2 = registrySnapshot(r2.registry)
    assert(s2.size == 3)
    assert(s2.values.toSet == Set(3L, 1L, 7L),
      s"doc 9 must lose to doc 3's earlier admission: $s2")

    // forced replay of batch 1 (batch id 0), then the same docs delivered
    // again in a later batch (at-least-once redelivery): registry unchanged
    import org.apache.spark.sql.functions._
    val replay = spark.createDataFrame(Seq(
        (3L, "the quick fox"), (5L, "THE QUICK FOX"), (1L, "other text")))
      .toDF("doc_id", "text")
      .select(md5(lower(col("text"))).as("fp"), col("doc_id"),
        length(col("text")).as("n_chars"))
    DocIngest.admit(r2.registry, replay, 0)
    assert(registrySnapshot(r2.registry) == s2, "replayed batch must be a no-op")
    DocIngest.admit(r2.registry, replay, 2)
    assert(registrySnapshot(r2.registry) == s2, "redelivered docs must be a no-op")

    // equivalence with the batch dedup_exact semantics over ALL delivered docs
    val allDocs = Seq(3L -> "the quick fox", 5L -> "THE QUICK FOX",
      1L -> "other text", 9L -> "the quick fox", 7L -> "brand new content")
    val expected = allDocs.groupBy(d => d._2.toLowerCase)
      .map { case (_, ds) => ds.map(_._1).min }.toSet
    assert(s2.values.toSet == expected, "stream registry == batch groupBy-min")
  }

  test("filterGate is stream-transparent: gating a stream equals gating the batch") {
    val docs = Tables.documents(spark, GraftTestSpark.sf)
    val batch = graft.operators.PipelineOps.filterGate(docs)
      .collect().map(_.toString).sorted
    // same rows through readStream (stateless narrow transforms run
    // unchanged on an unbounded frame); the file source needs a DIRECTORY,
    // so stage the single-file table into one
    val dir = graft.streaming.EventStreamSource
      .stageToDir(s"${GraftTestSpark.sf}/documents.parquet", "gate-stream")
    val streamed = spark.readStream.schema(docs.schema).parquet(dir)
    val out = graft.operators.PipelineOps.filterGate(streamed)
    val q = out.writeStream.format("memory").queryName("gate_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("gate_stream").collect().map(_.toString).sorted
    assert(got.toSeq == batch.toSeq)
  }

  test("minhash-LSH admission maintains the sketch index: in-batch, cross-restart, replay no-op") {
    val src = Files.createTempDirectory("mh-src")
    val base = Files.createTempDirectory("mh-table")
    val sigDir = base.resolve("sig").toString
    val bandDir = base.resolve("band").toString
    val ckpt = Files.createTempDirectory("mh-ckpt").toString
    val textA = "the curious fox crossed the quiet river before dawn and rested near the old mill"
    val textB = "market prices rallied sharply after the committee announced unexpected policy changes yesterday evening"
    val textC = "children gathered around the ancient oak tree listening to stories about distant mountains"

    def sigIds(r: graft.streaming.DocIngest.RunningMinhash): Set[Long] =
      r.sigIndex.read(spark).select("doc_id").collect().map(_.getLong(0)).toSet

    // batch 1: two genuinely distinct docs -> both admitted, 6 band rows each
    Files.write(src.resolve("b1.csv"),
      lines(10L -> textA, 20L -> textB).getBytes("UTF-8"))
    val in1 = spark.readStream.format("text").option("path", src.toString).load()
    val r1 = DocIngest.startMinhash(DocIngest.parseLines(in1), sigDir, bandDir, ckpt)
    r1.awaitAll()
    assert(sigIds(r1) == Set(10L, 20L))
    assert(r1.bandIndex.read(spark).count() == 12L, "6 band rows per admitted doc")

    // restart: doc 30 repeats textA byte-identically (est Jaccard 1.0 ->
    // shed against the index); docs 40/41 share textC in-batch (smaller id
    // wins); nothing corpus-sized was stored to decide any of this
    Files.write(src.resolve("b2.csv"),
      lines(30L -> textA, 41L -> textC, 40L -> textC).getBytes("UTF-8"))
    val in2 = spark.readStream.format("text").option("path", src.toString).load()
    val r2 = DocIngest.startMinhash(DocIngest.parseLines(in2), sigDir, bandDir, ckpt)
    r2.awaitAll()
    assert(sigIds(r2) == Set(10L, 20L, 40L),
      s"30 is a near-dup of indexed 10; 41 loses in-batch to 40: got ${sigIds(r2)}")
    assert(r2.bandIndex.read(spark).count() == 18L)

    // the same docs delivered again in a later batch (at-least-once
    // redelivery): indexes unchanged
    val replay = spark.createDataFrame(Seq(
        (30L, textA), (41L, textC), (40L, textC))).toDF("doc_id", "text")
    DocIngest.admitMinhash(r2.sigIndex, r2.bandIndex, replay, 2)
    assert(sigIds(r2) == Set(10L, 20L, 40L), "replayed batch must be a no-op")
    assert(r2.bandIndex.read(spark).count() == 18L)

    // the stream-admitted signatures are value-identical to the batch
    // spelling over the same texts (one hash family, one shingle scheme)
    val batchSig = graft.operators.DedupOps.minhashSigOf(
      spark.createDataFrame(Seq((10L, textA), (20L, textB), (40L, textC)))
        .toDF("doc_id", "text"))
    val stored = r2.sigIndex.read(spark)
    assert(batchSig.exceptAll(stored).isEmpty && stored.exceptAll(batchSig).isEmpty,
      "stored index rows == batch minhashSigOf rows")
  }

  test("minhash admission converges after a crash between its two index writes") {
    val base = Files.createTempDirectory("mh-crash")
    val textA = "the curious fox crossed the quiet river before dawn and rested near the old mill"
    val textB = "market prices rallied sharply after the committee announced unexpected policy changes yesterday evening"
    val textC = "children gathered around the ancient oak tree listening to stories about distant mountains"
    val textD = "a late train carried tired workers home through the rain across the wide flat valley"
    def docs(ds: (Long, String)*) = spark.createDataFrame(ds).toDF("doc_id", "text")
    def tables(root: Path) = {
      val sig = root.resolve("sig")
      val band = root.resolve("band")
      (sig, band, new KeyedTable(sig.toString, Seq("doc_id"), KeyedTable.Latest),
        new KeyedTable(band.toString, Seq("doc_id", "band"), KeyedTable.Latest))
    }
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).iterator().asScala.toSeq.foreach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    def deleteTree(dir: Path): Unit =
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    def state(sig: KeyedTable, band: KeyedTable): (Set[Long], Map[Long, Long]) = (
      sig.read(spark).select("doc_id").collect().map(_.getLong(0)).toSet,
      band.read(spark).groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)

    val (sigDir, bandDir, sig, band) = tables(base.resolve("live"))
    DocIngest.admitMinhash(sig, band, docs(10L -> textA, 20L -> textB), 0)
    val pre = base.resolve("pre")
    copyTree(base.resolve("live"), pre)
    // batch 1: 30 is a near-dup of indexed 10, 41 of its sibling 40
    val batch1 = docs(30L -> textA, 40L -> textC, 41L -> textC, 50L -> textD)
    DocIngest.admitMinhash(sig, band, batch1, 1)
    val clean = state(sig, band)
    assert(clean == ((Set(10L, 20L, 40L, 50L), Map(10L -> 6L, 20L -> 6L, 40L -> 6L, 50L -> 6L))))

    // the crash: batch 1's first index write is published, its second is
    // not. The one written last has the later files; put it back as it was
    // before the batch, and replay the batch
    def written(dir: Path) =
      Files.getLastModifiedTime(dir.resolve("deltas/batch=1/_SUCCESS")).toMillis
    val (last, name) = if (written(sigDir) > written(bandDir)) (sigDir, "sig") else (bandDir, "band")
    deleteTree(last)
    copyTree(pre.resolve(name), last)
    DocIngest.admitMinhash(sig, band, batch1, 1)
    val (sigIds, bandRows) = state(sig, band)
    assert(bandRows.keySet == sigIds, "both indexes hold the same docs")
    assert(bandRows.values.forall(_ == 6L), s"6 band rows per doc: $bandRows")
    assert((sigIds, bandRows) == clean, "the replay's verdicts equal the clean run's")
  }
}
