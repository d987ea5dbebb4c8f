package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.KeyedTable
import graft.streaming.KeyedTable.{Latest, Merge, Sum}

/** The merge-on-read keyed table under a crash at each commit phase and
  * under a concurrent reader, for both merge rules. A crash is injected by
  * putting the table's directories in the state a killed writer leaves;
  * then the batch replays, as a restarted streaming query replays its
  * uncommitted batch. Every case must converge to the batch twin: the
  * batches summed by key (`Sum`), or each key's row from its newest batch
  * (`Latest`). */
class KeyedTableSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private type Delta = Seq[(String, Double, Long)]

  /** Batch `i`'s rows: keys k1..k(i+3) less every third one, so a key's
    * newest row can come from an older batch. Integer-valued sums, so that
    * every summation order gives the same doubles; `cnt` is the batch, so
    * a lost or stale batch shows under `Latest` too. */
  private def delta(i: Int): Delta =
    (1 to i + 3).filter(k => (k + i) % 3 != 0).map(k => (s"k$k", (i * k % 7).toDouble, i.toLong))

  private def df(d: Delta): DataFrame = {
    import spark.implicits._
    d.toDF("k", "total", "cnt")
  }

  /** What `rule` makes of batches `ds`, added in order. */
  private def twin(rule: Merge, ds: Seq[Delta]): Map[String, (Double, Long)] = rule match {
    case Sum => ds.flatten.groupBy(_._1).map { case (k, rs) => k -> ((rs.map(_._2).sum, rs.map(_._3).sum)) }
    case Latest => ds.flatten.map { case (k, t, c) => k -> ((t, c)) }.toMap
  }

  private def snapshot(t: KeyedTable): Map[String, (Double, Long)] =
    t.read(spark).collect()
      .map(r => r.getAs[String]("k") -> ((r.getAs[Double]("total"), r.getAs[Long]("cnt")))).toMap

  private def newTable(rule: Merge, foldEvery: Int): (Path, KeyedTable) = {
    val dir = Files.createTempDirectory("keyed-table").resolve("t")
    (dir, new KeyedTable(dir.toString, Seq("k"), rule, foldEvery))
  }

  /** Every file under `dir`: relative path -> (size, modified). */
  private def files(dir: Path): Map[String, (Long, Long)] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
      dir.relativize(p).toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))).toMap

  private def children(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.toSeq.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else if (!Files.exists(q)) Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** One case, run under each merge rule. */
  private def ruleTest(name: String)(body: Merge => Unit): Unit =
    Seq(Sum, Latest).foreach(rule => test(s"$rule: $name")(body(rule)))

  ruleTest("kill after the staged write, before the publish rename: the replay rewrites it once") { rule =>
    val (dir, t) = newTable(rule, foldEvery = 8)
    t.add(df(delta(1)), 6)
    t.add(df(delta(2)), 7)
    // batch 7 written but not renamed in, with a half-written file beside it
    val staged = dir.resolve("_staging/batch=7")
    Files.createDirectories(staged.getParent)
    Files.move(dir.resolve("deltas/batch=7"), staged)
    Files.write(staged.resolve("part-99999-torn.snappy.parquet"), Array[Byte](80, 65, 82))
    assert(snapshot(t) == twin(rule, Seq(delta(1))), "an unpublished batch is invisible")

    t.add(df(delta(2)), 7) // the replay
    assert(snapshot(t) == twin(rule, Seq(delta(1), delta(2))))
    assert(children(dir.resolve("_staging")).isEmpty)
    assert(children(dir.resolve("deltas")) == Set("batch=6", "batch=7"))
  }

  ruleTest("kill after the publish, before the checkpoint commit: the replay writes nothing") { rule =>
    val (dir, t) = newTable(rule, foldEvery = 8)
    t.add(df(delta(1)), 6)
    t.add(df(delta(2)), 7)
    val published = files(dir)
    t.add(df(delta(2)), 7) // the replay
    assert(files(dir) == published)
    assert(snapshot(t) == twin(rule, Seq(delta(1), delta(2))))
  }

  ruleTest("a replay of a batch that was folded and deleted is skipped") { rule =>
    val (dir, t) = newTable(rule, foldEvery = 2)
    (1 to 4).foreach(i => t.add(df(delta(i)), i))
    // the fold at 4 deleted what the fold at 2 covered
    assert(children(dir.resolve("base")) == Set("g=2", "g=4"))
    assert(children(dir.resolve("deltas")) == Set("batch=3", "batch=4"))
    val folded = files(dir)
    t.add(df(delta(2)), 2) // the replay
    assert(files(dir) == folded, "a replay below the base must write nothing")
    assert(snapshot(t) == twin(rule, (1 to 4).map(delta)))
  }

  ruleTest("kill after a fold's base rename, before its deletes: reads and the next fold converge") { rule =>
    val (dir, t) = newTable(rule, foldEvery = 2)
    (1 to 5).foreach(i => t.add(df(delta(i)), i))
    val pre = Files.createTempDirectory("keyed-table-pre").resolve("t")
    copyTree(dir, pre)
    t.add(df(delta(6)), 6) // folds g=6, then deletes g=2 and deltas 3-4
    copyTree(pre, dir) // the deletes never ran
    assert(children(dir.resolve("base")) == Set("g=2", "g=4", "g=6"))
    assert(children(dir.resolve("deltas")) == Set("batch=3", "batch=4", "batch=5", "batch=6"))
    val want6 = twin(rule, (1 to 6).map(delta))
    assert(snapshot(t) == want6)

    t.add(df(delta(6)), 6) // the replay of the folding batch
    assert(snapshot(t) == want6)
    t.add(df(delta(7)), 7)
    t.add(df(delta(8)), 8) // the next fold deletes everything below g=6
    assert(children(dir.resolve("base")) == Set("g=6", "g=8"))
    assert(children(dir.resolve("deltas")) == Set("batch=7", "batch=8"))
    assert(snapshot(t) == twin(rule, (1 to 8).map(delta)))
  }

  ruleTest("a concurrent reader sees whole batches only, across several folds") { rule =>
    val foldEvery = 2
    val batches = 4 * foldEvery + 1
    val (dir, t) = newTable(rule, foldEvery)
    val prefixes = (1 to batches).map(n => twin(rule, (1 to n).map(delta))).toSet
    t.add(df(delta(1)), 1)
    @volatile var writing = true
    val seen = new ConcurrentLinkedQueue[Map[String, (Double, Long)]]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() =>
      while (writing) try seen.add(snapshot(t)) catch { case e: Throwable => errors.add(e) },
      "keyed-table-reader")
    reader.start()
    try (2 to batches).foreach(i => t.add(df(delta(i)), i))
    finally { writing = false; reader.join() }

    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("\n"))
    assert(seen.size >= 3, s"the reader read ${seen.size} times")
    // keys only ever join the table, so a snapshot short of a key it
    // should hold is no prefix either
    val partial = seen.asScala.filterNot(prefixes)
    assert(partial.isEmpty, s"snapshots that are no prefix of the batches: ${partial.take(2)}")
    assert(children(dir.resolve("base")) == Set(s"g=${batches - 3}", s"g=${batches - 1}"))
    assert(snapshot(t) == twin(rule, (1 to batches).map(delta)))
  }

  ruleTest("read keeps the delta's column order and types, key not leading") { rule =>
    import spark.implicits._
    val dir = Files.createTempDirectory("keyed-table-types").resolve("t")
    val t = new KeyedTable(dir.toString, Seq("day", "k"), rule, foldEvery = 2)
    t.add(Seq((3, "a", 2, 10L), (3, "b", 1, 1L)).toDF("n", "k", "day", "cnt"), 0)
    t.add(Seq((4, "a", 2, 5L)).toDF("n", "k", "day", "cnt"), 1)
    t.add(Seq((1, "a", 2, 1L)).toDF("n", "k", "day", "cnt"), 2)
    val out = t.read(spark)
    assert(out.columns.toSeq == Seq("n", "k", "day", "cnt"))
    // an Int column stays Int; under Sum it is summed as Int
    assert(out.schema("n").dataType == org.apache.spark.sql.types.IntegerType)
    val a = if (rule == Sum) (8, "a", 2, 16L) else (1, "a", 2, 1L)
    assert(out.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet ==
      Set(a, (3, "b", 1, 1L)))
    assert(Files.isDirectory(dir.resolve("base/g=1")))
  }
}
