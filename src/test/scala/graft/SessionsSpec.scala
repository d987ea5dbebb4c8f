package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the session recipes every main runs under, the
  * SPARK_GRAFT_EXTRA_CONF parser, and the single session-building site.
  * Pure functions only: no session is started.
  */
class SessionsSpec extends AnyFunSuite {
  private def pinned(recipe: Sessions.Recipe, cores: Int): Map[String, String] = {
    val cs = Sessions.confs(recipe, cores)
    assert(cs.map(_._1).distinct.size == cs.size, s"duplicate keys in $cs")
    cs.toMap
  }

  private val shared = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")
  private val longRun = Map(
    "spark.cleaner.periodicGC.interval" -> "30s",
    "spark.sql.codegen.cache.maxEntries" -> "4096")

  test("latency recipe: Bench's AQE-off width max(4, cores/8) profile") {
    for ((cores, width) <- Seq(4 -> "4", 32 -> "4"))
      assert(pinned(Sessions.Latency, cores) == shared ++ longRun ++ Map(
        "spark.master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> width,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.ui.explainMode" -> "simple"))
  }

  test("scale recipe: ScaleStress's AQE-on width max(8, cores/4) profile") {
    for ((cores, width) <- Seq(4 -> "8", 32 -> "8"))
      assert(pinned(Sessions.Scale, cores) == shared ++ longRun ++ Map(
        "spark.master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> width,
        "spark.sql.adaptive.enabled" -> "true"))
  }

  test("verify recipe: width = cores, AQE left at Spark's default") {
    for (cores <- Seq(4, 32))
      assert(pinned(Sessions.Verify, cores) == shared ++ Map(
        "spark.master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> cores.toString))
  }

  test("SPARK_GRAFT_EXTRA_CONF: k=v entries, blanks skipped, value keeps '='") {
    assert(Sessions.extraConf("") == Nil)
    assert(Sessions.extraConf(" ; ;") == Nil)
    assert(Sessions.extraConf("a=b;c=d") == Seq("a" -> "b", "c" -> "d"))
    assert(Sessions.extraConf(" a = b ;") == Seq("a" -> "b"))
    assert(Sessions.extraConf("a=b=c") == Seq("a" -> "b=c"))
  }

  test("SPARK_GRAFT_EXTRA_CONF: an entry without a key fails, naming it") {
    for ((spec, entry) <- Seq("a" -> "'a'", "=b" -> "'=b'", "x=1;typo" -> "'typo'")) {
      val e = intercept[IllegalArgumentException](Sessions.extraConf(spec))
      assert(e.getMessage.contains(entry), e.getMessage)
    }
  }

  test("Sessions.scala is the only src/main file that builds a SparkSession") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val builders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder("))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .toSeq
    assert(builders == Seq("scala/graft/Sessions.scala"))
  }
}
