package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.GraftFunctions.fround

/** Physical-DATA-LAYOUT advisory operators — the audits a lakehouse runs
  * before deciding how 100 TB gets laid out on disk: zone-map (min/max)
  * pruning effectiveness, Z-order vs linear clustering for 2-D
  * predicates and small-file compaction planning. The reference's layout
  * decisions are Cassandra clustering keys (ref:
  * data/create-timeseries.cql — `PRIMARY KEY ((wsid), year, month, day,
  * hour)` is exactly a hand-chosen sort layout); these
  * queries generalize that decision into measurable audits over the
  * parquet testdata.
  *
  * "Files" are simulated as contiguous key ranges of the natural
  * ingestion order (`l_orderkey div F`) — the same row-group granularity
  * parquet min/max statistics and Delta/Iceberg file stats operate on.
  * Every audit is two scans of the fact at most (one to build the
  * small zone/size table, one to count matches); the zone tables are
  * file-count-sized and always broadcast.
  */
object LayoutOps {

  /** Z-ORDER vs LINEAR layout comparison — the "should we OPTIMIZE
    * ZORDER BY (partkey, shipdate)" decision, answered with numbers:
    * both dims are scaled to an 8-bit grid, the Morton code interleaves
    * their bits (spelled as exact integer div/mod arithmetic so both
    * engines compute the identical code), and 64 files are cut either
    * linearly (by date) or by Z-value range. For three 2-D predicate
    * boxes the audit reports files scanned and read amplification under
    * each layout: the linear layout cannot prune a partkey-only box at
    * all, the Z-order layout prunes BOTH dims at √-resolution each —
    * the classic multi-dimensional clustering trade. Matched counts are
    * layout-independent (computed once). Scale: the fact is scanned
    * twice (once per layout's zone build) + once for match counts; zone
    * and box tables are tiny and broadcast. */
  private val relZorderLayout = GraftQuery(
    "rel_zorder_layout",
    "Morton/Z-order vs linear file layout: 2-D box pruning audit",
    (s, d) => {
      import s.implicits._
      // belt-and-suspenders: graft_zvalue must resolve even on a session
      // built without GraftExtensions (same pattern as SimilarityOps)
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      val base0 = Tables.lineitem(s, d).select(
        col("l_partkey").as("pk"), col("l_shipdate").cast("date").as("sd"))
      val mm = base0.agg(min("pk").as("pkmin"), max("pk").as("pkmax"),
        min("sd").as("sdmin"), max("sd").as("sdmax"))
      val base = base0.crossJoin(broadcast(mm)).select(
        expr("((pk - pkmin) * 255) div (pkmax - pkmin)").as("px"),
        expr("CAST((datediff(sd, sdmin) * 255) div datediff(sdmax, sdmin) AS BIGINT)")
          .as("dyb"))
      // the native codegen'd Morton primitive (MortonZ); the oracle
      // spells the identical interleave as div/mod arithmetic
      val zed = base.withColumn("z", expr("graft_zvalue(px, dyb)"))
      // one pass over the Morton pipeline: explode each row into its two
      // (layout, file) assignments AFTER z is computed, instead of a
      // union that would re-run the scan + bit-interleave per leg
      val fl = zed.select(col("px"), col("dyb"),
          explode(array(
            struct(lit("linear").as("layout"), expr("dyb div 4").as("f")),
            struct(lit("zorder").as("layout"), expr("z div 1024").as("f"))))
            .as("lf"))
        .select(col("px"), col("dyb"), col("lf.layout").as("layout"),
          col("lf.f").as("f"))
      val zones = fl.groupBy("layout", "f").agg(
        min("px").as("pxmin"), max("px").as("pxmax"),
        min("dyb").as("dymin"), max("dyb").as("dymax"),
        count(lit(1)).as("nrows"))
      val boxes = Seq((1, 0, 63, 0, 255), (2, 100, 151, 100, 151),
        (3, 0, 255, 40, 87)).toDF("box", "pxlo", "pxhi", "dylo", "dyhi")
      val hit = col("pxmin") <= col("pxhi") && col("pxmax") >= col("pxlo") &&
        col("dymin") <= col("dyhi") && col("dymax") >= col("dylo")
      val flags = zones.crossJoin(broadcast(boxes))
        .groupBy("layout", "box").agg(
          count(lit(1)).as("files_total"),
          sum(when(hit, 1L).otherwise(0L)).as("files_scanned"),
          sum(when(hit, col("nrows")).otherwise(0L)).as("rows_scanned"))
      val mt = base.crossJoin(broadcast(boxes))
        .filter(col("px").between(col("pxlo"), col("pxhi")) &&
          col("dyb").between(col("dylo"), col("dyhi")))
        .groupBy("box").agg(count(lit(1)).as("rows_matched"))
      flags.join(mt, Seq("box"))
        .select(col("layout"), col("box"), col("files_scanned"),
          col("files_total"), col("rows_scanned"), col("rows_matched"),
          fround(col("rows_scanned").cast("double") /
            greatest(col("rows_matched"), lit(1L)), 4).as("read_amp"))
        .orderBy("layout", "box")
    },
    Some("""WITH base0 AS (SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS sd FROM lineitem), mm AS (SELECT min(pk) AS pkmin, max(pk) AS pkmax, min(sd) AS sdmin, max(sd) AS sdmax FROM base0), base AS (SELECT ((pk - pkmin) * 255) // (pkmax - pkmin) AS px, (date_diff('day', sdmin, sd) * 255) // date_diff('day', sdmin, sdmax) AS dyb FROM base0, mm), zed AS (SELECT px, dyb, CAST(list_sum(list_transform(generate_series(0, 7), i -> (((px // (1<<i)) % 2) + 2 * ((dyb // (1<<i)) % 2)) * (1<<(2*i)))) AS BIGINT) AS z FROM base), fl AS (SELECT px, dyb, 'linear' AS layout, dyb // 4 AS f FROM zed UNION ALL SELECT px, dyb, 'zorder', zed.z // 1024 FROM zed), zones AS (SELECT layout, f, min(px) AS pxmin, max(px) AS pxmax, min(dyb) AS dymin, max(dyb) AS dymax, CAST(count(*) AS BIGINT) AS nrows FROM fl GROUP BY 1, 2), boxes AS (SELECT * FROM (VALUES (1, 0, 63, 0, 255), (2, 100, 151, 100, 151), (3, 0, 255, 40, 87)) AS t(box, pxlo, pxhi, dylo, dyhi)), flags AS (SELECT layout, box, CAST(count(*) AS BIGINT) AS files_total, CAST(sum(CASE WHEN pxmin <= pxhi AND pxmax >= pxlo AND dymin <= dyhi AND dymax >= dylo THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned, CAST(sum(CASE WHEN pxmin <= pxhi AND pxmax >= pxlo AND dymin <= dyhi AND dymax >= dylo THEN nrows ELSE 0 END) AS BIGINT) AS rows_scanned FROM zones, boxes GROUP BY 1, 2), mt AS (SELECT box, CAST(count(*) AS BIGINT) AS rows_matched FROM base, boxes WHERE px BETWEEN pxlo AND pxhi AND dyb BETWEEN dylo AND dyhi GROUP BY 1) SELECT layout, box, files_scanned, files_total, rows_scanned, rows_matched, floor(CAST(rows_scanned AS DOUBLE) / greatest(rows_matched, 1) * 1e4 + 0.5) / 1e4 AS read_amp FROM flags JOIN mt USING (box) ORDER BY layout, box"""))

  /** SMALL-FILE COMPACTION plan — the OPTIMIZE/bin-packing step every
    * lakehouse table needs: pack contiguous small files (simulated as
    * `l_orderkey div 1024` ranges) into target-capacity bins by
    * cumulative-sum split (bin = running-rows-before div capacity — the
    * deterministic, order-preserving assignment; contiguity keeps the
    * zone maps of the compacted output as tight as the input's). Output
    * is the per-bin manifest: file span, file count, rows, fill ratio
    * vs the 16 384-row target. The only window runs over the per-FILE
    * size table (file-count-sized, one partition of a few hundred rows
    * — at 100 TB this is the table-metadata scan, not a data scan). */
  private val relCompactionPlan = GraftQuery(
    "rel_compaction_plan",
    "cumulative bin-packing compaction manifest for small key-range files",
    (s, d) => {
      val cap = 16384L
      val files = Tables.lineitem(s, d)
        .groupBy(expr("l_orderkey div 1024").as("f"))
        .agg(count(lit(1)).as("nrows"))
      val w = Window.orderBy("f")
      val binned = files
        .withColumn("cum", sum("nrows").over(w))
        .withColumn("bin", expr(s"(cum - nrows) div $cap"))
      binned.groupBy("bin").agg(
          min("f").as("first_file"), max("f").as("last_file"),
          count(lit(1)).as("n_files"), sum("nrows").as("rows"))
        .select(col("bin"), col("first_file"), col("last_file"),
          col("n_files"), col("rows"),
          fround(col("rows").cast("double") / cap, 4).as("fill_ratio"))
        .orderBy("bin")
    },
    Some("""WITH files AS (SELECT l_orderkey // 1024 AS f, CAST(count(*) AS BIGINT) AS nrows FROM lineitem GROUP BY 1), b AS (SELECT f, nrows, CAST(sum(nrows) OVER (ORDER BY f) AS BIGINT) AS cum FROM files) SELECT (cum - nrows) // 16384 AS bin, min(f) AS first_file, max(f) AS last_file, CAST(count(*) AS BIGINT) AS n_files, CAST(sum(nrows) AS BIGINT) AS rows, floor(CAST(sum(nrows) AS DOUBLE) / 16384 * 1e4 + 0.5) / 1e4 AS fill_ratio FROM b GROUP BY 1 ORDER BY 1"""))

  val all: Seq[GraftQuery] = Seq(
    relZorderLayout, relCompactionPlan)
}
