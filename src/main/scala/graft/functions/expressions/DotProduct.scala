package graft.functions.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two array<double> columns.
  *
  * The composable form — `aggregate(zip_with(a, b, (x,y) => x*y), 0d, +)` —
  * allocates an intermediate array and evaluates interpreted lambdas per
  * element for every pair; in an all-pairs similarity join that's the entire
  * hot path. This expression is a primitive double loop over ArrayData in
  * both interpreted eval and generated code, so it stays inside whole-stage
  * codegen with zero allocation per row.
  *
  * Registered as SQL function `graft_dot` (GraftExpressions.ensureRegistered)
  * because Spark 4 no longer exposes a public Column(Expression) constructor.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // AbstractDataType is private[sql]; ArrayType is a public subtype and
  // Seq is covariant, so this satisfies ExpectsInputTypes.inputTypes.
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session-level registration for the custom expressions (idempotent). */
object GraftExpressions {
  def ensureRegistered(spark: SparkSession): Unit = {
    // a GraftExtensions session already has every function: skip a name the
    // registry holds, as replacing it only logs a "replaced a previously
    // registered function" warning on each query build
    val registry = spark.sessionState.functionRegistry
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    register("graft_dot", exprs => DotProduct(exprs(0), exprs(1)))
    register(
      "graft_shingles",
      exprs => ShingleGenerator(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue()))
    // per-doc DISTINCT shingles: the generator dedups row-locally, so no
    // corpus-wide distinct() shuffle is ever needed for shingle SETS
    register(
      "graft_shingle_set",
      exprs => ShingleGenerator(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(), unique = true))
    // row-local n-gram repetition census (total/distinct/top counts) — the
    // shuffle-free spelling of the C4 repetition filter; see RepetitionStats
    register(
      "graft_repetition_stats",
      exprs => RepetitionStats(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue()))
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its own
    // runtime row-level filtering but does not put them in the public
    // function registry; exposing them keeps Bloom builds IN-PLAN (a
    // partial-aggregatable TypedImperativeAggregate — sketches merge
    // map-side) and probes in whole-stage codegen, vs. an eager
    // driver-coordinated stat.bloomFilter build + Scala-UDF probe.
    // same argument validation as the GraftExtensions path — the two
    // registration modes must fail identically for the same bad SQL
    register(
      "graft_bloom_agg",
      exprs => {
        require(exprs.length == 3,
          s"graft_bloom_agg expects 3 arguments (hash, est_items, num_bits), got ${exprs.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
      })
    register(
      "graft_might_contain",
      exprs => {
        require(exprs.length == 2,
          s"graft_might_contain expects 2 arguments (bloom, hash), got ${exprs.length}")
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(exprs(0), exprs(1))
      })
    // mergeable Misra-Gries heavy hitters (k counters per partition, not
    // vocabulary-sized shuffles) — see MisraGries.scala
    register(
      "graft_freq_sketch",
      exprs => {
        require(exprs.length == 3,
          s"graft_freq_sketch expects 3 arguments (token, k, top), got ${exprs.length}")
        require(exprs(1).foldable && exprs(2).foldable,
          "graft_freq_sketch: k and top must be constants, not columns")
        MisraGries(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].intValue())
      })
    // exact mergeable bitmap distinct over bounded ids — see BitmapDistinct.scala
    register(
      "graft_bitmap_distinct",
      exprs => {
        require(exprs.length == 2,
          s"graft_bitmap_distinct expects 2 arguments (id, maxId), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_bitmap_distinct: maxId must be a constant, not a column")
        BitmapDistinct(exprs(0),
          exprs(1).eval().asInstanceOf[Number].longValue())
      })
    // bitmap-emitting twin + intersection count — see BitmapDistinct.scala
    register(
      "graft_bitmap_agg",
      exprs => {
        require(exprs.length == 2,
          s"graft_bitmap_agg expects 2 arguments (id, maxId), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_bitmap_agg: maxId must be a constant, not a column")
        BitmapDistinct(exprs(0),
          exprs(1).eval().asInstanceOf[Number].longValue(), emitBitmap = true)
      })
    register(
      "graft_bitmap_and_count",
      exprs => {
        require(exprs.length == 2,
          s"graft_bitmap_and_count expects 2 arguments (bitmap, bitmap), got ${exprs.length}")
        BitmapAndCount(exprs(0), exprs(1))
      })
    register("graft_zvalue", exprs => MortonZ(exprs(0), exprs(1)))
    // row-local char-histogram entropy accumulator — see CharEntropy.scala
    register(
      "graft_char_entropy",
      exprs => {
        require(exprs.length == 1,
          s"graft_char_entropy expects 1 argument (text), got ${exprs.length}")
        CharEntropyMicro(exprs(0))
      })
    // codegen'd binary search over a sorted boundary array — see
    // LowerBound.scala
    register(
      "graft_lower_bound",
      exprs => {
        require(exprs.length == 2,
          s"graft_lower_bound expects 2 arguments (sorted array<long>, value), got ${exprs.length}")
        LowerBound(exprs(0), exprs(1))
      })
  }
}
