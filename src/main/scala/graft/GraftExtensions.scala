package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  Add, ArrayAggregate, Expression, ExpressionInfo, LambdaFunction, Literal,
  Multiply, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.expressions.{DotProduct, ShingleGenerator}

/** The engine's `SparkSessionExtensions` installer (SURVEY §7 M5 / §4.3).
  *
  * Wire it in with either
  * {{{
  *   builder.withExtensions(new GraftExtensions)  // as graft.Sessions does
  * }}}
  * or cluster-wide, with no code changes, via
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * Installs:
  *  - the native codegen functions `graft_dot` and `graft_shingles` as
  *    permanent (not temp) functions, available from plain SQL in every
  *    session of the cluster;
  *  - [[SelfDotRewrite]], which transparently upgrades the declarative
  *    HOF spelling of a self dot product to the codegen primitive.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_dot expects 2 arguments (array<double>, array<double>), got ${exprs.length}")
        DotProduct(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleGenerator].getName, "graft_shingles"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_shingles expects 2 arguments (text, n), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_shingles: the shingle size n must be a constant, not a column")
        ShingleGenerator(exprs(0), exprs(1).eval().asInstanceOf[Number].intValue())
      }))
    // the set-emitting variant must track graft_shingles on BOTH
    // registration paths (this permanent one and the session-temp
    // GraftExpressions.ensureRegistered), or plain-SQL clusters lose the
    // shuffle-free shingle-set spelling
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_set"),
      new ExpressionInfo(classOf[ShingleGenerator].getName, "graft_shingle_set"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_shingle_set expects 2 arguments (text, n), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_shingle_set: the shingle size n must be a constant, not a column")
        ShingleGenerator(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue(), unique = true)
      }))
    // cluster-wide parity with GraftExpressions.ensureRegistered: Spark's
    // own Bloom expressions (in-plan mergeable build + codegen probe),
    // which core never registers publicly
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"graft_bloom_agg expects 3 arguments (hash, est_items, num_bits), got ${exprs.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_might_contain expects 2 arguments (bloom, hash), got ${exprs.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_freq_sketch"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.MisraGries].getName, "graft_freq_sketch"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"graft_freq_sketch expects 3 arguments (token, k, top), got ${exprs.length}")
        require(exprs(1).foldable && exprs(2).foldable,
          "graft_freq_sketch: k and top must be constants, not columns")
        graft.functions.expressions.MisraGries(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_distinct"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.BitmapDistinct].getName,
        "graft_bitmap_distinct"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_bitmap_distinct expects 2 arguments (id, maxId), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_bitmap_distinct: maxId must be a constant, not a column")
        graft.functions.expressions.BitmapDistinct(exprs(0),
          exprs(1).eval().asInstanceOf[Number].longValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_agg"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.BitmapDistinct].getName,
        "graft_bitmap_agg"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_bitmap_agg expects 2 arguments (id, maxId), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_bitmap_agg: maxId must be a constant, not a column")
        graft.functions.expressions.BitmapDistinct(exprs(0),
          exprs(1).eval().asInstanceOf[Number].longValue(), emitBitmap = true)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_and_count"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.BitmapAndCount].getName,
        "graft_bitmap_and_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_bitmap_and_count expects 2 arguments (bitmap, bitmap), got ${exprs.length}")
        graft.functions.expressions.BitmapAndCount(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lower_bound"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.LowerBound].getName,
        "graft_lower_bound"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_lower_bound expects 2 arguments (sorted array<long>, value), got ${exprs.length}")
        graft.functions.expressions.LowerBound(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_zvalue"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.MortonZ].getName, "graft_zvalue"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_zvalue expects 2 arguments (x, y), got ${exprs.length}")
        graft.functions.expressions.MortonZ(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_repetition_stats"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.RepetitionStats].getName,
        "graft_repetition_stats"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_repetition_stats expects 2 arguments (text, n), got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_repetition_stats: the n-gram size n must be a constant, not a column")
        graft.functions.expressions.RepetitionStats(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_char_entropy"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.CharEntropyMicro].getName,
        "graft_char_entropy"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_char_entropy expects 1 argument (text), got ${exprs.length}")
        graft.functions.expressions.CharEntropyMicro(exprs(0))
      }))
    ext.injectOptimizerRule(_ => SelfDotRewrite)
    ext.injectOptimizerRule(_ => BandJoinRewrite)
    ext.injectOptimizerRule(_ => WindowTopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

/** Rewrites `aggregate(zip_with(v, v, (x,y) -> x*y), 0d, (a,e) -> a+e)` —
  * the declarative norm² a user writes with stock higher-order functions
  * (GraftFunctions.dot) — into the native [[DotProduct]] primitive.
  *
  * HigherOrderFunction is CodegenFallback: the HOF form allocates an
  * intermediate array and interprets two lambdas per element per row, which
  * is the entire hot path of a similarity scan's norm precompute. The
  * primitive is a fused whole-stage-codegen loop (~10x at sf0.1).
  *
  * Scope is deliberately the SELF dot product (both zip_with sides
  * semantically equal): zip_with pads the shorter side with nulls, so for
  * unequal-length arrays the HOF form yields null where DotProduct truncates
  * — only the self case is unconditionally semantics-preserving (same
  * array, same length, null input propagates to null in both forms).
  *
  * Additionally the element type must be non-nullable: for a null ELEMENT
  * the HOF form propagates null through x*y and a+e to a null result,
  * while DotProduct's primitive loop reads the slot as 0.0 — so arrays
  * with containsNull=true are never rewritten.
  */
object SelfDotRewrite extends Rule[LogicalPlan] {
  private def nonNullDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, containsNull) => !containsNull
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(mx: NamedLambdaVariable, my: NamedLambdaVariable, _),
                Seq(zx: NamedLambdaVariable, zy: NamedLambdaVariable), _)),
            Literal(zero, DoubleType),
            LambdaFunction(Add(ax: NamedLambdaVariable, ae: NamedLambdaVariable, _),
              Seq(acc: NamedLambdaVariable, elem: NamedLambdaVariable), _),
            LambdaFunction(fin: NamedLambdaVariable, Seq(fv: NamedLambdaVariable), _))
          if zero == 0.0 && a.semanticEquals(b) && nonNullDoubleArray(a) &&
            Set(mx.exprId, my.exprId) == Set(zx.exprId, zy.exprId) &&
            Set(ax.exprId, ae.exprId) == Set(acc.exprId, elem.exprId) &&
            fin.exprId == fv.exprId =>
        DotProduct(a, b)
    }
}

/** Rewrites an INNER theta join whose only cross-side join predicate
  * family is a numeric BAND `abs(l − r) <= ε` (plus any residual
  * conjuncts) into the bucket + neighbor-bucket EQUI join —
  * automatically deriving the plan `j_band_bucketed` spells by hand.
  *
  * Why: Spark's only physical strategies for a bare band condition are
  * BroadcastNestedLoopJoin or a cartesian product — O(|L|·|R|) row
  * comparisons at any scale. After the rewrite each left row is exploded
  * to its candidate ε-buckets and the join becomes a hash / sort-merge
  * join on the bucket key, with the ORIGINAL condition kept as a
  * post-probe filter, so results are bit-identical: the probe side's
  * single home bucket makes each pair match exactly once, and the
  * explode reach covers every bucket a qualifying pair can land in.
  * Null band operands fail both the bucket equality and the original
  * predicate — unchanged.
  *
  * Operand types (both sides must be the SAME type, from opposite
  * join sides; ε a positive literal; NO equi conjunct already present —
  * with one, the band already rides a hash join as a residual filter
  * and exploding would only add fan-out):
  *
  *  - LongType: bucketing uses exact floor division spelled as
  *    (x − pmod(x, ε)) div ε so negative values bucket consistently;
  *    arithmetic is exact, so a qualifying pair's buckets differ by at
  *    most 1 and the explode reach is ±1 (3 candidates).
  *  - DecimalType (precision ≤ 18, both operands the same type — the
  *    money-column case): bucketing runs on the UNSCALED long value
  *    (exact), divided by ε lifted to the operand scale with CEILING
  *    rounding — ε' ≥ ε keeps every qualifying pair within ±1 buckets
  *    (|unscaled(l) − unscaled(r)| ≤ ε·10^s ≤ ε'), and the kept
  *    original predicate removes the extra candidates a coarser ε'
  *    admits. Same exact ±1 reach as the Long path. Precision > 18
  *    doesn't fit an unscaled long and falls back to the nested loop.
  *  - DateType via the `abs(datediff(a, b)) <= days` spelling: dates
  *    are epoch days internally, so this is the exact Long path on
  *    days-since-epoch (±1 reach).
  *  - TimestampType via the `abs(a − b) <= INTERVAL …` spelling:
  *    day-time intervals are exact Long microseconds, so this is the
  *    exact Long path on unix micros (±1 reach).
  *  - DoubleType (timestamps band the same way via unix_micros → the
  *    Long path): bucketing is floor(x / ε). IEEE division is one
  *    correctly-rounded op, but a quotient within half an ulp of an
  *    integer can floor to the wrong side, so the REAL bound
  *    |bucket(l) − bucket(r)| ≤ 1 only holds computed-ly up to a ±1
  *    slip per side. The explode reach is therefore ±2 (5 candidates),
  *    which is sufficient for ALL finite inputs: IEEE division is
  *    correctly rounded, so each side's computed quotient is within
  *    0.5 ulp of the true one — at most 0.5 absolute for quotient
  *    magnitudes up to 2^53 — and a qualifying pair's TRUE quotients
  *    differ by ≤ 1, so the computed quotients differ by ≤ 2 and their
  *    floors by ≤ 2. For |x/ε| ≥ 2^53, ε is below one ulp of x, so
  *    |l − r| ≤ ε forces l == r bitwise and the (identical) computed
  *    buckets match trivially. False positives from the wider reach
  *    are removed by the kept original predicate; the fan-out cost is
  *    5/3 of the Long path on the build side only.
  */
object BandJoinRewrite extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.Inner
  import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, JoinHint, Project}
  import org.apache.spark.sql.types.{
    DateType, DayTimeIntervalType, Decimal, DecimalType, DoubleType,
    IntegerType, LongType, TimestampType}

  private def fdiv(x: Expression, eps: Long): Expression =
    IntegralDivide(Subtract(x, Pmod(x, Literal(eps))), Literal(eps))

  /** ε lifted to the operand scale with CEILING rounding, as an unscaled
    * long — None when it can't serve as a bucket width (non-positive, or
    * too large for exact long arithmetic). */
  private def epsUnscaled(eps: Decimal, scale: Int): Option[Long] = {
    val e = eps.toJavaBigDecimal.setScale(scale, java.math.RoundingMode.CEILING)
    if (e.signum <= 0 || e.unscaledValue.bitLength >= 63) None
    else Some(e.unscaledValue.longValueExact)
  }

  /** `abs(…) ⊕ ε` in any of its four comparison spellings: `<=` and
    * the STRICT `<` (both bucketing-equivalent — a strict band is a
    * subset of the inclusive one with the same ε, and the original
    * predicate is always kept as the post-probe filter) plus their
    * mirrored `ε >= abs(…)` / `ε > abs(…)` forms. The strict form
    * is not just user spelling: Spark's own UnwrapCastInBinaryComparison
    * canonicalizes a decimal ε of FINER scale than the operands into
    * `abs(...) < ceil(ε)` — without this arm, exactly the money bands
    * with sub-cent tolerances would fall back to the nested loop.
    * Yields the Abs argument (a difference expression — Subtract or
    * DateDiff, matched by the caller) and the ε literal. */
  private object AbsCmp {
    def unapply(e: Expression): Option[(Expression, Literal)] = e match {
      case LessThanOrEqual(Abs(x, _), l: Literal) => Some((x, l))
      case LessThan(Abs(x, _), l: Literal) => Some((x, l))
      case GreaterThanOrEqual(l: Literal, Abs(x, _)) => Some((x, l))
      case GreaterThan(l: Literal, Abs(x, _)) => Some((x, l))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjunctivePredicates(cond)
      // an equi conjunct in the hash-join sense: each side of the
      // equality evaluable against ONE join side (the ExtractEquiJoinKeys
      // criterion), not merely a bare attribute = attribute — a
      // cast(a) = b spelling already rides a hash join with the band as
      // a residual filter, and exploding on top would only add fan-out
      val hasEqui = conjuncts.exists {
        case Equality(a, b) =>
          // both sides must actually reference a plan side — a
          // single-sided `expr = lit` is a pushable filter, not a key
          a.references.nonEmpty && b.references.nonEmpty &&
            a.deterministic && b.deterministic &&
            ((canEvaluate(a, left) && canEvaluate(b, right)) ||
              (canEvaluate(a, right) && canEvaluate(b, left)))
        case _ => false
      }
      // (left attr, right attr, bucket function, explode reach)
      def sided(a: AttributeReference, b: AttributeReference): Boolean =
        (left.outputSet.contains(a) && right.outputSet.contains(b)) ||
          (left.outputSet.contains(b) && right.outputSet.contains(a))
      def orient(a: AttributeReference, b: AttributeReference) =
        if (left.outputSet.contains(a)) (a, b) else (b, a)
      val band = conjuncts.collectFirst {
        case AbsCmp(Subtract(a: AttributeReference, b: AttributeReference, _),
              Literal(eps: Long, LongType))
            if eps > 0 && a.dataType == LongType && b.dataType == LongType &&
              sided(a, b) =>
          val (l, r) = orient(a, b)
          (l, r, (x: Expression) => fdiv(x, eps), 1)
        case AbsCmp(Subtract(a: AttributeReference, b: AttributeReference, _),
              Literal(eps: Double, DoubleType))
            if eps > 0 && !eps.isInfinite &&
              a.dataType == DoubleType && b.dataType == DoubleType &&
              sided(a, b) =>
          val (l, r) = orient(a, b)
          // Floor(double) yields LongType — same bucket-key type as fdiv
          (l, r, (x: Expression) => Floor(Divide(x, Literal(eps))), 2)
        case AbsCmp(Subtract(a: AttributeReference, b: AttributeReference, _),
              Literal(eps: Decimal, _: DecimalType))
            if a.dataType == b.dataType && sided(a, b) &&
              (a.dataType match {
                case dt: DecimalType =>
                  dt.precision <= 18 && epsUnscaled(eps, dt.scale).isDefined
                case _ => false
              }) =>
          val (l, r) = orient(a, b)
          val e = epsUnscaled(eps,
            a.dataType.asInstanceOf[DecimalType].scale).get
          // UnscaledValue is exact for precision ≤ 18 (guard above) and
          // codegen-friendly — the bucket arithmetic is then the Long path
          (l, r, (x: Expression) => fdiv(UnscaledValue(x), e), 1)
        case AbsCmp(SubtractTimestamps(a: AttributeReference,
                b: AttributeReference, false, _),
              Literal(eps: Long, _: DayTimeIntervalType))
            // the interval band `abs(ts_a − ts_b) <= INTERVAL …`:
            // DayTimeIntervalType is exact Long microseconds, so this is
            // the exact Long path on unix micros (±1 reach) — the native
            // spelling of the unix_micros detour the docs recommend.
            // TimestampNTZ qualifies too: its internal value IS wall-clock
            // micros, surfaced exactly by a UTC-pinned cast (explicitly
            // zoned, so the bucket never depends on the session zone)
            if eps > 0 && a.dataType == b.dataType &&
              (a.dataType == TimestampType ||
                a.dataType == org.apache.spark.sql.types.TimestampNTZType) &&
              sided(a, b) =>
          val (l, r) = orient(a, b)
          val micros = (x: Expression) =>
            if (x.dataType == TimestampType) UnixMicros(x)
            else UnixMicros(Cast(x, TimestampType, Some("UTC")))
          (l, r, (x: Expression) => fdiv(micros(x), eps), 1)
        case AbsCmp(DateDiff(a: AttributeReference, b: AttributeReference),
              Literal(eps: Int, IntegerType))
            // the calendar band `abs(datediff(a, b)) <= days`: DateType is
            // epoch days internally, so this is the exact Long path on
            // days-since-epoch (datediff is end − start, symmetric under
            // abs — bucketing each side's own epoch days is orientation-
            // free). Cast(date → long via a datediff against day 0) keeps
            // the construction type-correct without analyzer help.
            if eps > 0 && a.dataType == DateType && b.dataType == DateType &&
              sided(a, b) =>
          val (l, r) = orient(a, b)
          val days = (x: Expression) =>
            Cast(DateDiff(x, Literal(0, DateType)), LongType)
          (l, r, (x: Expression) => fdiv(days(x), eps.toLong), 1)
      }
      band match {
        case Some((l, r, bucket, reach)) if !hasEqui =>
          val bl = bucket(l)
          val bkAttr = AttributeReference("__band_bk", LongType)()
          val gen = Generate(
            Explode(CreateArray(
              // injected rules run after ConstantFolding — emit the home
              // bucket bare rather than relying on Add(bl, 0) folding
              (-reach to reach).map(d =>
                if (d == 0) bl else Add(bl, Literal(d.toLong))))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(bkAttr), child = left)
          val rAlias = Alias(bucket(r), "__band_bk_r")()
          val projR = Project(right.output :+ rAlias, right)
          // carry the user's hint (e.g. broadcast) through the rewrite —
          // the rewritten join has the same left/right lineage, so the
          // hint still points at the side the user meant
          val newJoin = Join(gen, projR, Inner,
            Some(And(EqualTo(bkAttr, rAlias.toAttribute), cond)),
            hint)
          Project(j.output, newJoin)
        case _ => j
      }
  }
}

/** Rewrites the DECLARATIVE per-key top-k — the pattern every user
  * spells with the window API,
  * {{{
  *   df.withColumn("rn", row_number().over(
  *       Window.partitionBy(ks).orderBy(os)))
  *     .filter($"rn" <= k).drop("rn")
  * }}}
  * — into the bounded-heap [[graft.plans.TopKPerKey]] whole-operator
  * plan (ref behavior: the reference's per-key top-k query,
  * killrweather-app PrecipitationActor.scala:49, is exactly this shape).
  *
  * Why: the window plan buffers and fully sorts every key group —
  * O(n log n) rows through sort buffers and, before Spark's own group
  * limit, through the shuffle. The heap operator is one pass, O(n log k),
  * with a map-side PARTIAL pass so the shuffle carries at most
  * partitions·keys·k rows. Spark's `InsertWindowGroupLimit` gets partway
  * there (it pre-filters to k per key) but still sorts and still runs
  * the full Window machinery above; if that rule fired first, the
  * redundant `WindowGroupLimit` pre-filter is stripped here and the
  * heap operator subsumes it.
  *
  * Fire conditions (all checked, else the plan is left alone):
  *  - single row_number() window expression, whose output the rank
  *    filter bounds from above (`rn <= k`, `rn < k`, `k >= rn`,
  *    `rn = 1`) — rank()/dense_rank() tie semantics do NOT match a
  *    plain heap and are never rewritten;
  *  - the rank attribute is consumed by NOTHING except that filter (the
  *    project above must drop it — if the user keeps the rank column,
  *    the window must stay);
  *  - non-empty deterministic partition keys and an orderable,
  *    deterministic sort order (row_number over an EMPTY partitionSpec
  *    is a global limit — Spark already plans that well);
  *  - residual filter conjuncts stay as a post-filter above the heap.
  */
object WindowTopKRewrite extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.{
    Filter, Project, Window, WindowGroupLimit}
  import org.apache.spark.sql.types.{IntegerType, LongType}

  /** Above this, heap memory O(keys·k) stops being obviously better
    * than the sort it replaces — leave the declarative plan alone. */
  private val MaxK = 1 << 20

  private object IntLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
  }

  /** The k this conjunct bounds the rank attribute to, if any. */
  private def boundFor(c: Expression, rn: Attribute): Option[Long] = c match {
    case LessThanOrEqual(a: Attribute, IntLit(v)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, IntLit(v)) if a.semanticEquals(rn) => Some(v - 1)
    case GreaterThanOrEqual(IntLit(v), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case GreaterThan(IntLit(v), a: Attribute) if a.semanticEquals(rn) => Some(v - 1)
    case EqualTo(a: Attribute, IntLit(1L)) if a.semanticEquals(rn) => Some(1L)
    case EqualTo(IntLit(1L), a: Attribute) if a.semanticEquals(rn) => Some(1L)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(pl, Filter(cond,
        Window(Seq(alias @ Alias(we: WindowExpression, _)),
          partSpec, orderSpec, wchild, _)))
        if we.windowFunction.isInstanceOf[RowNumber] &&
          partSpec.nonEmpty && orderSpec.nonEmpty &&
          partSpec.forall(_.deterministic) &&
          orderSpec.forall(_.deterministic) &&
          RowOrdering.isOrderable(orderSpec.map(_.child)) =>
      val rn = alias.toAttribute
      val conjuncts = splitConjunctivePredicates(cond)
      val bounds = conjuncts.flatMap(c => boundFor(c, rn))
      val rest = conjuncts.filter(c => boundFor(c, rn).isEmpty)
      val usable = bounds.nonEmpty &&
        rest.forall(c => !c.references.contains(rn)) &&
        pl.forall(ne => !ne.references.contains(rn))
      if (!usable || bounds.min < 1L || bounds.min > MaxK) p
      else {
        val k = bounds.min.toInt
        // if Spark's InsertWindowGroupLimit already fired, its
        // pre-filter keeps a superset of the heap's rows — subsume it
        val base = wchild match {
          case WindowGroupLimit(ps2, os2, _: RowNumber, limit, gchild)
              if limit >= k && ps2.length == partSpec.length &&
                ps2.zip(partSpec).forall { case (a, b) => a.semanticEquals(b) } &&
                os2.length == orderSpec.length &&
                os2.zip(orderSpec).forall { case (a, b) => a.semanticEquals(b) } =>
            gchild
          case other => other
        }
        val topk = graft.plans.TopKPerKey(partSpec, orderSpec, k, base)
        val out = if (rest.isEmpty) topk
          else Filter(rest.reduce(And), topk)
        Project(pl, out)
      }
  }
}
