package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Cosine similarity over two ARRAY<DOUBLE> columns as a native Catalyst
  * expression with whole-stage codegen.
  *
  * Rationale (SURVEY.md §7.5 / builder preference order (b)): the
  * composable formulation — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
  * is a higher-order function, which Spark evaluates interpreted per
  * element (~µs/element); one fused codegen loop is two orders of
  * magnitude cheaper and is the shape a columnar engine would emit.
  * Accumulation order (single left-to-right pass for dot and both norms)
  * matches the sequential HOF/oracle formulation bit for bit, so results
  * are identical.
  *
  * Null handling: null inputs -> null (BinaryExpression default); null
  * elements are skipped pairwise; zero-norm vectors -> null (no NaN).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = a.getDouble(i); val y = b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y
      }
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else java.lang.Double.valueOf(dot / den)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val den = ctx.freshName("den")
      s"""
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |}
         |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($den == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / $den; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of an ARRAY<DOUBLE> column — same codegen rationale as
  * [[CosineSim]] (one fused loop instead of an interpreted
  * `aggregate(transform(...))` fold). Accumulation is a single
  * left-to-right pass, so the value matches a sequential
  * `list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)` replay bit
  * for bit. Null array -> null; null elements skipped; empty -> 0.0. */
case class VecNorm(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_norm expects an ARRAY<DOUBLE> argument, got ${t.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_norm"

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) { val x = a.getDouble(i); acc += x * x }
      i += 1
    }
    java.lang.Double.valueOf(math.sqrt(acc))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $x = $a.getDouble($i);
         |    $acc += $x * $x;
         |  }
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

/** Dot product of two ARRAY<DOUBLE> columns as a fused codegen loop.
  *
  * This expression exists as the REWRITE TARGET of
  * [[graft.plans.FuseVectorHofs]]: the declarative formulation
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0D, (acc,x) -> acc+x)` is
  * evaluated interpreted per element by Spark's higher-order functions,
  * and the injected optimizer rule replaces that exact pattern with this
  * expression. The rewrite is only sound because the semantics here
  * mirror the HOF chain bit for bit:
  *
  *  - either array null -> null (`BinaryExpression` default);
  *  - length mismatch -> null (zip_with pads the shorter side with null,
  *    the padded product is null, and `Add` propagates null through the
  *    fold);
  *  - any null ELEMENT pair-position -> null (same propagation) — unlike
  *    [[CosineSim]], which skips null positions, this expression must NOT
  *    skip: the HOF form it replaces does not;
  *  - both empty -> 0.0 (the fold's zero);
  *  - accumulation is a single left-to-right pass, matching the
  *    sequential fold order, so the double value is identical.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects two ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance between two ARRAY<BIGINT> columns as a fused
  * codegen loop — the product-quantization scoring primitive (assignment
  * argmin and ADC distance tables both reduce to it).
  *
  * Everything is EXACT integer arithmetic: on the [[graft.queries
  * .SimilarityQueries.TickScale]] fixed-point grid a coordinate is
  * |t| ≤ ~2^21, a difference ≤ 2^22, its square ≤ 2^44, and a 64-term
  * sum ≤ 2^50 — an order-independent long with 2^63 headroom, so the
  * DuckDB oracle needs only semantic equality, not the float-op-order
  * contract the cosine oracles carry.
  *
  * Null semantics are strict like [[DotProduct]] (null array -> null,
  * length mismatch -> null, null element -> null): a PQ distance over a
  * partially-null vector is meaningless and must poison, not skip. */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_sq expects two ARRAY<BIGINT> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "l2_sq"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

/** Fixed-point tick conversion of an ARRAY<DOUBLE> column:
  * `floor(x * scale + 0.5)` per element as one fused codegen loop,
  * returning NULL when every tick lands on zero (the sub-precision
  * noise row [[graft.queries.SimilarityQueries.withTicks]] drops — so
  * the caller's zero-filter is a plain `isNotNull`, not an interpreted
  * `exists` HOF).
  *
  * WHY AN EXPRESSION: the declarative form —
  * `transform(v, x -> floor(x * scale + 0.5))` — is a higher-order
  * function, which Spark cannot whole-stage-compile; because Catalyst
  * collapses adjacent Projects, the interpreted lambda dragged EVERY
  * downstream trained-quantizer projection (the PQ encode, the IVF
  * assignment) out of codegen with it. The arithmetic here is the
  * identical IEEE sequence ((x * scale.toDouble) + 0.5, Math.floor,
  * toLong), so tick values — and every oracle hash built on them —
  * are bit-unchanged. Null ELEMENTS poison to null ([[L2Sq]]'s strict
  * discipline; unreachable behind semDedupGuard, which drops them). */
case class TickVec(child: Expression, scale: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"tick_vec expects an ARRAY<DOUBLE> argument, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "tick_vec"

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Long](n)
    var nz = false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val t = math.floor(a.getDouble(i) * scale.toDouble + 0.5).toLong
      out(i) = t; nz ||= t != 0L
      i += 1
    }
    if (!nz) null else new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val arr = ctx.freshName("arr")
      val nz = ctx.freshName("nz")
      val t = ctx.freshName("t")
      s"""
         |int $n = $a.numElements();
         |long[] $arr = new long[$n];
         |boolean $nz = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  long $t = (long) java.lang.Math.floor(
         |    ($a.getDouble($i) * ${scale.toDouble}D) + 0.5D);
         |  $arr[$i] = $t;
         |  if ($t != 0L) $nz = true;
         |}
         |if (!${ev.isNull}) {
         |  if (!$nz) { ${ev.isNull} = true; }
         |  else { ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($arr); }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TickVec =
    copy(child = newChild)
}

/** The semantic-dedup input guard as one codegen'd boolean:
  * TRUE iff the ARRAY<DOUBLE> has no null element and at least one
  * non-zero — the [[graft.queries.SimilarityQueries.semDedupGuard]]
  * predicate (`forall(v, x -> x IS NOT NULL) AND
  * exists(v, x -> x <> 0.0)`), whose interpreted HOF lambdas
  * otherwise run per corpus row on every similarity-family scan and
  * deny the Filter whole-stage codegen. Null array -> null (the
  * caller keeps an explicit `isNotNull` conjunct so the parquet
  * null-filter still pushes down). Row set identical — the
  * guardedVecsCte oracles replay the same predicate. */
case class VecGuard(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_guard expects an ARRAY<DOUBLE> argument, got ${t.sql}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_guard"

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var nz = false
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return java.lang.Boolean.FALSE
      if (a.getDouble(i) != 0.0) nz = true
      i += 1
    }
    java.lang.Boolean.valueOf(nz)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val ok = ctx.freshName("ok")
      val nz = ctx.freshName("nz")
      s"""
         |boolean $ok = true, $nz = false;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if ($a.isNullAt($i)) { $ok = false; break; }
         |  if ($a.getDouble($i) != 0.0D) $nz = true;
         |}
         |${ev.value} = $ok && $nz;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecGuard =
    copy(child = newChild)
}

/** Column-level API over the registered functions (built on the function
  * registry so no private Column constructors are needed). */
object VectorFunctions {

  /** cosine_sim(a, b) — the analyzing session needs the extension or
    * [[graft.Session.install]]. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** vec_norm(v) — the analyzing session needs the extension or
    * [[graft.Session.install]]. */
  def vecNorm(v: Column): Column = call_function("vec_norm", v)

  /** dot_product(a, b) — the analyzing session needs the extension or
    * [[graft.Session.install]]. */
  def dotProduct(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** l2_sq(a, b) over ARRAY<BIGINT> — the analyzing session needs the
    * extension or [[graft.Session.install]]. */
  def l2Sq(a: Column, b: Column): Column = call_function("l2_sq", a, b)

  /** tick_vec(v) at the product [[graft.queries.SimilarityQueries
    * .TickScale]] — null on an all-zero tick vector. The analyzing
    * session needs the extension or [[graft.Session.install]]. */
  def tickVec(v: Column): Column = call_function("tick_vec", v)

  /** vec_guard(v) — the semantic-dedup input predicate as one codegen'd
    * boolean. The analyzing session needs the extension or
    * [[graft.Session.install]]. */
  def vecGuard(v: Column): Column = call_function("vec_guard", v)

  /** The declarative higher-order-function dot product —
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — exactly the shape
    * [[graft.plans.FuseVectorHofs]] rewrites to [[DotProduct]]. Queries
    * use THIS form (not [[dotProduct]]) to witness that a user writing
    * plain declarative Spark gets the fused loop from the injected rule;
    * without the extension the plan still runs, interpreted. */
  def dotHof(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{aggregate, lit, zip_with}
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  }
}
