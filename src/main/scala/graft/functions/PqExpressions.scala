package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** The trained product-quantization codebook as a literal expression
  * parameter: `entries` is the (sub, cell, centroid-ticks) sequence
  * [[graft.queries.PqQueries.pqCodebooks]] returns, sorted by
  * (sub, cell). The dense per-subspace arrays the kernels index are
  * derived lazily and excluded from serialization/equality (the
  * entries ARE the identity).
  *
  * WHY A KERNEL PARAMETER AND NOT 512 LITERAL SUB-EXPRESSIONS: the
  * first PQ implementation spelled the per-subspace argmin as an
  * `array_sort` over M·k codegen'd L2Sq-vs-`typedLit` structs — a
  * correct plan whose generated code was so large janino threw
  * `InternalCompilerException` and Spark silently fell back to
  * INTERPRETED evaluation, and whose 512-node projection cost seconds
  * of analysis per action (the trainer runs three actions per query).
  * One expression holding the codebook as a reference object keeps the
  * whole M×k argmin in a single tight JVM loop, compiles in
  * milliseconds at ANY (M, k) geometry — production's M=16, k=256 would
  * have been 4096 literal nodes — and stays inside whole-stage codegen. */
case class PqBooks(entries: Seq[(Int, Int, Seq[Long])], m: Int, subDim: Int)
    extends Serializable {
  @transient lazy val subCells: Array[Array[Int]] =
    (0 until m).map(s => entries.filter(_._1 == s).map(_._2).toArray).toArray
  @transient lazy val subCts: Array[Array[Array[Long]]] =
    (0 until m).map(s =>
      entries.filter(_._1 == s).map(_._3.toArray).toArray).toArray
}

/** Static kernels the generated code calls — one virtual-free method per
  * PQ primitive, shared verbatim by the interpreted eval paths so both
  * modes are the same arithmetic. All integer, all strict: a null
  * element, a length mismatch, or an out-of-range lookup poisons the row
  * to null (the [[L2Sq]] discipline — a PQ distance over a malformed
  * vector is meaningless). */
object PqKernels {

  /** Argmin encode of one tick vector against every subspace codebook:
    * returns (cells, poss, ds) — the winning cell id, its 0-based
    * position in (sub, cell) codebook order (the ADC table lookup
    * index), and the winning exact L2² tick distance (the per-subspace
    * reconstruction error). Ties break to the smallest cell: cells are
    * iterated in ascending-id codebook order under strict `<`, the same
    * ordering `array_sort` over (d, cell) structs produced. */
  def encode(a: ArrayData, b: PqBooks): InternalRow = {
    val dim = b.m * b.subDim
    if (a.numElements() != dim) return null
    val tv = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      tv(i) = a.getLong(i); i += 1
    }
    val cells = new Array[Int](b.m)
    val poss = new Array[Int](b.m)
    val ds = new Array[Long](b.m)
    var s = 0
    while (s < b.m) {
      val cts = b.subCts(s)
      if (cts.length == 0) return null // untrained subspace: poison
      var best = Long.MaxValue; var bi = -1
      val off = s * b.subDim
      var c = 0
      while (c < cts.length) {
        val ct = cts(c)
        var d = 0L; var j = 0
        while (j < b.subDim) { val x = tv(off + j) - ct(j); d += x * x; j += 1 }
        if (d < best) { best = d; bi = c }
        c += 1
      }
      cells(s) = b.subCells(s)(bi); poss(s) = bi; ds(s) = best
      s += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(cells),
      new GenericArrayData(poss), new GenericArrayData(ds)))
  }

  /** The probe's ADC distance tables (Jégou et al. §IV): per subspace,
    * the exact L2² tick distance from the probe's slice to EVERY cell
    * centroid, in codebook order — so a candidate's asymmetric distance
    * is M table lookups by [[encode]]'s `poss`. Computed once per probe
    * (M·k longs), broadcast with the probe frame. */
  def dtabs(a: ArrayData, b: PqBooks): ArrayData = {
    val dim = b.m * b.subDim
    if (a.numElements() != dim) return null
    val tv = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      tv(i) = a.getLong(i); i += 1
    }
    val out = new Array[Any](b.m)
    var s = 0
    while (s < b.m) {
      val cts = b.subCts(s)
      val row = new Array[Long](cts.length)
      val off = s * b.subDim
      var c = 0
      while (c < cts.length) {
        val ct = cts(c)
        var d = 0L; var j = 0
        while (j < b.subDim) { val x = tv(off + j) - ct(j); d += x * x; j += 1 }
        row(c) = d
        c += 1
      }
      out(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Coarse-quantize-and-subtract: the winning cell per subspace (same
    * argmin + tie discipline as [[encode]]) and the RESIDUAL vector
    * tv − chosen-centroid, concatenated across subspaces — the input
    * the residual PQ trainer/encoder consumes (Jégou et al. §V: codes
    * quantize what the coarse quantizer left behind). Exact longs:
    * ticks ≤ ~2^21, residuals ≤ 2^22 — the downstream L2² headroom
    * analysis ([[L2Sq]]) still holds with room to spare. */
  def residual(a: ArrayData, b: PqBooks): InternalRow = {
    val dim = b.m * b.subDim
    if (a.numElements() != dim) return null
    val tv = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      tv(i) = a.getLong(i); i += 1
    }
    val cells = new Array[Int](b.m)
    val rv = new Array[Long](dim)
    var s = 0
    while (s < b.m) {
      val cts = b.subCts(s)
      if (cts.length == 0) return null
      var best = Long.MaxValue; var bi = -1
      val off = s * b.subDim
      var c = 0
      while (c < cts.length) {
        val ct = cts(c)
        var d = 0L; var j = 0
        while (j < b.subDim) { val x = tv(off + j) - ct(j); d += x * x; j += 1 }
        if (d < best) { best = d; bi = c }
        c += 1
      }
      cells(s) = b.subCells(s)(bi)
      val ct = cts(bi)
      var j = 0
      while (j < b.subDim) { rv(off + j) = tv(off + j) - ct(j); j += 1 }
      s += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(cells),
      new GenericArrayData(rv)))
  }

  /** Asymmetric distance: Σ_m dtabs[m][poss[m]] — M lookups + adds,
    * never touching the candidate's raw vector. Exact longs (each term
    * ≤ 2^50 on the tick grid per the [[L2Sq]] headroom analysis, and M
    * of them keep 2^63 headroom), so summation order is irrelevant and
    * the DuckDB replay needs only semantic equality. */
  def adist(dt: ArrayData, ps: ArrayData): java.lang.Long = {
    val m = ps.numElements()
    if (dt.numElements() != m) return null
    var acc = 0L
    var s = 0
    while (s < m) {
      if (dt.isNullAt(s) || ps.isNullAt(s)) return null
      val row = dt.getArray(s)
      val p = ps.getInt(s)
      if (p < 0 || p >= row.numElements() || row.isNullAt(p)) return null
      acc += row.getLong(p)
      s += 1
    }
    java.lang.Long.valueOf(acc)
  }
}

/** `pq_encode(tv)` → STRUCT<cells ARRAY<INT>, poss ARRAY<INT>,
  * ds ARRAY<BIGINT>> — the whole-vector PQ assignment as ONE codegen'd
  * call into [[PqKernels.encode]]. See [[PqBooks]] for why this is an
  * expression kernel rather than composed literals. */
case class PqEncode(child: Expression, books: PqBooks)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects an ARRAY<BIGINT> argument, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cells", ArrayType(IntegerType, containsNull = false)),
    StructField("poss", ArrayType(IntegerType, containsNull = false)),
    StructField("ds", ArrayType(LongType, containsNull = false))))
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(v: Any): Any =
    PqKernels.encode(v.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.addReferenceObj("pqBooks", books,
        classOf[PqBooks].getName)
      s"""
         |${ev.value} = graft.functions.PqKernels.encode($a, $b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** `pq_dtabs(qtv)` → ARRAY<ARRAY<BIGINT>> — the probe's per-subspace ADC
  * distance tables in codebook order, one codegen'd call into
  * [[PqKernels.dtabs]]. */
case class PqDtabs(child: Expression, books: PqBooks)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_dtabs expects an ARRAY<BIGINT> argument, got ${t.sql}")
  }

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_dtabs"

  override def nullSafeEval(v: Any): Any =
    PqKernels.dtabs(v.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.addReferenceObj("pqBooks", books,
        classOf[PqBooks].getName)
      s"""
         |${ev.value} = graft.functions.PqKernels.dtabs($a, $b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqDtabs =
    copy(child = newChild)
}

/** `pq_residual(tv)` → STRUCT<cells ARRAY<INT>, rv ARRAY<BIGINT>> — the
  * coarse assignment plus the residual vector in one codegen'd call
  * into [[PqKernels.residual]]. */
case class PqResidual(child: Expression, books: PqBooks)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_residual expects an ARRAY<BIGINT> argument, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cells", ArrayType(IntegerType, containsNull = false)),
    StructField("rv", ArrayType(LongType, containsNull = false))))
  override def nullable: Boolean = true
  override def prettyName: String = "pq_residual"

  override def nullSafeEval(v: Any): Any =
    PqKernels.residual(v.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.addReferenceObj("pqBooks", books,
        classOf[PqBooks].getName)
      s"""
         |${ev.value} = graft.functions.PqKernels.residual($a, $b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqResidual =
    copy(child = newChild)
}

/** `pq_adist(dtabs, poss)` → BIGINT — the ADC distance as one codegen'd
  * call into [[PqKernels.adist]]: M table lookups + adds per candidate,
  * independent of dimensionality (the point of PQ). */
case class PqAdist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val lOk = left.dataType match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    }
    val rOk = right.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (lOk && rOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_adist expects (ARRAY<ARRAY<BIGINT>>, ARRAY<INT>), " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adist"

  override def nullSafeEval(l: Any, r: Any): Any =
    PqKernels.adist(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("adist")
      s"""
         |java.lang.Long $tmp = graft.functions.PqKernels.adist($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdist =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column API for the PQ kernels. The encode/dtab
  * functions are BOUND to a trained codebook, so their registered names
  * carry a content tag: two registrations with different books coexist
  * and a plan analyzed under one can never silently pick up another's
  * (the trainer registers each round's interim books under that round's
  * own name). */
object PqFunctions {

  /** Content digest of the full codebook (every centroid tick plus the
    * m/subDim geometry) — MD5, not `hashCode`, so two distinct codebooks
    * bound in one session cannot collide (a 32-bit hashCode collision
    * would hand the second codebook's caller the first one's kernels).
    * 16 hex chars of MD5 keeps the registered name short while leaving
    * collision probability negligible (~2^-64 per pair). */
  private def tag(books: PqBooks): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new StringBuilder
    sb.append(books.m).append('/').append(books.subDim)
    books.entries.foreach { case (m, c, ticks) =>
      sb.append('|').append(m).append(',').append(c).append(':')
      ticks.foreach { t => sb.append(t).append(';') }
    }
    md.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Registers `pq_encode_<tag>` / `pq_dtabs_<tag>` (codebook-bound) and
    * the codebook-free `pq_adist`, returning the Column builders bound
    * to exactly this codebook. A name already registered is kept: its
    * content tag means it is bound to this same codebook. */
  def bind(spark: SparkSession, books: PqBooks)
      : (Column => Column, Column => Column) = {
    val t = tag(books)
    graft.Session.registerIfAbsent(spark, s"pq_encode_$t", classOf[PqEncode],
      exprs => PqEncode(exprs.head, books))
    graft.Session.registerIfAbsent(spark, s"pq_dtabs_$t", classOf[PqDtabs],
      exprs => PqDtabs(exprs.head, books))
    graft.Session.registerIfAbsent(spark, "pq_adist", classOf[PqAdist],
      exprs => PqAdist(exprs.head, exprs(1)))
    (c => call_function(s"pq_encode_$t", c),
      c => call_function(s"pq_dtabs_$t", c))
  }

  /** The registered SQL function names for this codebook — valid after
    * [[bind]]. The SQL front door interpolates these into its query
    * TEXT (a SQL user calls the kernels by name; Column builders are a
    * DataFrame-surface concept). */
  def boundNames(books: PqBooks): (String, String) = {
    val t = tag(books)
    (s"pq_encode_$t", s"pq_dtabs_$t")
  }

  /** Drops the `pq_encode_<tag>` / `pq_dtabs_<tag>` registrations for
    * this codebook (the codebook-free `pq_adist` stays). The trainer
    * binds an interim book every round and each registration is dead
    * the moment the round's eager collect finishes — without this the
    * per-round names accumulate in the session registry for its whole
    * lifetime. Safe even if a later [[bind]] re-registers the same
    * book: binding is idempotent and callers of bind hold their Column
    * builders across unrelated unbinds only when tags differ, which the
    * content digest guarantees for DIFFERENT books.
    *
    * SAME-TAG caveat (r17 ADVICE): if a caller holds a bound builder for
    * codebook X while a later trainBooksOn run passes through an interim
    * book CONTENT-IDENTICAL to X, that run's unbind drops X's
    * registration mid-loop and only its next bind restores it — a Column
    * resolved from the held builder inside that window fails analysis
    * with "undefined function pq_encode_<tag>". Today every trainer and
    * query in this repo is single-threaded on the driver and resolves
    * its Columns eagerly between bind/unbind pairs, so the window is
    * unoccupied by construction; a future concurrent-session or
    * lazy-resolution caller must reference-count registrations per tag
    * (drop only at zero) instead of relying on this note. */
  def unbind(spark: SparkSession, books: PqBooks): Unit = {
    val t = tag(books)
    Seq(s"pq_encode_$t", s"pq_dtabs_$t").foreach { n =>
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n))
    }
  }

  /** pq_adist(dtabs, poss) — callers must have invoked [[bind]] on the
    * session (any codebook; adist is codebook-free). */
  def adist(dtabs: Column, poss: Column): Column =
    call_function("pq_adist", dtabs, poss)

  /** Registers `pq_residual_<tag>` bound to this codebook (typically a
    * coarse M=1 book) and returns its Column builder — `residual(tv)`
    * yields STRUCT<cells, rv>. */
  def bindResidual(spark: SparkSession, books: PqBooks): Column => Column = {
    val t = tag(books)
    graft.Session.registerIfAbsent(spark, s"pq_residual_$t",
      classOf[PqResidual], exprs => PqResidual(exprs.head, books))
    c => call_function(s"pq_residual_$t", c)
  }
}
