package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst vector expressions (SURVEY.md §2.8 declared
  * extension surface). Spark's higher-order functions (zip_with +
  * aggregate) evaluate per element through boxed lambda calls and are
  * excluded from whole-stage codegen; these expressions generate a
  * primitive double loop inline in the codegen'd stage instead —
  * preference order (b) from the engine guidelines: a native
  * `Expression` with doGenCode beats a Scala UDF.
  *
  * Summation is left-to-right like functions.aggregate and DuckDB's
  * list_sum, so results stay bit-identical to the oracle paths.
  */
object VectorExpressions {
  private def checkArrayDouble(name: String,
      children: Seq[Expression]): TypeCheckResult = {
    // match on element type only — containsNull varies by producer
    val bad = children.find(c => c.dataType match {
      case ArrayType(DoubleType, _) => false
      case _ => true
    })
    bad match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<double> arguments, got ${c.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  /** Σᵢ aᵢ·bᵢ over two array<double> columns (length = min of the two). */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"
    override def checkInputDataTypes(): TypeCheckResult =
      checkArrayDouble(prettyName, Seq(left, right))

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): VecDot =
      copy(left = newLeft, right = newRight)
  }

  /** √(Σᵢ aᵢ²) — L2 norm of an array<double> column. */
  case class VecNorm(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_norm"
    override def checkInputDataTypes(): TypeCheckResult =
      checkArrayDouble(prettyName, Seq(child))

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var acc = 0.0
      var i = 0
      while (i < x.numElements()) { val v = x.getDouble(i); acc += v * v; i += 1 }
      math.sqrt(acc)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val v = ctx.freshName("v")
        s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  double $v = $a.getDouble($i);
           |  $acc += $v * $v;
           |}
           |${ev.value} = java.lang.Math.sqrt($acc);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): VecNorm =
      copy(child = newChild)
  }

  /** Sparse-vector dot by sorted-key merge intersection:
    * Σ wa[i]·wb[j] over positions where ha[i] == hb[j], with ha/hb
    * each sorted ascending (the packed-vector layout of
    * [[graft.operators.FuzzyJoin]]). A join's output rows stream
    * through this inside whole-stage codegen reading UnsafeArrayData
    * in place — the previous Dataset kernel decoded four primitive
    * arrays per pair (n²/2 allocations on the all-pairs path; the r06
    * driver measured 5.5 s GC for 6.15 s wall on fuzzy_cosine_join).
    * Accumulation order is ascending-key, identical to the old kernel,
    * so emitted values are bit-for-bit unchanged. */
  case class MergeDot(first: Expression, second: Expression,
      third: Expression, fourth: Expression) extends QuaternaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "merge_dot"
    override def checkInputDataTypes(): TypeCheckResult = {
      def isArr(e: Expression, et: DataType): Boolean = e.dataType match {
        case ArrayType(t, _) => t == et
        case _ => false
      }
      if (isArr(first, LongType) && isArr(third, LongType) &&
          isArr(second, DoubleType) && isArr(fourth, DoubleType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<double>, " +
          s"array<bigint>, array<double>) arguments")
    }

    override def nullSafeEval(ha: Any, wa: Any, hb: Any, wb: Any): Any = {
      val ka = ha.asInstanceOf[ArrayData]; val va = wa.asInstanceOf[ArrayData]
      val kb = hb.asInstanceOf[ArrayData]; val vb = wb.asInstanceOf[ArrayData]
      var i = 0; var j = 0; var acc = 0.0
      val na = ka.numElements(); val nb = kb.numElements()
      while (i < na && j < nb) {
        val x = ka.getLong(i); val y = kb.getLong(j)
        if (x == y) { acc += va.getDouble(i) * vb.getDouble(j); i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (ha, wa, hb, wb) => {
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        val acc = ctx.freshName("acc")
        s"""
           |int $i = 0; int $j = 0;
           |int $na = $ha.numElements(); int $nb = $hb.numElements();
           |double $acc = 0.0;
           |while ($i < $na && $j < $nb) {
           |  long $x = $ha.getLong($i); long $y = $hb.getLong($j);
           |  if ($x == $y) { $acc += $wa.getDouble($i) * $wb.getDouble($j); $i++; $j++; }
           |  else if ($x < $y) { $i++; } else { $j++; }
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(f: Expression, s: Expression,
        t: Expression, q: Expression): MergeDot =
      copy(first = f, second = s, third = t, fourth = q)
  }

  /** [[MergeDot]] with LOSSLESS early termination for threshold
    * filters (guide §1.2 "per-task work" on the O(n²) kernel path).
    * Precondition: each weights array is L2-NORMALIZED (‖w‖ ≤ 1 up to
    * float rounding — the packed-vector layout of
    * [[graft.operators.FuzzyJoin]] guarantees it). While merging, the
    * kernel tracks the consumed squared norm of each side (ca, cb);
    * by Cauchy–Schwarz the rest of the dot is ≤ √((1−ca)(1−cb)), so
    * once acc + that bound cannot reach `th − 1e-6` (the downstream
    * filter's own slack) minus a 1e-9 float margin, the pair provably
    * fails the filter and the loop exits, returning the partial sum —
    * which is < th − 1e-6 by the same bound, so the filter drops it
    * exactly as it would have dropped the full dot. Pairs that CAN
    * reach the threshold run the identical ascending-key merge to the
    * end: their value is bit-for-bit [[MergeDot]]'s. Contract pinned
    * by VectorExpressionsSpec ("identical survivors"). On the
    * template-heavy all-pairs corpus (median cos ≈ 0.6 vs t = 0.9,
    * fully overlapping token sets) the bound 1 − 0.4f < 0.9 fires at
    * f ≈ 25% of the merge — most failing pairs do a quarter of the
    * work. The 1e-9 slack on each residual absorbs normalization
    * rounding (Σwn² = 1 ± n·2⁻⁵²; covers docs to ~4M tokens). */
  case class MergeDotBounded(ha: Expression, wa: Expression,
      hb: Expression, wb: Expression, th: Expression) extends Expression {
    override def children: Seq[Expression] = Seq(ha, wa, hb, wb, th)
    override def nullable: Boolean = children.exists(_.nullable)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "merge_dot_bounded"
    /** Deliberately advertised non-deterministic (the function is
      * pure — same trick as guide §4.4): stops the optimizer from
      * (a) pushing the threshold filter into the join condition AHEAD
      * of the cheap ordering/block conjuncts — measured on
      * fuzzy_cosine_join: the pushed condition ran this O(|a|+|b|)
      * kernel FIRST on every hash-matched candidate, ~4× the
      * necessary evaluations (both orders of every cross-block pair +
      * nBlocks copies of every same-block pair), with the kernel
      * appearing TWICE in the condition and a third time in the
      * survivor projection — and (b) collapsing the projected dot
      * into round(dot, 6), which would re-evaluate it per survivor.
      * With the filter pinned above the join, the join condition is
      * the cheap conjuncts alone and the kernel runs exactly once per
      * surviving candidate. */
    override lazy val deterministic: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult = {
      def isArr(e: Expression, et: DataType): Boolean = e.dataType match {
        case ArrayType(t, _) => t == et
        case _ => false
      }
      if (isArr(ha, LongType) && isArr(hb, LongType) &&
          isArr(wa, DoubleType) && isArr(wb, DoubleType) &&
          th.dataType == DoubleType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<double>, " +
          s"array<bigint>, array<double>, double) arguments")
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vha = ha.eval(input); val vwa = wa.eval(input)
      val vhb = hb.eval(input); val vwb = wb.eval(input)
      val vt = th.eval(input)
      if (vha == null || vwa == null || vhb == null || vwb == null ||
        vt == null) null
      else {
        val ka = vha.asInstanceOf[ArrayData]; val va = vwa.asInstanceOf[ArrayData]
        val kb = vhb.asInstanceOf[ArrayData]; val vb = vwb.asInstanceOf[ArrayData]
        val tp = vt.asInstanceOf[Double] - 1e-6 - 1e-9
        val na = ka.numElements(); val nb = kb.numElements()
        var i = 0; var j = 0
        var acc = 0.0; var ca = 0.0; var cb = 0.0
        var live = true
        while (live && i < na && j < nb) {
          val d = tp - acc
          if (d > 0) {
            var ra = 1.0 - ca + 1e-9; if (ra < 0) ra = 0
            var rb = 1.0 - cb + 1e-9; if (rb < 0) rb = 0
            if (ra * rb < d * d) live = false
          }
          if (live) {
            val x = ka.getLong(i); val y = kb.getLong(j)
            if (x == y) {
              val u = va.getDouble(i); val v = vb.getDouble(j)
              acc += u * v; ca += u * u; cb += v * v; i += 1; j += 1
            } else if (x < y) {
              val u = va.getDouble(i); ca += u * u; i += 1
            } else {
              val v = vb.getDouble(j); cb += v * v; j += 1
            }
          }
        }
        acc
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val c = children.map(_.genCode(ctx))
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val u = ctx.freshName("u"); val v = ctx.freshName("v")
      val acc = ctx.freshName("acc"); val ca = ctx.freshName("ca")
      val cb = ctx.freshName("cb"); val tp = ctx.freshName("tp")
      val d = ctx.freshName("d"); val ra = ctx.freshName("ra")
      val rb = ctx.freshName("rb")
      val block =
        code"""
          ${c(0).code}
          ${c(1).code}
          ${c(2).code}
          ${c(3).code}
          ${c(4).code}
          boolean ${ev.isNull} = ${c(0).isNull} || ${c(1).isNull} ||
            ${c(2).isNull} || ${c(3).isNull} || ${c(4).isNull};
          double ${ev.value} = 0.0;
          if (!${ev.isNull}) {
            int $i = 0; int $j = 0;
            int $na = ${c(0).value}.numElements();
            int $nb = ${c(2).value}.numElements();
            double $acc = 0.0; double $ca = 0.0; double $cb = 0.0;
            double $tp = ${c(4).value} - 1e-6 - 1e-9;
            while ($i < $na && $j < $nb) {
              double $d = $tp - $acc;
              if ($d > 0) {
                double $ra = 1.0 - $ca + 1e-9; if ($ra < 0) $ra = 0;
                double $rb = 1.0 - $cb + 1e-9; if ($rb < 0) $rb = 0;
                if ($ra * $rb < $d * $d) break;
              }
              long $x = ${c(0).value}.getLong($i);
              long $y = ${c(2).value}.getLong($j);
              if ($x == $y) {
                double $u = ${c(1).value}.getDouble($i);
                double $v = ${c(3).value}.getDouble($j);
                $acc += $u * $v; $ca += $u * $u; $cb += $v * $v; $i++; $j++;
              } else if ($x < $y) {
                double $u = ${c(1).value}.getDouble($i); $ca += $u * $u; $i++;
              } else {
                double $v = ${c(3).value}.getDouble($j); $cb += $v * $v; $j++;
              }
            }
            ${ev.value} = $acc;
          }
        """
      ev.copy(code = block)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): MergeDotBounded =
      copy(ha = newChildren(0), wa = newChildren(1), hb = newChildren(2),
        wb = newChildren(3), th = newChildren(4))
  }

  private def arrD(c: Column): Column =
    org.apache.spark.sql.functions.transform(c, x => x.cast(DoubleType))

  /** Column-API entry points (arrays are cast elementwise to double so
    * float columns work unchanged). Registration is idempotent and
    * session-scoped; Column construction goes through call_function —
    * the public route from a registered Expression builder to a
    * Column in Spark 4. */
  def vecDot(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function("vec_dot", arrD(a), arrD(b))
  }

  def vecNorm(a: Column): Column = {
    register(SparkSession.active)
    call_function("vec_norm", arrD(a))
  }

  def vecCosine(a: Column, b: Column): Column =
    vecDot(a, b) / (vecNorm(a) * vecNorm(b))

  /** No-cast variants for columns that are ALREADY array<double>: the
    * `arrD` elementwise cast is an interpreted HigherOrderFunction, so
    * on a pairwise hot path (O(N²) evaluations) it dominates the
    * codegen'd kernel it feeds. Callers guarantee the element type. */
  def vecDotD(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function("vec_dot", a, b)
  }

  def vecNormD(a: Column): Column = {
    register(SparkSession.active)
    call_function("vec_norm", a)
  }

  /** Merge-intersection sparse dot over (keys, weights, keys, weights)
    * columns — keys array<bigint> sorted ascending, weights
    * array<double> parallel to them. */
  def mergeDot(ha: Column, wa: Column, hb: Column, wb: Column): Column = {
    register(SparkSession.active)
    call_function("merge_dot", ha, wa, hb, wb)
  }

  /** Threshold-bounded merge dot (see [[MergeDotBounded]]): weights
    * must be L2-normalized; only meaningful under a downstream
    * `dot >= th - 1e-6` filter. */
  def mergeDotBounded(ha: Column, wa: Column, hb: Column, wb: Column,
      th: Column): Column = {
    register(SparkSession.active)
    call_function("merge_dot_bounded", ha, wa, hb, wb, th)
  }

  /** The module's SQL functions as (name, builder) — the one list both
    * [[graft.GraftExtensions]] and [[register]] install. Inputs must be
    * array<double> (the Column wrappers cast elementwise). */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", exprs => VecDot(exprs(0), exprs(1))),
    ("vec_norm", exprs => VecNorm(exprs.head)),
    ("merge_dot", exprs => MergeDot(exprs(0), exprs(1), exprs(2), exprs(3))),
    ("merge_dot_bounded", exprs => MergeDotBounded(exprs(0), exprs(1),
      exprs(2), exprs(3), exprs(4))))

  /** SQL registration on a session built without [[graft.GraftExtensions]]:
    * makes [[sqlFunctions]] usable from spark.sql and the Column API. */
  def register(s: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      s.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
