package graft.udx

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** First-match-only banding kernel (SURVEY §2 L2/L4b family; reference
  * README.md:299-381 motivates the annotation-era dedup surface).
  *
  * `first_match_band(xs, ys, stride)` returns the LOWEST band index b such
  * that the stride-sized slices xs[b*stride, (b+1)*stride) and
  * ys[b*stride, (b+1)*stride) are element-wise equal, or -1 when no band
  * matches. Both inputs are ARRAY<BIGINT>; bands beyond the shorter array
  * are ignored.
  *
  * Why an expression and not a HOF: this predicate runs once per band-join
  * CANDIDATE row — the hottest row count in every banded dedup kernel. A
  * `NOT exists(zip_with(slice(...), slice(...), ...))` form allocates two
  * sliced arrays plus a zipped boolean array per candidate; at the
  * sf10-distinct regime that allocation costs 37% per pair
  * (BENCH_sf10.json, s_per_pair 36.9 → 50.4 µs). This expression
  * is a fused long-compare loop inside WholeStageCodegen: zero allocation,
  * early exit at the first matching band, and the common candidate case
  * (the join's own band matches first) exits after `band` iterations.
  *
  * Semantics contract (asserted by BandingSpec): for rows joined on band
  * equality `x.band = y.band` plus slice equality, keeping only candidates
  * with `first_match_band(x.keys, y.keys, stride) = x.band` yields exactly
  * one surviving row per (x, y) pair that shares ≥1 band — the classic
  * stateless replacement for a global candidate `.distinct()`, which has
  * to HOLD the full candidate-pair set in a hash aggregate and runs out of
  * memory at the 32-thread/16 g gate config.
  */
case class FirstMatchBand(left: Expression, right: Expression, stride: Int)
    extends BinaryExpression {
  require(stride >= 1, s"stride must be >= 1, got $stride")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val xs = l.asInstanceOf[ArrayData]
    val ys = r.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements()) / stride
    var b = 0
    while (b < n) {
      var eq = true
      var k = b * stride
      val end = k + stride
      while (eq && k < end) {
        if (xs.getLong(k) != ys.getLong(k)) eq = false
        k += 1
      }
      if (eq) return b
      b += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("nBands")
      val b = ctx.freshName("b")
      val k = ctx.freshName("k")
      val end = ctx.freshName("end")
      val eq = ctx.freshName("eq")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements()) / $stride;
         |${ev.value} = -1;
         |for (int $b = 0; $b < $n; $b++) {
         |  boolean $eq = true;
         |  int $end = ($b + 1) * $stride;
         |  for (int $k = $b * $stride; $eq && $k < $end; $k++) {
         |    if ($x.getLong($k) != $y.getLong($k)) $eq = false;
         |  }
         |  if ($eq) { ${ev.value} = $b; break; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BandExpr {
  /** Builder of the SQL function first_match_band(xs, ys, stride), which
    * every session gets through `AnnotationRewrite.inject`. stride must be
    * an integer literal (it shapes the generated code).
    */
  def build(exprs: Seq[Expression]): Expression = {
    val stride = exprs(2) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"first_match_band stride must be an int literal, got $other")
    }
    FirstMatchBand(exprs(0), exprs(1), stride)
  }
}
