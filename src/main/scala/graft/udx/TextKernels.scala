package graft.udx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document text-scoring kernels as thin codegen expressions over
  * static JVM helpers.
  *
  * They replace `aggregate(sequence(...), ...)` /
  * `transform(sequence(...), ...)` HOF forms, which are costly because
  * Catalyst higher-order functions evaluate their lambda INTERPRETED,
  * once per element — ~40M interpreted steps with 2-3
  * UTF8String substring allocations each across the sf0.1 corpus
  * (quality_perplexity_trigram 10.8 s, quality_perplexity_proxy 7.2 s,
  * text_fingerprint 4.4 s). Each kernel is one tight byte loop per
  * document, so the honest shape is a UnaryExpression whose generated code
  * makes ONE static call per row into a JVM loop (the FhirDateTimeBounds
  * pattern): zero per-char allocation, and the surrounding projection
  * stays inside WholeStageCodegen.
  *
  * Semantics are byte-level ASCII — identical to the `ascii(substr(...))`
  * / `md5(substring(...))` forms they replace on this corpus (single-byte
  * text; the md5-hex MIN equals the digest byte-lexicographic min because
  * hex encoding is order-preserving), and pinned against the old
  * expressions in OpsSpec.
  */
object TextKernels {

  /** Σ over positions i of q[index(c_i..c_{i+n-1})] where each character
    * digit is rk(c - minC) - 1 when `rk` is non-null (rank-compressed
    * cube) or c - minC when null (dense span cube); index composes digits
    * base-`base`. Mirrors the element_at(typedlit(q), ...) aggregate form
    * 1:1, including 0-based q indexing — and including its null tolerance:
    * a character outside [minC, minC+span) or with rank 0 in the rk table
    * made the old element_at lookup null and the
    * HOF sum null with it; here any out-of-range gram returns null (boxed)
    * instead of indexing q out of bounds. Hot path unchanged: in-range
    * corpora never box anything but the single return value.
    */
  def gramScoreSum(s: UTF8String, q: Array[Long], rk: Array[Int],
      minC: Int, base: Int, n: Int): java.lang.Long = {
    val b = s.getBytes
    val span = if (rk == null) base else rk.length
    var sum = 0L
    var i = 0
    val last = b.length - n
    while (i <= last) {
      var idx = 0
      var j = 0
      while (j < n) {
        val c = (b(i + j) & 0xff) - minC
        if (c < 0 || c >= span) return null
        val d = if (rk == null) c else rk(c) - 1
        if (d < 0) return null
        idx = idx * base + d
        j += 1
      }
      if (idx >= q.length) return null
      sum += q(idx)
      i += 1
    }
    java.lang.Long.valueOf(sum)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** min over i of md5hex(bytes[i, i+k)) — computed as the byte-
    * lexicographic min DIGEST (hex is order-preserving), hex-encoded once
    * at the end. Null (caller filters) when the text is shorter than k.
    */
  def minGramMd5Hex(s: UTF8String, k: Int): UTF8String = {
    val b = s.getBytes
    if (b.length < k) return null
    val md = md5Local.get()
    var best: Array[Byte] = null
    var i = 0
    val last = b.length - k
    while (i <= last) {
      md.reset()
      md.update(b, i, k)
      val dg = md.digest()
      if (best == null || {
        var c = 0
        var lt = false
        var done = false
        while (!done && c < dg.length) {
          val x = dg(c) & 0xff
          val y = best(c) & 0xff
          if (x != y) { lt = x < y; done = true }
          c += 1
        }
        lt
      }) best = dg
      i += 1
    }
    val hex = new Array[Byte](best.length * 2)
    val digits = "0123456789abcdef".getBytes
    var h = 0
    while (h < best.length) {
      hex(2 * h) = digits((best(h) >> 4) & 0xf)
      hex(2 * h + 1) = digits(best(h) & 0xf)
      h += 1
    }
    UTF8String.fromBytes(hex)
  }
}

/** Σ q[gram index] over a document — see [[TextKernels.gramScoreSum]]. */
case class CharGramScoreSum(child: Expression, q: Array[Long], rk: Array[Int],
    minC: Int, base: Int, n: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  // null on any out-of-model-range gram (matching the element_at HOF form
  // this kernel replaced) — not only on null input
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.gramScoreSum(v.asInstanceOf[UTF8String], q, rk, minC, base, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("q", q, "long[]")
    val rkRef = if (rk == null) "(int[]) null" else ctx.addReferenceObj("rk", rk, "int[]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("gramSum")
      s"""
         |java.lang.Long $tmp = graft.udx.TextKernels.gramScoreSum($c, $qRef, $rkRef, $minC, $base, $n);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** min md5-hex over all k-grams of a document — see
  * [[TextKernels.minGramMd5Hex]].
  */
case class MinGramMd5(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.minGramMd5Hex(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("minmd5")
      s"""
         |UTF8String $tmp = graft.udx.TextKernels.minGramMd5Hex($c, $k);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Session registration + call_function wrappers (the repo's
  * FhirDateTimeExpr / bloom-probe pattern — the expression closes over the
  * runtime model arrays, re-registered per invocation so a new dataset's
  * model replaces the old binding).
  */
object TextExpr {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions.call_function

  def gramScoreSum(s: SparkSession, name: String, c: Column, q: Array[Long],
      rk: Array[Int], minC: Int, base: Int, n: Int): Column = {
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => CharGramScoreSum(exprs.head, q, rk, minC, base, n), "internal")
    call_function(name, c)
  }

  def minGramMd5(s: SparkSession, c: Column, k: Int): Column = {
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_min_gram_md5",
      exprs => MinGramMd5(exprs.head, k), "internal")
    call_function("graft_min_gram_md5", c)
  }
}
