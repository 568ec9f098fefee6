package graft.opt

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, StringType, StructType, TimestampType}

/** SURVEY §4 — the one genuinely novel optimizer piece: rewrite string-date
  * predicates to use the spec's typed range-annotation columns
  * (reference README.md:301-330 — the annotations exist precisely so
  * engines can answer typed predicates without parsing strings).
  *
  *   cast(x AS timestamp) ⋈ literal   ⇒   __x_start ⋈ literal
  *
  * whenever a sibling `__x_start` TimestampType attribute is available in
  * the child plan. The rewritten predicate reads a typed column with parquet
  * min/max stats (pushable to the scan) instead of per-row string parsing.
  *
  * Soundness: for instant-valued (full-precision) data, cast(x) == __x_start
  * whenever the cast parses, so any comparison is equivalent — including
  * sub-millisecond fractional seconds, because bounds() keeps the start
  * instant at full µs precision rather than flooring to ms (a floored start
  * would flip e.g. cast(x) >= lit for a literal between the floor and the
  * true instant). Partial-precision values don't parse under cast (null ⇒
  * predicate false), so the rewrite widens only there — matching the spec's
  * intent that the range annotation, not the raw string, carries partial
  * values' query semantics.
  */
object AnnotationRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // `f.resolved` guard: this rule also runs as an analyzer resolution rule
    // (see inject below), where partially-resolved Filters come through
    case f @ Filter(cond, child) if f.resolved =>
      val available: Map[String, Attribute] =
        child.output.filter(a => a.name.startsWith("__") && a.dataType == TimestampType)
          .map(a => a.name -> a).toMap
      def startFor(e: Expression): Option[Attribute] = e match {
        case Cast(a: AttributeReference, TimestampType, _, _) if a.dataType == StringType =>
          available.get(s"__${a.name}_start")
        case _ => None
      }
      val newCond =
        if (available.isEmpty) cond
        else cond.transformUp {
          case cmp @ GreaterThanOrEqual(l, r) => startFor(l).map(GreaterThanOrEqual(_, r)).getOrElse(cmp)
          case cmp @ GreaterThan(l, r) => startFor(l).map(GreaterThan(_, r)).getOrElse(cmp)
          case cmp @ LessThanOrEqual(l, r) => startFor(l).map(LessThanOrEqual(_, r)).getOrElse(cmp)
          case cmp @ LessThan(l, r) => startFor(l).map(LessThan(_, r)).getOrElse(cmp)
        }
      val augmented = addNumericPruning(newCond)
      if (augmented fastEquals cond) f else Filter(augmented, child)
  }

  // -------------------------------------------------------------- numeric
  // The `__<f>_numeric` annotation is the HALF-UP 6-dp twin of a decimal
  // string (|x − round6(x)| ≤ 5e-7), so unlike the µs-exact datetime start
  // it can never REPLACE a predicate soundly. It can, however, be ADDED as
  // an implied conjunct with the bound relaxed by 1e-6 — the classic
  // sketch-prune-then-verify shape: the new conjunct is a bare nested
  // DECIMAL field vs a decimal literal, which parquet nested-predicate
  // pushdown turns into row-group pruning, while the original exact string
  // predicate still runs on the survivors. Null-guarded (IsNull(twin) OR
  // cmp) so values outside DECIMAL(38,6)'s range can never be dropped.

  private val Margin = BigDecimal("0.000001")

  /** Magnitude-aware relaxation. The fixed 1e-6 covers the annotation's
    * half-up 6-dp rounding (≤ 5e-7), but the ORIGINAL predicate compares
    * `CAST(x AS DOUBLE)`, whose binary rounding error is ulp(|x|)/2 — above
    * |x| ≈ 4e9 that exceeds 5e-7, and a row passing the double predicate
    * could land outside the fixed-margin decimal bound. In the binding
    * region x is within one ulp of the literal, so ulp(x) ≤ 2·ulp(|v|) and
    * relaxing by Margin + 2·ulp(|v|) is sound at every magnitude.
    */
  private def relax(v: BigDecimal): BigDecimal =
    Margin + BigDecimal(2.0 * Math.ulp(v.abs.toDouble))

  private def numericTwin(e: Expression): Option[Expression] = e match {
    case Cast(gsf: GetStructField, DoubleType | _: DecimalType, _, _) if gsf.dataType == StringType =>
      gsf.child.dataType match {
        case st: StructType =>
          val leaf = st(gsf.ordinal).name
          val sib = s"__${leaf}_numeric"
          val i = st.fieldNames.indexOf(sib)
          if (i >= 0 && st(i).dataType.isInstanceOf[DecimalType])
            Some(GetStructField(gsf.child, i, Some(sib)))
          else None
        case _ => None
      }
    case _ => None
  }

  /** 6-dp literal rounded OUTWARD (floor for lower bounds, ceiling for
    * upper) so quantizing the relaxed bound can never eat back into the
    * margin.
    */
  private def decLit(v: BigDecimal, mode: BigDecimal.RoundingMode.Value): Literal =
    Literal(Decimal(v.setScale(6, mode)), DecimalType(38, 6))

  private def litValue(r: Expression): Option[BigDecimal] = r match {
    case lit: Literal if lit.foldable && lit.value != null =>
      lit.value match {
        case d: java.lang.Double => Some(BigDecimal(d.doubleValue()))
        case d: Decimal => Some(d.toBigDecimal)
        case _ => None
      }
    case _ => None
  }

  private def addNumericPruning(cond: Expression): Expression = {
    // resolve the field name through the child's schema, NOT the node's
    // optional name tag — optimizer rules can rebuild GetStructField with
    // name=None, and a name-based guard then re-adds the conjunct when the
    // rule also runs via experimental.extraOptimizations
    val already = cond.exists {
      case GetStructField(child, ord, _) => child.dataType match {
        case st: StructType =>
          st(ord).name.startsWith("__") && st(ord).name.endsWith("_numeric")
        case _ => false
      }
      case _ => false
    }
    if (already) return cond
    // only TOP-LEVEL conjuncts imply anything — a comparison under OR/NOT
    // does not constrain the row set and must not spawn pruning conjuncts
    def splitConj(e: Expression): Seq[Expression] = e match {
      case And(a, b) => splitConj(a) ++ splitConj(b)
      case x => Seq(x)
    }
    val conjuncts = splitConj(cond).map {
      case GreaterThanOrEqual(l, r) => (numericTwin(l), litValue(r), "ge")
      case GreaterThan(l, r) => (numericTwin(l), litValue(r), "ge")
      case LessThanOrEqual(l, r) => (numericTwin(l), litValue(r), "le")
      case LessThan(l, r) => (numericTwin(l), litValue(r), "le")
      case _ => (None, None, "")
    }.collect { case (Some(twin), Some(v), dir) =>
      val cmp =
        if (dir == "ge") GreaterThanOrEqual(twin, decLit(v - relax(v), BigDecimal.RoundingMode.FLOOR))
        else LessThanOrEqual(twin, decLit(v + relax(v), BigDecimal.RoundingMode.CEILING))
      Or(IsNull(twin), cmp)
    }
    conjuncts.foldLeft(cond)(And(_, _))
  }

  /** Install into a LIVE session via the sanctioned experimental hook.
    * Effective for the datetime replacement (top-level annotation columns
    * survive into the optimizer), but NOT for the nested numeric pruning:
    * extraOptimizations run after nested schema pruning has already dropped
    * `__<f>_numeric` from the relation's struct. Sessions built with
    * `inject` get both.
    */
  def install(s: SparkSession): Unit =
    if (!s.experimental.extraOptimizations.contains(AnnotationRewrite)) {
      s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ AnnotationRewrite
    }

  /** Session-builder integration (`withExtensions(AnnotationRewrite.inject)`,
    * as [[graft.Session]] and the perfbench harness build every session):
    * registers the rule as an analyzer
    * resolution rule, which runs BEFORE nested schema pruning — so the
    * numeric conjunct keeps `__<f>_numeric` alive in the pruned schema and
    * reaches the parquet scan as a pushed nested predicate. The rule is
    * idempotent (replacement leaves nothing to re-match; augmentation is
    * guarded), so running it per analyzer-fixpoint pass is safe. It also
    * registers the SQL functions that bind no runtime data, so each session
    * (child sessions included) holds them from the start; functions that
    * bind a model or a filter register per call instead.
    */
  def inject(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectResolutionRule(_ => AnnotationRewrite)
    Seq[(String, Seq[Expression] => Expression)](
      "fhir_dt_start" -> (xs => graft.fhir.FhirDateTimeStart(xs.head)),
      "fhir_dt_end" -> (xs => graft.fhir.FhirDateTimeEnd(xs.head)),
      "first_match_band" -> graft.udx.BandExpr.build).foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), build))
    }
  }
}
