package graft.fhir

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Java-callable bounds helpers for codegen (static forwarders). */
object FhirDateTimeBounds {
  def startMicrosBoxed(s: UTF8String): java.lang.Long =
    if (s == null) null
    else FhirAnnotations.bounds(s.toString).map(b => java.lang.Long.valueOf(b._1)).orNull
  def endMicrosBoxed(s: UTF8String): java.lang.Long =
    if (s == null) null
    else FhirAnnotations.bounds(s.toString).map(b => java.lang.Long.valueOf(b._2)).orNull
}

/** SURVEY §2 A6 upgrade path: native Catalyst expressions with codegen for
  * the FHIR date-range annotation — stays inside WholeStageCodegen instead
  * of breaking the pipeline at a Scala UDF boundary (SURVEY §7.5).
  */
abstract class FhirDateTimeBound extends UnaryExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  protected def helperName: String

  override def nullSafeEval(v: Any): Any = {
    val boxed =
      if (helperName == "startMicrosBoxed")
        FhirDateTimeBounds.startMicrosBoxed(v.asInstanceOf[UTF8String])
      else FhirDateTimeBounds.endMicrosBoxed(v.asInstanceOf[UTF8String])
    if (boxed == null) null else boxed.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("bound")
      s"""
         |java.lang.Long $tmp = graft.fhir.FhirDateTimeBounds.$helperName($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })
}

case class FhirDateTimeStart(child: Expression) extends FhirDateTimeBound {
  override protected def helperName: String = "startMicrosBoxed"
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

case class FhirDateTimeEnd(child: Expression) extends FhirDateTimeBound {
  override protected def helperName: String = "endMicrosBoxed"
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}
