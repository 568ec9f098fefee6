package graft.fhir

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType, TimestampType}

/** Spec-conformant parquet writer (SURVEY §7.5).
  *
  * `strictParquetTypes = true` emits timestamp annotation columns as the
  * spec's `int96` physical type (reference README.md:329-330) via Spark's
  * `spark.sql.parquet.outputTimestampType=INT96`, and floors every
  * `__*_start` / `__*_end` range annotation to MILLISECOND precision — the
  * spec declares range annotations at ms precision (README.md:325-330), and
  * a sub-ms µs value cannot round-trip through a spec-conformant MILLIS
  * column. Flooring is the correct direction for both bounds: a floored
  * start only widens the range, and a floored end IS the ms-precision
  * inclusive end (….999999 µs → ….999). The default mode keeps Spark-native
  * TIMESTAMP_MICROS (INT64) at full µs precision, which AnnotationRewrite's
  * cast-equivalence relies on.
  *
  * Documented deviations that the flag cannot close (README.md:76,79):
  * Spark has no writer path for unsigned INT(32,false) logical types, so
  * FHIR positiveInt/unsignedInt stay INT(32,true) — value-identical for
  * the legal FHIR ranges (0..2^31-1), type-annotation different; and INT96
  * itself carries no logical annotation at all (which is also how the
  * spec's own int96 examples read back).
  */
object FhirWriter {

  /** Writes `df` as Parquet at `path`; the timestamp type is scoped to the
    * write ([[graft.Session.withConf]]), so the session conf is left as it
    * was found.
    */
  def write(df: DataFrame, path: String, strictParquetTypes: Boolean = false): Unit = {
    val out = if (strictParquetTypes) floorAnnotationTimestamps(df) else df
    graft.Session.withConf(df.sparkSession, "spark.sql.parquet.outputTimestampType" ->
        (if (strictParquetTypes) "INT96" else "TIMESTAMP_MICROS")) {
      out.write.mode("overwrite").parquet(path)
    }
  }

  /** Exact floor-to-ms (pmod keeps it exact pre-1970 too, unlike truncating
    * integer division).
    */
  private def floorMs(c: Column): Column =
    timestamp_micros(unix_micros(c) - pmod(unix_micros(c), lit(1000L)))

  private def isRangeAnnotation(name: String): Boolean =
    name.startsWith("__") && (name.endsWith("_start") || name.endsWith("_end"))

  /** Floor every timestamp range-annotation leaf (any nesting depth; LIST
    * elements via transform) to ms precision.
    */
  private[fhir] def floorAnnotationTimestamps(df: DataFrame): DataFrame = {
    def leafPaths(dt: DataType, prefix: List[String]): Seq[List[String]] = dt match {
      case st: StructType => st.fields.toSeq.flatMap { f =>
        f.dataType match {
          case TimestampType if isRangeAnnotation(f.name) => Seq(prefix :+ f.name)
          case other => leafPaths(other, prefix :+ f.name)
        }
      }
      case ArrayType(e, _) => leafPaths(e, prefix)
      case _ => Seq.empty
    }
    def rebuild(owner: Column, dt: DataType, segs: List[String]): Column = (dt, segs) match {
      case (_: StructType, leaf :: Nil) => owner.withField(leaf, floorMs(owner.getField(leaf)))
      case (st: StructType, head :: tail) => st(head).dataType match {
        case at: ArrayType =>
          owner.withField(head, transform(owner.getField(head), e => rebuild(e, at.elementType, tail)))
        case sdt => owner.withField(head, rebuild(owner.getField(head), sdt, tail))
      }
      case _ => owner
    }
    leafPaths(df.schema, Nil).foldLeft(df) { (d, path) =>
      path match {
        case leaf :: Nil => d.withColumn(leaf, floorMs(col(leaf)))
        case head :: tail => d.schema(head).dataType match {
          case at: ArrayType =>
            d.withColumn(head, transform(col(head), e => rebuild(e, at.elementType, tail)))
          case sdt => d.withColumn(head, rebuild(col(head), sdt, tail))
        }
        case Nil => d
      }
    }
  }
}
