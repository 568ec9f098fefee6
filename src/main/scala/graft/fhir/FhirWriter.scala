package graft.fhir

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import FhirAnnotations.Kind

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

  /** Floor every timestamp range-annotation leaf, at any nesting depth, to
    * ms precision, each through the annotation writers' nested-path rebuild.
    */
  private def floorAnnotationTimestamps(df: DataFrame): DataFrame =
    FhirSchema.walk(df.schema).collect {
      case (path, f, _) if FhirAnnotations.parseAnnotation(f.name).flatMap(_.kind).exists(k =>
          (k == Kind.Start || k == Kind.End) && k.fits(f.dataType)) => path.replace("[]", "")
    }.foldLeft(df) { (d, path) =>
      FhirAnnotations.annotatePath(d, path)(
        leaf => d.withColumn(leaf, floorMs(col(leaf))),
        (owner, leaf) => owner.withField(leaf, floorMs(owner.getField(leaf))))
    }
}
