package graft.fhir

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._

/** SURVEY §2 A1/A4 — spec-compliant schema derivation and union-merge.
  *
  * Rules (reference README.md): schema contains only fields present in the
  * data (:15-18); FHIR decimal/date/dateTime/instant/time are stored as
  * strings preserving original text (:61-82, :347-348); repeating elements
  * are 3-level LISTs (:110-111); complex elements are groups (:176-178);
  * `resourceType` is the only required field (:39-41), everything else
  * optional (:47-48); field order is alphabetical (deterministic merge —
  * observed in examples/Patient.parquet).
  *
  * Documented deviations (SURVEY §7.5): FHIR integer → IntegerType (signed
  * int32; FHIR bounds positiveInt/unsignedInt ≤ 2³¹−1 so this is
  * value-lossless), timestamps INT64-MICROS rather than the spec's
  * deprecated int96.
  */
object FhirSchema {

  /** Derive a spec-shaped StructType from FHIR NDJSON (one resource/line).
    * Two-pass: Spark's JSON inference discovers the fields present, then the
    * tree is rewritten per the spec type table. Inference runs distributed;
    * only the resulting schema lives on the driver.
    */
  def deriveSchema(spark: SparkSession, resources: Dataset[String]): StructType =
    rewrite(spark.read.json(resources).schema, top = true).asInstanceOf[StructType]

  /** Field metadata marking a StringType column that carries FHIR decimal
    * text — decode re-emits such values as raw JSON numbers.
    */
  val DecimalMeta: Metadata =
    new MetadataBuilder().putString("fhirType", "decimal").build()

  def isDecimalField(f: StructField): Boolean =
    f.metadata.contains("fhirType") && f.metadata.getString("fhirType") == "decimal"

  private def rewrite(dt: DataType, top: Boolean = false): DataType = dt match {
    case st: StructType =>
      val fields = st.fields
        .map { f =>
          val required = top && f.name == "resourceType"
          val meta = f.dataType match {
            case _: DoubleType | _: DecimalType | _: FloatType => DecimalMeta
            case ArrayType(_: DoubleType | _: DecimalType | _: FloatType, _) => DecimalMeta
            case _ => Metadata.empty
          }
          StructField(f.name, rewrite(f.dataType), nullable = !required, metadata = meta)
        }
        .sortBy(_.name)
      StructType(fields)
    case at: ArrayType => ArrayType(rewrite(at.elementType), containsNull = true)
    // FHIR decimal: keep original text; typed access goes through the
    // __*_numeric annotation (README.md:347-353).
    case _: DoubleType | _: DecimalType | _: FloatType => StringType
    // FHIR integer is 32-bit; JSON inference widens to Long.
    case _: LongType => IntegerType
    // dates/times arrive as strings already (inference leaves them alone).
    case other => other
  }

  /** A4 — union-merge of N same-resource schemas (README.md:20-22).
    * Identical paths must agree on type; annotation/choice siblings union
    * cleanly because they are just optional fields.
    */
  def mergeSchemas(schemas: Seq[StructType]): StructType =
    schemas.reduce(mergeStruct)

  private def mergeStruct(a: StructType, b: StructType): StructType = {
    val merged = scala.collection.mutable.LinkedHashMap[String, StructField]()
    a.fields.foreach(f => merged(f.name) = f)
    b.fields.foreach { f =>
      merged.get(f.name) match {
        case None => merged(f.name) = f
        case Some(prev) =>
          merged(f.name) = StructField(f.name, mergeType(prev.dataType, f.dataType),
            nullable = prev.nullable || f.nullable)
      }
    }
    StructType(merged.values.toArray.sortBy(_.name))
  }

  private def mergeType(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (x: StructType, y: StructType) => mergeStruct(x, y)
    case (x: ArrayType, y: ArrayType) =>
      ArrayType(mergeType(x.elementType, y.elementType), x.containsNull || y.containsNull)
    case (x, y) =>
      throw new IllegalArgumentException(
        s"FHIR schema merge conflict: ${x.simpleString} vs ${y.simpleString}")
  }

  /** Insert the `__<name>_numeric` DECIMAL(38,6) annotation twin immediately
    * after every FHIR-decimal string field (README.md:347-353; golden files
    * place the twin right after its base, not in alphabetical position).
    * Used to complete a definition-derived schema into the on-disk shape.
    */
  def withNumericTwins(st: StructType): StructType =
    StructType(st.fields.flatMap { f =>
      val rewritten = f.dataType match {
        case s: StructType => f.copy(dataType = withNumericTwins(s))
        case ArrayType(s: StructType, n) => f.copy(dataType = ArrayType(withNumericTwins(s), n))
        case _ => f
      }
      if (isDecimalField(f) && f.dataType == StringType)
        Seq(rewritten, StructField(FhirAnnotations.annotationName(f.name, FhirAnnotations.Kind.Numeric),
          FhirAnnotations.NumericType))
      else Seq(rewritten)
    })

  /** The one schema walk: every field of `st`, depth first, with its dotted
    * path and its owning struct. A struct's fields follow it, and so do the
    * element fields of a LIST of structs, under a `[]` path segment.
    */
  def walk(st: StructType, prefix: String = ""): Seq[(String, StructField, StructType)] =
    st.fields.toSeq.flatMap { f =>
      val p = prefix + f.name
      (p, f, st) +: (f.dataType match {
        case s: StructType => walk(s, s"$p.")
        case ArrayType(s: StructType, _) => walk(s, s"$p[].")
        case _ => Nil
      })
    }

  /** Flatten a schema to (path, type) rows — used by the fhir_schema_derive
    * query and the golden-schema tests.
    */
  def leaves(st: StructType): Seq[(String, String)] =
    walk(st).flatMap { case (p, f, _) =>
      f.dataType match {
        case _: StructType | ArrayType(_: StructType, _) => Nil
        case ArrayType(e, _) => Seq((s"$p[]", e.simpleString))
        case other => Seq((p, other.simpleString))
      }
    }
}
