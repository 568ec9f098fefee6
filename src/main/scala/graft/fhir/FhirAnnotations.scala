package graft.fhir

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.Resolver
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Cast, EvalMode, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** SURVEY §2 A6/A7/A8 — the spec's query-acceleration annotations
  * (reference README.md:301-381).
  *
  * Each annotation has two paths that give the same schema and rows. On a
  * frame that is exactly a codec parse (`FhirCodec.encode`, or an earlier
  * annotation of one), `annotateRange`, `annotateNumeric` and
  * `canonicalize` compute the annotated schema with a plain `StructType`
  * rule and re-issue the parse over the same input lines: the codec fills
  * each annotation slot while it reads the owning struct, so the ingest
  * adds no plan node, no join and no extra read. Any other frame, e.g. a
  * table at rest, gets the Catalyst rebuild (`withColumn` / `withField` /
  * `transform`, a broadcast join for UCUM), which keeps column pruning and
  * push-down and is the reference the codec path is tested against. A path
  * the rule does not cover exactly (one that leaves structs, an ambiguous
  * name, a non-string leaf) also takes the rebuild, so its errors are the
  * rebuild's own.
  */
object FhirAnnotations {

  // ---------------------------------------------------------- vocabulary
  // The annotation format (README.md:301-381), written once: an annotation
  // is a sibling field `__<element>_<kind>` of the element it derives from.
  // Every writer, reader and checker of annotation fields names and types
  // them through these definitions.

  /** The range annotations' type (README.md:329-330). */
  val RangeType: DataType = TimestampType

  /** The numeric annotation's type (README.md:347-353). */
  val NumericType: DecimalType = DecimalType(38, 6)

  /** A standard annotation kind: its name suffix and the spec's type rule
    * for it. Any other suffix is a non-standard annotation, which the spec
    * allows when it does not collide with these (README.md:310-312).
    */
  sealed abstract class Kind(val suffix: String, val fits: DataType => Boolean)

  object Kind {
    case object Start extends Kind("start", _ == RangeType)
    case object End extends Kind("end", _ == RangeType)
    case object Numeric extends Kind("numeric", _.isInstanceOf[DecimalType])
    case object Canonical extends Kind("canonical", _.isInstanceOf[StructType])
    val all: Seq[Kind] = Seq(Start, End, Numeric, Canonical)
  }

  /** The field name of `element`'s annotation of `kind`. */
  def annotationName(element: String, kind: Kind): String = s"__${element}_${kind.suffix}"

  /** Whether `name` is in the annotation namespace, which the codec's
    * decode leaves out of the FHIR JSON.
    */
  def isAnnotation(name: String): Boolean = name.startsWith("__")

  /** An annotation field name split into the element it derives from and
    * its suffix; `kind` is the standard kind the suffix names, if any.
    */
  final case class Annotation(base: String, suffix: String) {
    def kind: Option[Kind] = Kind.all.find(_.suffix == suffix)
  }

  /** `__<base>_<suffix>` split at its last `_` (FHIR element names have no
    * underscores); None outside the namespace or without a `_` after `__`.
    */
  def parseAnnotation(name: String): Option[Annotation] = {
    val body = name.drop(2)
    val cut = body.lastIndexOf('_')
    Option.when(isAnnotation(name) && cut >= 0)(Annotation(body.take(cut), body.drop(cut + 1)))
  }

  // ---------------------------------------------------------------- A6
  // Date-range annotation: earliest/latest instant included in a (possibly
  // partial-precision, possibly offset-bearing) FHIR date/dateTime, UTC
  // (README.md:316-330; worked vector :325-327:
  // 2014-06-01T12:05Z → [12:05:00.000Z, 12:05:59.999Z]). Partial values
  // (year..second) bound at ms precision; fractional-second values carry
  // full µs precision (see the frac branch below).
  // Timezone-less values are interpreted as UTC (spec is silent; documented
  // policy, SURVEY §7.4 trap 7).

  private val FhirDateTime =
    """^(\d{4})(?:-(\d{2})(?:-(\d{2})(?:T(\d{2}):(\d{2})(?::(\d{2})(?:\.(\d+))?)?(Z|[+-]\d{2}:\d{2})?)?)?)?$""".r

  /** (startEpochMicros, endEpochMicros) or null for unparseable input. */
  private[fhir] def bounds(s: String): Option[(Long, Long)] = s match {
    case FhirDateTime(y, mo, dd, hh, mi, ss, frac, off) =>
      val zone = off match {
        case null | "Z" => ZoneOffset.UTC
        case o => ZoneOffset.of(o)
      }
      val year = y.toInt
      def micros(ldt: LocalDateTime): Long = {
        val ins = ldt.atOffset(zone).toInstant
        ins.getEpochSecond * 1000000L + ins.getNano / 1000L
      }
      val (lo, hi): (LocalDateTime, LocalDateTime) =
        if (mo == null) {
          val a = LocalDate.of(year, 1, 1).atStartOfDay
          (a, a.plusYears(1))
        } else if (dd == null) {
          val a = LocalDate.of(year, mo.toInt, 1).atStartOfDay
          (a, a.plusMonths(1))
        } else if (hh == null) {
          val a = LocalDate.of(year, mo.toInt, dd.toInt).atStartOfDay
          (a, a.plusDays(1))
        } else if (ss == null) {
          val a = LocalDate.of(year, mo.toInt, dd.toInt).atTime(hh.toInt, mi.toInt)
          (a, a.plusMinutes(1))
        } else if (frac == null) {
          val a = LocalDate.of(year, mo.toInt, dd.toInt).atTime(hh.toInt, mi.toInt, ss.toInt)
          (a, a.plusSeconds(1))
        } else {
          // Fractional seconds carry full µs precision: the earliest
          // included instant of "…00.0005" IS 500µs (an ms-truncated start
          // would lie BEFORE the denoted period, and would break the
          // AnnotationRewrite equivalence cast(x) == __x_start for
          // sub-ms literals). A d-digit fraction spans 10^(6-d) µs.
          val digits = math.min(frac.length, 6)
          val us = (frac + "00000").take(6).toInt
          val a = LocalDate.of(year, mo.toInt, dd.toInt)
            .atTime(hh.toInt, mi.toInt, ss.toInt, us * 1000)
          var span = 1L
          var k = digits
          while (k < 6) { span *= 10L; k += 1 }
          return Some((micros(a), micros(a) + span - 1L))
        }
      // end bound is inclusive at ms precision: hi - 1ms
      Some((micros(lo), micros(hi) - 1000L))
    case _ => None
  }

  /** Add `__<leaf>_start` / `__<leaf>_end` beside the date/dateTime element
    * at `path`, INSIDE its owning group (README.md:304-306: an annotation is
    * a sibling of the annotated element). Dotted paths descend structs and
    * LIST-of-struct elements alike — `item.servicedPeriod.start` annotates
    * every array element's nested group (README.md:337-342, 702-703). The
    * rebuild uses the native codegen expressions (FhirDateTimeStart/End);
    * the codec fills both slots from one [[bounds]] call.
    */
  def annotateRange(df: DataFrame, path: String): DataFrame =
    reparse(df, path) { (leaf, _) =>
      Option.when(leaf.dataType == StringType)(
        Seq(Kind.Start, Kind.End).map(k => StructField(annotationName(leaf.name, k), RangeType)))
    }.getOrElse {
      def start(c: Column) = call_function("fhir_dt_start", c)
      def end(c: Column) = call_function("fhir_dt_end", c)
      annotatePath(df, path)(
        leaf =>
          df.withColumn(annotationName(leaf, Kind.Start), start(col(leaf)))
            .withColumn(annotationName(leaf, Kind.End), end(col(leaf))),
        (owner, leaf) =>
          owner
            .withField(annotationName(leaf, Kind.Start), start(owner.getField(leaf)))
            .withField(annotationName(leaf, Kind.End), end(owner.getField(leaf))))
    }

  /** The codec parse behind `df`, re-issued with `slots(leaf, ownerNullable)`
    * put beside the leaf at `path`; None unless `df` is exactly a codec
    * parse, the path is one [[annotatedSchema]] covers and `slots` covers
    * the leaf.
    */
  private def reparse(df: DataFrame, path: String)(
      slots: (StructField, Boolean) => Option[Seq[StructField]]): Option[DataFrame] =
    FhirCodec.parseInput(df).flatMap { lines =>
      annotatedSchema(df.schema, path, df.sparkSession.sessionState.conf.resolver)(slots)
        .map(FhirCodec.parse(df.sparkSession, lines, _))
    }

  /** The one field of `st` that `name` resolves to, when it has exactly
    * that name.
    */
  private def uniqueField(st: StructType, name: String, resolver: Resolver): Option[StructField] =
    st.fields.filter(f => resolver(f.name, name)) match {
      case Array(f) if f.name == name => Some(f)
      case _ => None
    }

  /** `schema` as the Catalyst rebuild of `path` leaves it, by a plain
    * `StructType` rule: the leaf's owning struct gets `slots(leaf,
    * ownerNullable)` appended, each replacing in place every field its name
    * resolves to, as `withColumn` / `withField` do. `ownerNullable` is the
    * nullability `getField` gives the leaf's owner. Every rebuilt struct or
    * array on the way down becomes nullable where its owner is (a nested
    * `withField` result is `owner.nullable || field.nullable`) and loses its
    * metadata (a rebuilt field is a new `StructField`); an array keeps its
    * `containsNull`. None where a segment is missing, resolves to more than
    * one field or to a differently cased one, or is not a struct or an
    * array of structs before the leaf.
    */
  private def annotatedSchema(schema: StructType, path: String, resolver: Resolver)(
      slots: (StructField, Boolean) => Option[Seq[StructField]]): Option[StructType] = {
    def field(st: StructType, name: String) = uniqueField(st, name, resolver)
    def put(st: StructType, add: Seq[StructField]): StructType = add.foldLeft(st) { (s, n) =>
      if (s.fields.exists(f => resolver(f.name, n.name)))
        StructType(s.fields.map(f => if (resolver(f.name, n.name)) n else f))
      else StructType(s.fields :+ n)
    }
    def within(st: StructType, owner: Boolean, segs: List[String]): Option[StructType] = segs match {
      case leaf :: Nil => field(st, leaf).flatMap(slots(_, owner)).map(put(st, _))
      case head :: tail => field(st, head).flatMap { f =>
        val rebuilt = f.dataType match {
          case ArrayType(e: StructType, containsNull) =>
            within(e, containsNull, tail).map(ArrayType(_, containsNull))
          case s: StructType => within(s, owner || f.nullable, tail)
          case _ => None
        }
        rebuilt.map(dt => put(st, Seq(StructField(head, dt, owner || f.nullable))))
      }
      case Nil => None
    }
    within(schema, owner = false, path.split('.').toList)
  }

  /** The one nested-path rebuild, for the annotation writers and the
    * strict writer's floor: applies `top` for a single-segment path (the
    * leaf is a top-level column) or `group(owner, leaf)` at the owning
    * struct for dotted paths, descending structs directly and LIST
    * elements via `transform`.
    */
  private[fhir] def annotatePath(df: DataFrame, path: String)(
      top: String => DataFrame,
      group: (Column, String) => Column): DataFrame = {
    def rebuild(owner: Column, dt: DataType, rest: List[String]): Column = (dt, rest) match {
      case (_: StructType, leaf :: Nil) => group(owner, leaf)
      case (st: StructType, head :: tail) =>
        st(head).dataType match {
          case at: ArrayType =>
            owner.withField(head,
              transform(owner.getField(head), e => rebuild(e, at.elementType, tail)))
          case sdt => owner.withField(head, rebuild(owner.getField(head), sdt, tail))
        }
      case _ =>
        throw new IllegalArgumentException(s"path $path does not descend structs at $rest")
    }
    path.split('.').toList match {
      case leaf :: Nil => top(leaf)
      case head :: tail =>
        df.schema(head).dataType match {
          case at: ArrayType =>
            df.withColumn(head, transform(col(head), e => rebuild(e, at.elementType, tail)))
          case sdt => df.withColumn(head, rebuild(col(head), sdt, tail))
        }
      case Nil => df
    }
  }

  // ---------------------------------------------------------------- A7
  // DECIMAL(38,6) twin of a decimal string, half-up (README.md:347-353;
  // golden behavior: "42.38090848315092" → 42.380908).

  def numeric(c: Column): Column = c.cast(NumericType)

  /** [[numeric]] as one Spark cast of input 0, for the codec: built on the
    * driver, where it takes the session's ANSI eval mode, so its results and
    * errors are the rebuild's.
    */
  private[fhir] def numericCast(spark: SparkSession, nullable: Boolean): Expression = {
    val conf = spark.sessionState.conf
    Cast(BoundReference(0, StringType, nullable), NumericType, Option(conf.sessionLocalTimeZone),
      EvalMode.fromSQLConf(conf))
  }

  /** Add `__<leaf>_numeric` beside the decimal element at `path`, inside
    * its owning group — same placement rule and path semantics as
    * annotateRange (structs and LIST elements both descend).
    */
  def annotateNumeric(df: DataFrame, path: String): DataFrame =
    reparse(df, path) { (leaf, owner) =>
      Option.when(leaf.dataType == StringType)(Seq(StructField(annotationName(leaf.name, Kind.Numeric), NumericType,
        numericCast(df.sparkSession, owner || leaf.nullable).nullable)))
    }.getOrElse {
      annotatePath(df, path)(
        leaf => df.withColumn(annotationName(leaf, Kind.Numeric), numeric(col(leaf))),
        (owner, leaf) =>
          owner.withField(annotationName(leaf, Kind.Numeric), numeric(owner.getField(leaf))))
    }

  // ---------------------------------------------------------------- A8
  // UCUM canonicalization (README.md:367-381): a broadcast conversion table
  // code → (factor, offset, canonical code); canonical value =
  // value * factor + offset in exact decimal arithmetic.

  /** Codes of the clinical conversion table. Beyond the spec's worked
    * examples (mass/length/temperature/time), the common clinical units a
    * real deployment hits: pressure (mm[Hg]/kPa → Pa), concentration
    * (mg/dL, g/dL → g/L), rates (/min, /h → /s), percent (→ unity),
    * volume (mL → L), micro-mass, day/week.
    */
  private val ucumCodes = Seq("kg", "g", "mg", "ug", "cm", "mm", "m", "mm[Hg]",
    "kPa", "Pa", "Cel", "[degF]", "min", "h", "d", "wk", "mg/dL", "g/dL", "g/L",
    "/min", "/h", "%", "mL", "L")

  /** (code, factor, offset, canonicalCode), generated from
    * [[UcumGrammar.canonicalExact]]: the one precision rule is that factor
    * and offset are the exact values rounded once HALF_UP to 6 dp (the
    * scale of the `DECIMAL(12,6)` / `DECIMAL(18,6)` columns they are cast
    * to), so a non-terminating factor such as 1/60 or 5/9 reads 0.016667 /
    * 0.555556.
    */
  val ucumTable: Seq[(String, String, String, String)] = ucumCodes.map { c =>
    val (canon, f, o) = UcumGrammar.canonicalExact(c)
      .getOrElse(sys.error(s"UCUM table code '$c' does not parse"))
    def dp6(x: java.math.BigDecimal): String =
      x.setScale(6, java.math.RoundingMode.HALF_UP).stripTrailingZeros.toPlainString
    (c, dp6(f), dp6(o), canon)
  }

  /** DuckDB VALUES literal mirroring ucumTable, for oracle SQL. */
  def ucumValuesSql: String =
    ucumTable.map { case (c, f, o, k) =>
      s"('$c', CAST($f AS DECIMAL(12,6)), CAST($o AS DECIMAL(18,6)), '$k')"
    }.mkString("(VALUES ", ", ", ") AS ucum(code, factor, off, canon)")

  private val FactorType = DecimalType(12, 6)
  private val OffsetType = DecimalType(18, 6)

  def ucumDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    ucumTable.toDF("code", "factor_s", "off_s", "canon")
      .select(col("code"),
        col("factor_s").cast(FactorType).as("factor"),
        col("off_s").cast(OffsetType).as("off"),
        col("canon"))
  }

  /** canonical value = CAST(v18 * factor + off AS DECIMAL(38,6)). */
  def canonicalValue(valueStr: Column, factor: Column, off: Column): Column =
    (valueStr.cast(DecimalType(18, 6)) * factor + off).cast(NumericType)

  /** The `__<path>_canonical` group over the UCUM columns the rebuild joins
    * in: null unless the code has a mapping and the value is present.
    */
  private def canonicalGroup(path: String): Column = {
    val cv = canonicalValue(col(s"$path.value"), col("__ucum_factor"), col("__ucum_off"))
    when(col("__ucum_canon").isNotNull && col(s"$path.value").isNotNull,
      struct(
        col("__ucum_canon").as("code"),
        col(s"$path.system").as("system"),
        col("__ucum_canon").as("unit"),
        cv.cast("string").as("value"),
        cv.as(annotationName("value", Kind.Numeric))))
  }

  /** Materialize the spec's `__<q>_canonical` sibling group for the Quantity
    * struct at top-level `path` (README.md:367-381; worked schema :711-717:
    * the group mirrors the Quantity's own shape — code/system/unit/value
    * string + `__value_numeric` DECIMAL(38,6) — holding the canonical unit
    * and converted value). In the rebuild the UCUM conversion table is a
    * broadcast dimension; rows without a mapping (or without a value) get a
    * null group, mirroring a left join. The codec evaluates the same group
    * expression per row against a lookup of the same table
    * ([[CanonicalSlot]]). `value` is the plain decimal text of the
    * converted number at scale 6 — a derived annotation, not a round-trip
    * of the source text.
    */
  def canonicalize(df: DataFrame, path: String): DataFrame = {
    // the rebuild puts the group at the top level whatever the path
    val viaCodec =
      if (path.contains('.')) None
      else reparse(df, path)((q, _) => canonicalSlot(df.sparkSession, q).map(s => Seq(s.field)))
    viaCodec.getOrElse {
      val u = ucumDf(df.sparkSession).select(
        col("code").as("__ucum_code"), col("factor").as("__ucum_factor"),
        col("off").as("__ucum_off"), col("canon").as("__ucum_canon"))
      df.join(broadcast(u), col(s"$path.code") === col("__ucum_code"), "left")
        .withColumn(annotationName(path, Kind.Canonical), canonicalGroup(path))
        .drop("__ucum_code", "__ucum_factor", "__ucum_off", "__ucum_canon")
    }
  }

  /** UCUM code → (canonical code, factor, offset) as the rebuild's join
    * sees them: the same casts of [[ucumTable]]'s text.
    */
  private lazy val ucumUnits: Map[String, Array[Any]] = ucumTable.map { case (c, f, o, k) =>
    c -> Array[Any](UTF8String.fromString(k), Cast(Literal(f), FactorType).eval(), Cast(Literal(o), OffsetType).eval())
  }.toMap

  /** The codec's rule for the `__<q>_canonical` slot of Quantity field `q`:
    * [[canonicalGroup]], analyzed once on the driver against `q` and the
    * three UCUM columns with the types and nullability the rebuild's left
    * join gives them, then bound. None unless `q` is a struct with string
    * `code` and `value` and a `system`, each resolving to exactly one field.
    */
  private[fhir] def canonicalSlot(spark: SparkSession, q: StructField): Option[CanonicalSlot] = q.dataType match {
    case st: StructType =>
      def one(name: String) = uniqueField(st, name, spark.sessionState.conf.resolver)
      for {
        code <- one("code") if code.dataType == StringType
        value <- one("value") if value.dataType == StringType
        _ <- one("system")
      } yield {
        val inputs = StructType(Seq(q,
          StructField("__ucum_canon", StringType), StructField("__ucum_factor", FactorType),
          StructField("__ucum_off", OffsetType)))
        val frame = spark.createDataFrame(java.util.Collections.emptyList[Row](), inputs)
        val group = frame.select(canonicalGroup(q.name).as(annotationName(q.name, Kind.Canonical))).queryExecution.analyzed match {
          case p: Project => BindReferences.bindReference(p.projectList.head, p.child.output)
        }
        new CanonicalSlot(StructField(group.name, group.dataType, group.nullable), group, st.fieldIndex("code"), ucumUnits)
      }
    case _ => None
  }

  /** Fills one `__<q>_canonical` slot from its Quantity struct: looks the
    * code up in the UCUM units (no match, like the left join, leaves the
    * UCUM inputs null) and evaluates the bound group expression.
    */
  private[fhir] final class CanonicalSlot(
      val field: StructField, group: Expression, code: Int, units: Map[String, Array[Any]]) extends Serializable {
    private val none = Array[Any](null, null, null)

    def apply(quantity: InternalRow): Any = {
      val unit =
        if (quantity == null || quantity.isNullAt(code)) none
        else units.getOrElse(quantity.getUTF8String(code).toString, none)
      group.eval(new GenericInternalRow(Array[Any](quantity, unit(0), unit(1), unit(2))))
    }
  }
}
