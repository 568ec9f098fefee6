package graft.fhir

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonGenerator, JsonParser, JsonToken}

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, InternalFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Lossless FHIR JSON ↔ spec DataFrame codec (SURVEY §2 A2/A3, reference
  * README.md:11-13).
  *
  * Both directions work on Spark's internal rows: encode parses each NDJSON
  * line with Jackson straight into `GenericInternalRow`s, and decode writes
  * JSON straight from the scanned `InternalRow`s. No external-`Row` encoder
  * runs on either side, because generating and planning its serializer over
  * a nested FHIR schema costs more than parsing a small file. The schema is
  * compiled once, on the driver, into a tree of readers or writers
  * (per-struct field-index tables, skip and decimal flags, annotation
  * slots) that every line reuses. [[org.apache.spark.sql.InternalFrame]]
  * turns the rows back into a DataFrame.
  *
  * The parse also fills every spec annotation slot its schema declares,
  * while it reads the owning struct, by the rule `FhirAnnotations` applies
  * in its Catalyst rebuild. A slot is a field of the owning struct named
  * after a sibling, which is its source:
  *   - `__<e>_start` / `__<e>_end`, `TIMESTAMP`, beside a string `<e>`: one
  *     `FhirAnnotations.bounds` call fills both;
  *   - `__<e>_numeric`, `DECIMAL(38,6)`, beside a string `<e>`: the Spark
  *     cast `FhirAnnotations.numericCast`;
  *   - `__<q>_canonical`, the canonical group's struct type, beside a
  *     Quantity struct `<q>`: `FhirAnnotations.CanonicalSlot`.
  * A slot is never read from the JSON. `FhirAnnotations` puts the slots in
  * the schema and re-issues the parse through [[parse]].
  */
object FhirCodec {

  /** FHIR NDJSON → spec DataFrame. Jackson rather than Spark's JSON reader:
    * Spark normalizes number tokens ("36.50" → "36.5"), which breaks the
    * spec's lossless mandate for decimals stored as text (README.md:347-348),
    * while Jackson's `getText` on a number token returns the original
    * characters. A string-typed field whose value is an object or array
    * (`spark.read.json` infers StringType when a field's JSON kinds conflict)
    * stores the subtree's raw JSON text. Fields absent from the schema are
    * skipped and blank lines yield no row; a line that is not a JSON object,
    * a document cut short, or a missing non-nullable field fails the task.
    * The result carries `schema` as given, nested `fhirType=decimal`
    * metadata included, which is how decode knows to re-emit raw numbers.
    * Its plan is a bare `LogicalRDD` over a [[ParseRDD]].
    */
  def encode(spark: SparkSession, ndjson: Dataset[String], schema: StructType): DataFrame =
    parse(spark, ndjson.queryExecution.toRdd, schema)

  def encode(ndjson: DataFrame, schema: StructType): DataFrame =
    encode(ndjson.sparkSession,
      ndjson.select(col(ndjson.columns.head).cast(StringType)).as(Encoders.STRING), schema)

  /** The codec parse of `lines` (one string column of NDJSON) into `schema`. */
  private[fhir] def parse(spark: SparkSession, lines: RDD[InternalRow], schema: StructType): DataFrame =
    InternalFrame(spark, new ParseRDD(lines, structIn(spark, schema)), schema)

  /** The input lines of `df` when its plan is exactly a codec parse, so a
    * caller can re-issue the parse with another schema at no extra read.
    */
  private[fhir] def parseInput(df: DataFrame): Option[RDD[InternalRow]] =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd match {
        case p: ParseRDD => Some(p.lines)
        case _ => None
      }
      case _ => None
    }

  /** The one RDD a codec parse runs: each line of `lines` through `root`. */
  private final class ParseRDD(val lines: RDD[InternalRow], root: StructIn) extends RDD[InternalRow](lines) {
    override protected def getPartitions: Array[Partition] = lines.partitions

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val factory = new JsonFactory()
      lines.iterator(split, context).flatMap { line =>
        if (line.isNullAt(0)) None else parseLine(factory, root, line.getUTF8String(0))
      }
    }
  }

  private def parseLine(factory: JsonFactory, root: StructIn, text: UTF8String): Option[InternalRow] = {
    val src = text.getByteBuffer
    val p = factory.createParser(src.array, src.arrayOffset + src.position, src.remaining)
    try p.nextToken() match {
      case null => None
      case JsonToken.START_OBJECT => Some(root.read(p, src))
      case t => throw new IllegalArgumentException(s"NDJSON line is not a JSON object: starts with $t")
    } finally p.close()
  }

  /** Next token, which inside a document is never the end of input: a
    * parser that ran past a document's end would otherwise read `null`
    * tokens forever.
    */
  private def next(p: JsonParser): JsonToken = {
    val t = p.nextToken()
    if (t == null) throw new IllegalArgumentException("NDJSON line ends inside a JSON document")
    t
  }

  /** Reads the value at the parser's current token into its Catalyst form.
    * `src` holds the line's bytes, for raw subtree text.
    */
  private sealed abstract class In extends Serializable {
    def read(p: JsonParser, src: ByteBuffer): Any

    final def value(p: JsonParser, src: ByteBuffer): Any =
      if (p.currentToken == JsonToken.VALUE_NULL) null else read(p, src)
  }

  /** The reader of `dt`. `spark` is only read here, on the driver, to build
    * the annotation slots' rules; no reader keeps it.
    */
  private def reader(spark: SparkSession, dt: DataType): In = dt match {
    case st: StructType => structIn(spark, st)
    case at: ArrayType => new ArrayIn(reader(spark, at.elementType))
    case StringType => StringIn
    case IntegerType => new ScalarIn(_.getIntValue)
    case LongType => new ScalarIn(_.getLongValue)
    case BooleanType => new ScalarIn(_.getBooleanValue)
    case DoubleType => new ScalarIn(_.getDoubleValue)
    case d: DecimalType => new DecimalIn(d)
    case other => new ScalarIn(_ =>
      throw new IllegalArgumentException(s"unsupported FHIR parse type: ${other.simpleString}"))
  }

  private def structIn(spark: SparkSession, st: StructType): StructIn = {
    val fills = slots(spark, st)
    val filled = fills.flatMap(_.targets).toSet
    new StructIn(st, st.fields.indices.map(i => if (filled(i)) null else reader(spark, st(i).dataType)).toArray, fills)
  }

  /** The annotation slots `st` declares, each with its source sibling. */
  private def slots(spark: SparkSession, st: StructType): Seq[Fill] = {
    // the sibling a `__<e><suffix>` field is named after
    def source(i: Int, suffix: String): Option[Int] = {
      val name = st(i).name
      if (name.length > 2 + suffix.length && name.startsWith("__") && name.endsWith(suffix))
        Some(st.fieldNames.indexOf(name.substring(2, name.length - suffix.length))).filter(_ >= 0)
      else None
    }
    def ofString(i: Int, suffix: String, dt: DataType): Option[Int] =
      if (st(i).dataType == dt) source(i, suffix).filter(st(_).dataType == StringType) else None
    def each[T](f: Int => Option[T]): Seq[T] = st.fields.indices.flatMap(f)
    val starts = each(i => ofString(i, "_start", TimestampType).map(_ -> i)).toMap
    val ends = each(i => ofString(i, "_end", TimestampType).map(_ -> i)).toMap
    (starts.keySet ++ ends.keySet).toSeq.sorted.map(s => new RangeFill(s, starts.getOrElse(s, -1), ends.getOrElse(s, -1))) ++
      each(i => ofString(i, "_numeric", FhirAnnotations.NumericType).map(
        new NumericFill(_, i, FhirAnnotations.numericCast(spark, nullable = true)))) ++
      each(i => source(i, "_canonical").flatMap { s =>
        FhirAnnotations.canonicalSlot(spark, st(s)).filter(_.field.dataType == st(i).dataType)
          .map(new CanonicalFill(s, i, _))
      })
  }

  /** Computes annotation slots of a struct's values from their sources,
    * after the struct's JSON fields are read.
    */
  private sealed abstract class Fill extends Serializable {
    def targets: Seq[Int]
    def apply(values: Array[Any]): Unit
  }

  private final class RangeFill(src: Int, start: Int, end: Int) extends Fill {
    def targets: Seq[Int] = Seq(start, end).filter(_ >= 0)
    def apply(values: Array[Any]): Unit = values(src) match {
      case s: UTF8String => FhirAnnotations.bounds(s.toString).foreach { case (lo, hi) =>
        if (start >= 0) values(start) = lo
        if (end >= 0) values(end) = hi
      }
      case _ =>
    }
  }

  private final class NumericFill(src: Int, dst: Int, cast: Expression) extends Fill {
    private val in = new GenericInternalRow(1)
    def targets: Seq[Int] = Seq(dst)
    def apply(values: Array[Any]): Unit = {
      in.update(0, values(src))
      values(dst) = cast.eval(in)
    }
  }

  private final class CanonicalFill(src: Int, dst: Int, slot: FhirAnnotations.CanonicalSlot) extends Fill {
    def targets: Seq[Int] = Seq(dst)
    def apply(values: Array[Any]): Unit = values(dst) = slot(values(src).asInstanceOf[InternalRow])
  }

  /** `fields(i)` is null for a slot, which `fills` computes. */
  private final class StructIn(st: StructType, fields: Array[In], fills: Seq[Fill]) extends In {
    private val index = new java.util.HashMap[String, Integer]()
    fields.indices.foreach(i => if (fields(i) != null) index.put(st(i).name, i))
    private val required = fields.indices.filter(i => fields(i) != null && !st(i).nullable).toArray
    private val fillAll = fills.toArray

    def read(p: JsonParser, src: ByteBuffer): InternalRow = {
      if (p.currentToken != JsonToken.START_OBJECT) { p.skipChildren(); return null }
      val values = new Array[Any](fields.length)
      while (next(p) != JsonToken.END_OBJECT) {
        val i = index.get(p.currentName)
        next(p)
        if (i == null) p.skipChildren() else values(i) = fields(i).value(p, src)
      }
      required.foreach { i =>
        if (values(i) == null)
          throw new IllegalArgumentException(s"required field '${st(i).name}' is null or absent")
      }
      fillAll.foreach(_(values))
      new GenericInternalRow(values)
    }
  }

  private final class ArrayIn(elem: In) extends In {
    def read(p: JsonParser, src: ByteBuffer): Any = {
      if (p.currentToken != JsonToken.START_ARRAY) { p.skipChildren(); return null }
      val buf = ArrayBuffer.empty[Any]
      while (next(p) != JsonToken.END_ARRAY) buf += elem.value(p, src)
      new GenericArrayData(buf.toArray)
    }
  }

  private object StringIn extends In {
    def read(p: JsonParser, src: ByteBuffer): Any = p.currentToken match {
      case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
        // byte offsets count from the start of the parsed range
        val from = p.currentTokenLocation.getByteOffset
        p.skipChildren()
        val until = p.currentLocation.getByteOffset
        UTF8String.fromBytes(src.array, src.arrayOffset + src.position + from.toInt, (until - from).toInt)
      case _ => UTF8String.fromString(p.getText) // raw token text: keeps "36.50"
    }
  }

  private final class ScalarIn(get: JsonParser => Any) extends In {
    def read(p: JsonParser, src: ByteBuffer): Any = get(p)
  }

  private final class DecimalIn(dt: DecimalType) extends In {
    def read(p: JsonParser, src: ByteBuffer): Any = {
      val d = Decimal(p.getDecimalValue)
      if (!d.changePrecision(dt.precision, dt.scale)) // rounds half-up
        throw new ArithmeticException(s"${p.getText} does not fit ${dt.simpleString}")
      d
    }
  }

  /** Spec DataFrame → FHIR NDJSON, one document per row in a one-column
    * `value` Dataset. `__*` annotation fields are skipped (README.md:304-306);
    * null leaves, all-null structs and empty arrays are pruned, so
    * required-struct encodings don't grow empty objects (SURVEY §7.4 trap 6:
    * golden files store an absent complex element as a struct of nulls);
    * string fields carrying `fhirType=decimal` metadata (set by
    * FhirSchema.deriveSchema) are re-emitted as raw JSON numbers, restoring
    * the original number tokens exactly. Tables read from plain parquet have
    * no such metadata and decode decimals as strings: the distinction is not
    * recoverable from the parquet schema alone.
    */
  def decode(df: DataFrame): Dataset[String] = {
    val root = new StructOut(df.schema)
    val docs = df.queryExecution.toRdd.mapPartitions { rows =>
      val factory = new JsonFactory()
      val buf = new ByteArrayOutputStream()
      rows.map { row =>
        buf.reset()
        val gen = factory.createGenerator(buf, JsonEncoding.UTF8)
        root.writeObject(gen, row)
        gen.close()
        InternalRow(UTF8String.fromBytes(buf.toByteArray))
      }
    }
    InternalFrame(df.sparkSession, docs, DocSchema).as(Encoders.STRING)
  }

  private val DocSchema = StructType(Seq(StructField("value", StringType)))

  private val RawNumber = """-?(0|[1-9]\d*)(\.\d+)?([eE][+-]?\d+)?""".r

  /** Writes the value at index `i` of a row or array as JSON. */
  private sealed abstract class Out extends Serializable {
    /** Anything here worth emitting? Drives null/empty pruning. */
    def nonEmpty(c: SpecializedGetters, i: Int): Boolean = !c.isNullAt(i)
    def write(g: JsonGenerator, c: SpecializedGetters, i: Int): Unit
  }

  /** `rawDecimal` applies to the strings of the field and of its arrays. */
  private def writer(dt: DataType, rawDecimal: Boolean): Out = dt match {
    case st: StructType => new StructOut(st)
    case at: ArrayType => new ArrayOut(writer(at.elementType, rawDecimal))
    case StringType => new StringOut(rawDecimal)
    case IntegerType => new ScalarOut((g, c, i) => g.writeNumber(c.getInt(i)))
    case LongType => new ScalarOut((g, c, i) => g.writeNumber(c.getLong(i)))
    case BooleanType => new ScalarOut((g, c, i) => g.writeBoolean(c.getBoolean(i)))
    case DoubleType => new ScalarOut((g, c, i) => g.writeNumber(c.getDouble(i)))
    case d: DecimalType =>
      new ScalarOut((g, c, i) => g.writeNumber(c.getDecimal(i, d.precision, d.scale).toJavaBigDecimal))
    case other => new ScalarOut((_, _, _) =>
      throw new IllegalArgumentException(s"unsupported decode type: ${other.simpleString}"))
  }

  private final class StructOut(st: StructType) extends Out {
    private val width = st.length
    private val kept = st.fields.indices.filterNot(st(_).name.startsWith("__")).toArray
    private val names = kept.map(st(_).name)
    private val fields = kept.map { i => writer(st(i).dataType, FhirSchema.isDecimalField(st(i))) }

    private def has(r: InternalRow): Boolean =
      kept.indices.exists(k => fields(k).nonEmpty(r, kept(k)))

    override def nonEmpty(c: SpecializedGetters, i: Int): Boolean =
      !c.isNullAt(i) && has(c.getStruct(i, width))

    def write(g: JsonGenerator, c: SpecializedGetters, i: Int): Unit =
      writeObject(g, c.getStruct(i, width))

    def writeObject(g: JsonGenerator, r: InternalRow): Unit = {
      g.writeStartObject()
      var k = 0
      while (k < kept.length) {
        if (fields(k).nonEmpty(r, kept(k))) {
          g.writeFieldName(names(k))
          fields(k).write(g, r, kept(k))
        }
        k += 1
      }
      g.writeEndObject()
    }
  }

  private final class ArrayOut(elem: Out) extends Out {
    private def lastKept(a: ArrayData): Int = {
      var j = a.numElements() - 1
      while (j >= 0 && !elem.nonEmpty(a, j)) j -= 1
      j
    }

    override def nonEmpty(c: SpecializedGetters, i: Int): Boolean =
      !c.isNullAt(i) && lastKept(c.getArray(i)) >= 0

    def write(g: JsonGenerator, c: SpecializedGetters, i: Int): Unit = {
      val a = c.getArray(i)
      // explicit JSON nulls keep element indexes aligned for FHIR parallel
      // arrays (given/_given, README.md:252-297): dropping null elements
      // would shift the siblings, so only trailing emptiness is pruned
      val last = lastKept(a)
      g.writeStartArray()
      var j = 0
      while (j <= last) {
        if (elem.nonEmpty(a, j)) elem.write(g, a, j) else g.writeNull()
        j += 1
      }
      g.writeEndArray()
    }
  }

  private final class StringOut(rawDecimal: Boolean) extends Out {
    def write(g: JsonGenerator, c: SpecializedGetters, i: Int): Unit = {
      val s = c.getUTF8String(i).toString
      if (rawDecimal && RawNumber.matches(s)) g.writeRawValue(s) else g.writeString(s)
    }
  }

  private final class ScalarOut(put: (JsonGenerator, SpecializedGetters, Int) => Unit) extends Out {
    def write(g: JsonGenerator, c: SpecializedGetters, i: Int): Unit = put(g, c, i)
  }
}
