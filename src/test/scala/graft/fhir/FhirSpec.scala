package graft.fhir

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** SURVEY §5 layers 1-3: conformance clauses, golden files, round-trip.
  * Fixtures are the spec's own worked examples
  * (/root/reference/README.md:90-96, 116-124, 150-163, 325-327) and the
  * FHIR tables of `SparkTestBase.fhir`: the golden files where present,
  * else the staged NDJSON fixture. Claims about the golden files' own
  * bytes cancel without them.
  */
class FhirSpec extends AnyFunSuite with TimeLimits {
  private implicit val signaler: Signaler = ThreadSignaler
  private lazy val spark = SparkTestBase.spark
  private def ds(lines: String*) = {
    import spark.implicits._
    spark.createDataset(lines)
  }

  // --- A1 schema derivation: spec clauses ---

  test("derive: simple patient (README.md:90-96) — primitives, alphabetical, resourceType required") {
    val schema = FhirSchema.deriveSchema(spark,
      ds("""{"resourceType":"Patient","id":"example","birthDate":"1970-01-01"}"""))
    assert(schema.fieldNames.toSeq == Seq("birthDate", "id", "resourceType"))
    assert(schema("birthDate").dataType == StringType) // date kept as text
    assert(!schema("resourceType").nullable)           // README.md:39-41
    assert(schema("id").nullable)                      // README.md:47-48
  }

  test("derive: repeating element (README.md:116-124) — LIST shape") {
    val schema = FhirSchema.deriveSchema(spark,
      ds("""{"resourceType":"AllergyIntolerance","category":["food","environment"]}"""))
    assert(schema("category").dataType == ArrayType(StringType, containsNull = true))
  }

  test("derive: choice types (README.md:150-163) — sibling columns per populated type") {
    val schema = FhirSchema.deriveSchema(spark, ds(
      """{"resourceType":"Patient","multipleBirthBoolean":false}""",
      """{"resourceType":"Patient","multipleBirthInteger":2}"""))
    assert(schema("multipleBirthBoolean").dataType == BooleanType)
    assert(schema("multipleBirthInteger").dataType == IntegerType)
  }

  test("derive: decimals become strings (README.md:347-348)") {
    val schema = FhirSchema.deriveSchema(spark,
      ds("""{"resourceType":"Observation","valueQuantity":{"value":36.50,"unit":"Cel"}}"""))
    val vq = schema("valueQuantity").dataType.asInstanceOf[StructType]
    assert(vq("value").dataType == StringType)
  }

  // --- A2 encode: decimal text preservation (SURVEY §7.4 trap 5) ---

  test("encode preserves decimal text exactly") {
    val json = """{"resourceType":"Observation","valueQuantity":{"value":42.38090848315092,"unit":"kg"}}"""
    val schema = FhirSchema.deriveSchema(spark, ds(json))
    val df = FhirCodec.encode(spark, ds(json), schema)
    val v = df.select(col("valueQuantity.value")).head().getString(0)
    assert(v == "42.38090848315092")
    // trailing-zero form survives too
    val json2 = """{"resourceType":"Observation","valueQuantity":{"value":36.50,"unit":"Cel"}}"""
    val v2 = FhirCodec.encode(spark, ds(json2), schema)
      .select(col("valueQuantity.value")).head().getString(0)
    assert(v2 == "36.50")
    // the nested decimal marker rides on the encoded schema, so decode can
    // re-emit the raw number
    val vq = df.schema("valueQuantity").dataType.asInstanceOf[StructType]
    assert(FhirSchema.isDecimalField(vq("value")), vq("value").metadata.json)
    // a field the schema lacks is skipped, its siblings still land
    val json3 = """{"resourceType":"Observation","note":[{"text":"x"}],"valueQuantity":{"value":1.0,"code":"kg","unit":"kg"}}"""
    val r3 = FhirCodec.encode(spark, ds(json3), schema)
      .select(col("valueQuantity.value"), col("valueQuantity.unit")).collect()
    assert(r3.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("1.0", "kg")))
    // empty NDJSON: no rows, no exception, the schema as given
    val empty = FhirCodec.encode(spark, ds(), schema)
    assert(empty.count() == 0)
    assert(empty.schema == schema)
    assert(FhirCodec.decode(empty).count() == 0)
  }

  test("encode: a field that is an object in one resource, an array in another and a string in a third keeps the raw JSON text") {
    // spark.read.json infers StringType for `a`; the parser must consume the
    // object/array subtree instead of leaving it for the enclosing struct,
    // which would otherwise read past the end of the line
    val docs = Seq(
      """{"resourceType":"Basic","id":"1","a":"s","z":"1"}""",
      """{"resourceType":"Basic","id":"2","a":{"b":1},"z":"2"}""",
      """{"resourceType":"Basic","id":"3","a":["p","q"],"z":"3"}""")
    val schema = FhirSchema.deriveSchema(spark, ds(docs: _*))
    assert(schema("a").dataType == StringType)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("a"), col("z").cast("long")).orderBy("id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    failAfter(2.minutes) {
      val got = rows(FhirCodec.encode(spark, ds(docs: _*), schema))
      assert(got == rows(spark.read.json(ds(docs: _*))))
      assert(got == Seq(("1", "s", 1L), ("2", """{"b":1}""", 2L), ("3", """["p","q"]""", 3L)))
    }
  }

  test("encode: blank lines yield no row; malformed lines fail the task") {
    val schema = StructType(Seq(
      StructField("a", StructType(Seq(StructField("b", StringType)))),
      StructField("resourceType", StringType, nullable = false)))
    val ok = """{"resourceType":"Basic","a":{"b":"x"}}"""
    assert(FhirCodec.encode(spark, ds("", ok, "  "), schema).count() == 1)
    failAfter(2.minutes) {
      for (bad <- Seq(
          """{"resourceType":"Basic","a":{"b":"x"""", // cut short
          """["resourceType"]""",                      // not an object
          """{"a":{"b":"x"}}"""))                       // required field absent
        intercept[Exception](FhirCodec.encode(spark, ds(ok, bad), schema).collect())
    }
  }

  test("codec plans run on internal rows: no object (de)serialization node in encode or decode") {
    // fields in schema (alphabetical) order, so decode reproduces the line
    val json = """{"id":"o1","resourceType":"Observation","valueQuantity":{"unit":"Cel","value":36.50}}"""
    val schema = FhirSchema.deriveSchema(spark, ds(json))
    val enc = FhirCodec.encode(spark, ds(json), schema)
    val dec = FhirCodec.decode(enc)
    assert(dec.collect().toSeq == Seq(json))
    for ((name, qe) <- Seq("encode" -> enc.queryExecution, "decode" -> dec.queryExecution)) {
      val plan = qe.executedPlan.toString
      for (node <- Seq("SerializeFromObject", "DeserializeToObject", "MapPartitions"))
        assert(!plan.contains(node), s"$name plan holds $node:\n$plan")
    }
  }

  // --- A2∘A3 round-trip on golden files (README.md:11-13) ---

  test("golden round-trip: decode → derive → encode → decode is stable") {
    SparkTestBase.assumeGolden()
    for (name <- Seq("Patient", "Observation", "ExplanationOfBenefit")) {
      val df = spark.read.parquet(s"/root/reference/examples/$name.parquet")
      assert(df.count() == 100, s"$name rows")
      val nd1 = FhirCodec.decode(df)
      val schema = FhirSchema.deriveSchema(spark, nd1)
      val back = FhirCodec.encode(spark, nd1, schema)
      val nd2 = FhirCodec.decode(back)
      // JSON round-trip fixpoint: second decode emits identical documents
      val a = nd1.collect().sorted
      val b = nd2.collect().sorted
      assert(a.length == b.length, s"$name doc count")
      assert(a.sameElements(b), s"$name round-trip drift")
    }
  }

  test("primitive extensions: _field sibling groups round-trip (README.md:252-297)") {
    // the spec's own worked example: birthDate with an id + birthTime extension
    val json = """{"resourceType":"Patient","birthDate":"1970-01-01","_birthDate":{"id":"1","extension":[{"url":"http://hl7.org/fhir/StructureDefinition/patient-birthTime","valueDateTime":"1970-01-01T00:00:00Z"}]}}"""
    val schema = FhirSchema.deriveSchema(spark, ds(json))
    val g = schema("_birthDate").dataType.asInstanceOf[StructType]
    assert(g.fieldNames.contains("id") && g.fieldNames.contains("extension"))
    val df = FhirCodec.encode(spark, ds(json), schema)
    assert(df.select(col("_birthDate.id")).head().getString(0) == "1")
    assert(df.select(expr("_birthDate.extension[0].valueDateTime")).head()
      .getString(0) == "1970-01-01T00:00:00Z")
    val back = FhirCodec.decode(df).collect()
    assert(back.length == 1)
    // decode emits the _birthDate group intact (fixpoint through a 2nd pass)
    assert(back.head.contains("\"_birthDate\""))
    val again = FhirCodec.decode(FhirCodec.encode(spark,
      spark.createDataset(back.toSeq)(org.apache.spark.sql.Encoders.STRING), schema)).collect()
    assert(again.sameElements(back))
  }

  test("primitive extensions: parallel-array _given keeps null alignment (README.md:252-297)") {
    // index alignment is semantically significant: _given[0] must stay null
    val json = """{"resourceType":"Patient","name":[{"given":["Jane","J"],"_given":[null,{"id":"g2"}]}]}"""
    val schema = FhirSchema.deriveSchema(spark, ds(json))
    val df = FhirCodec.encode(spark, ds(json), schema)
    val decoded = FhirCodec.decode(df).head()
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(decoded)
    val ug = tree.at("/name/0/_given")
    assert(ug.size() == 2, s"parallel array length: $decoded")
    assert(ug.get(0).isNull, s"leading null must survive: $decoded")
    assert(ug.get(1).at("/id").asText() == "g2")
    // an explicit null inside a repeated primitive keeps its index through
    // encode and decode; only trailing nulls are pruned
    val json2 = """{"resourceType":"Patient","name":[{"given":["Jane",null,"J",null]}]}"""
    val given = FhirCodec.encode(spark, ds(json2), schema)
      .select(expr("name[0].given")).head().getSeq[String](0)
    assert(given == Seq("Jane", null, "J", null))
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(FhirCodec.decode(FhirCodec.encode(spark, ds(json2), schema)).head())
      .at("/name/0/given")
    assert(back.toString == """["Jane",null,"J"]""")
  }

  test("golden files: annotation placement is sibling-in-group (README.md:304-306)") {
    SparkTestBase.assumeGolden()
    val obs = spark.read.parquet("/root/reference/examples/Observation.parquet")
    val vq = obs.schema("valueQuantity").dataType.asInstanceOf[StructType]
    assert(vq.fieldNames.contains("__value_numeric"))
    assert(vq("__value_numeric").dataType == DecimalType(38, 6)) // README.md:352-353
  }

  test("annotateRange: nested struct and LIST paths place siblings in-group (README.md:304-306,702-703)") {
    val eob = SparkTestBase.fhir("ExplanationOfBenefit")
    val a = FhirAnnotations.annotateRange(
      FhirAnnotations.annotateRange(eob, "billablePeriod.start"), "item.servicedPeriod.start")
    val bp = a.schema("billablePeriod").dataType.asInstanceOf[StructType]
    assert(bp.fieldNames.contains("start") && bp.fieldNames.contains("__start_start"))
    assert(bp("__start_start").dataType == TimestampType)
    val item = a.schema("item").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val sp = item("servicedPeriod").dataType.asInstanceOf[StructType]
    assert(sp.fieldNames.toSet.intersect(Set("start", "__start_start", "__start_end")).size == 3)
    assert(sp("__start_end").dataType == TimestampType)
  }

  test("annotateNumeric: LIST path places __value_numeric beside each element's decimal (README.md:347-353)") {
    val eob = SparkTestBase.fhir("ExplanationOfBenefit")
    // the input already carries total[].amount.__value_numeric — recompute
    // under a fresh name impossible (fixed annotation name), so strip via a
    // reduced frame: rebuild from the raw string values only
    val raw = eob.select(col("id"),
      expr("transform(total, t -> named_struct('amount', named_struct('value', t.amount.value)))").as("total"))
    val a = FhirAnnotations.annotateNumeric(raw, "total.amount.value")
    val amt = a.schema("total").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("amount").dataType.asInstanceOf[StructType]
    assert(amt.fieldNames.toSeq == Seq("value", "__value_numeric"))
    assert(amt("__value_numeric").dataType == DecimalType(38, 6))
    // values agree with the input's stored annotation
    val mismatch = a.select(col("id"), expr("transform(total, t -> t.amount.__value_numeric)").as("mine"))
      .join(eob.select(col("id"), expr("transform(total, t -> t.amount.__value_numeric)").as("golden")), "id")
      .where(expr("NOT (mine <=> golden)"))
      .count()
    assert(mismatch == 0)
    // …and each follows the rule itself, the decimal text half-up to scale
    // 6 (SURVEY.md §A7): on the fixture the stored annotation came from this
    // same function, so the comparison above alone proves nothing there
    val pairs = a.select(explode(col("total")).as("t"))
      .select(col("t.amount.value"), col("t.amount.__value_numeric")).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val want = BigDecimal(r.getString(0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert(BigDecimal(r.getDecimal(1)) == want, s"${r.getString(0)} → ${r.getDecimal(1)}")
    }
  }

  test("canonicalize: __<q>_canonical sibling group mirrors the Quantity shape (README.md:367-381,711-717)") {
    val obs = SparkTestBase.fhir("Observation")
    val c = FhirAnnotations.canonicalize(obs, "valueQuantity")
    val g = c.schema("__valueQuantity_canonical").dataType.asInstanceOf[StructType]
    assert(g.fieldNames.toSeq == Seq("code", "system", "unit", "value", "__value_numeric"))
    assert(g("value").dataType == StringType)
    assert(g("__value_numeric").dataType == DecimalType(38, 6))
    // spec example (README.md:368-374): Celsius canonicalizes to Kelvin
    val cel = c.where(col("valueQuantity.code") === "Cel")
      .select(col("valueQuantity.value").cast("double").as("v"),
        col("__valueQuantity_canonical.code").as("cc"),
        col("__valueQuantity_canonical.__value_numeric").cast("double").as("cv"))
      .collect()
    cel.foreach { r =>
      assert(r.getString(1) == "K")
      assert(math.abs(r.getDouble(2) - (r.getDouble(0) + 273.15)) < 1e-6)
    }
  }

  test("range bounds: fractional seconds keep µs-precise starts") {
    val Some((lo, hi)) = FhirAnnotations.bounds("2014-06-01T12:05:30.0005Z")
    val base = java.time.Instant.parse("2014-06-01T12:05:30Z").toEpochMilli * 1000
    assert(lo == base + 500) // 0.0005s = 500µs, NOT floored to the ms
    assert(hi == base + 599) // 4-digit fraction spans 100µs, inclusive end
    val Some((l3, h3)) = FhirAnnotations.bounds("2014-06-01T12:05:30.123Z")
    assert(l3 == base + 123000 && h3 == base + 123999)
  }

  test("FhirWriter: strictParquetTypes emits int96 annotation timestamps (README.md:329-330), both modes round-trip") {
    val base = SparkTestBase.tempDir("graft_strict_").toString
    val p = FhirAnnotations.annotateRange(SparkTestBase.fhir("Patient"), "birthDate")
      .select("id", "birthDate", "__birthDate_start", "__birthDate_end")
    for ((strict, dir) <- Seq((true, s"$base/strict"), (false, s"$base/native"))) {
      FhirWriter.write(p, dir, strictParquetTypes = strict)
      // physical type per the parquet footer
      val file = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getPath), spark.sessionState.newHadoopConf()))
      val schema = footer.getFooter.getFileMetaData.getSchema
      val prim = schema.getType(Array("__birthDate_start"): _*)
        .asPrimitiveType().getPrimitiveTypeName.toString
      footer.close()
      assert(prim == (if (strict) "INT96" else "INT64"), s"strict=$strict")
      // values survive either physical encoding
      val back = spark.read.parquet(dir)
      assert(back.count() == p.count())
      assert(back.select("id", "__birthDate_start").except(
        p.select("id", "__birthDate_start")).count() == 0)
    }
  }

  test("FhirWriter: strict mode floors sub-ms annotation bounds to MILLIS (README.md:325-330)") {
    import spark.implicits._
    val base = SparkTestBase.tempDir("graft_strictms_").toString
    val df = FhirAnnotations.annotateRange(
      Seq(("a", "2014-06-01T12:05:00.123456Z")).toDF("id", "t"), "t")
    FhirWriter.write(df, s"$base/strict", strictParquetTypes = true)
    FhirWriter.write(df, s"$base/native", strictParquetTypes = false)
    def us(dir: String, c: String): Long =
      spark.read.parquet(dir).select(expr(s"unix_micros($c)")).head().getLong(0)
    // native keeps full µs (AnnotationRewrite equivalence)…
    assert(us(s"$base/native", "__t_start") % 1000 == 456)
    // …strict floors both bounds onto the declared MILLIS grid
    assert(us(s"$base/strict", "__t_start") % 1000 == 0)
    assert(us(s"$base/strict", "__t_end") % 1000 == 0)
    assert(us(s"$base/strict", "__t_start") == us(s"$base/native", "__t_start") - 456)
  }

  test("FhirWriter: a write leaves the session conf as it found it") {
    val key = "spark.sql.parquet.outputTimestampType"
    val dir = SparkTestBase.tempDir("graft_writer_conf_").toString
    val p = SparkTestBase.fhir("Patient").select("id")
    spark.conf.unset(key)
    val unset = spark.conf.getAll
    FhirWriter.write(p, s"$dir/a", strictParquetTypes = true)
    FhirWriter.write(p, s"$dir/b")
    assert(spark.conf.getAll == unset, s"$key after the writes: ${spark.conf.getAll.get(key)}")
    try {
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      val set = spark.conf.getAll
      FhirWriter.write(p, s"$dir/c", strictParquetTypes = true)
      assert(spark.conf.getAll == set)
    } finally spark.conf.unset(key)
  }

  // --- A6 range annotation: worked vector + partial precision ---

  test("range bounds: spec vector 2014-06-01T12:05Z (README.md:325-327)") {
    val Some((lo, hi)) = FhirAnnotations.bounds("2014-06-01T12:05Z")
    assert(lo == java.time.Instant.parse("2014-06-01T12:05:00.000Z").toEpochMilli * 1000)
    assert(hi == java.time.Instant.parse("2014-06-01T12:05:59.999Z").toEpochMilli * 1000)
  }

  test("range bounds: partial precision and offsets (README.md:316-330)") {
    val Some((y0, y1)) = FhirAnnotations.bounds("2014")
    assert(y0 == java.time.Instant.parse("2014-01-01T00:00:00Z").toEpochMilli * 1000)
    assert(y1 == java.time.Instant.parse("2014-12-31T23:59:59.999Z").toEpochMilli * 1000)
    val Some((m0, m1)) = FhirAnnotations.bounds("2014-06")
    assert(m0 == java.time.Instant.parse("2014-06-01T00:00:00Z").toEpochMilli * 1000)
    assert(m1 == java.time.Instant.parse("2014-06-30T23:59:59.999Z").toEpochMilli * 1000)
    val Some((o0, _)) = FhirAnnotations.bounds("2018-04-19T23:48:59+10:00")
    assert(o0 == java.time.Instant.parse("2018-04-19T13:48:59Z").toEpochMilli * 1000)
    assert(FhirAnnotations.bounds("not-a-date").isEmpty)
  }

  // --- A1b definition-driven derivation (README.md:8-9) ---

  test("definition derive: golden Patient/Observation/ExplanationOfBenefit schemas reproduce from StructureDefinitions") {
    SparkTestBase.assumeGolden()
    // ExplanationOfBenefit is the largest golden file (66 leaf columns) and
    // exercises registry paths the other two never touch: Money numeric
    // twins, multi-arm choice elements (diagnosis[x], serviced[x],
    // location[x]), and three-deep backbones (item.adjudication.amount).
    for (r <- Seq("Patient", "Observation", "ExplanationOfBenefit")) {
      val golden = graft.Tables.t(spark, graft.Tables.goldenDir, r).schema
      val requested = FhirSchema.leaves(golden)
        .map(_._1.replace("[]", ""))
        .filterNot(p => p.split('.').exists(_.startsWith("__")))
        .filterNot(_ == "resourceType")
      val derived = FhirSchema.withNumericTwins(
        FhirDefinitions.deriveFromDefinition(FhirDefinitions.bundled(r), requested))
      assert(FhirSchema.leaves(derived) == FhirSchema.leaves(golden), s"for $r")
    }
  }

  test("definition derive: types come from the definition, not the data (README.md:61-82)") {
    val sd = FhirDefinitions.bundled("Patient")
    val st = FhirDefinitions.deriveFromDefinition(sd,
      Seq("multipleBirthInteger", "active", "telecom.rank", "deceasedBoolean", "deceasedDateTime"))
    assert(st("multipleBirthInteger").dataType == IntegerType) // no sample needed
    assert(st("active").dataType == BooleanType)
    assert(st("telecom").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("rank").dataType == IntegerType) // positiveInt
    assert(st("deceasedBoolean").dataType == BooleanType)      // choice, two arms
    assert(st("deceasedDateTime").dataType == StringType)
    assert(!st("resourceType").nullable)
    intercept[IllegalArgumentException](
      FhirDefinitions.deriveFromDefinition(sd, Seq("noSuchField")))
  }

  test("definition derive: widened R4 registry — datatype backbones, Quantity profiles, metadata types") {
    // authored differential SD for a resource OUTSIDE the golden three,
    // exercising registry entries the corpus never touches: Dosage with its
    // doseAndRate backbone, Timing.repeat, a Quantity profile (Duration via
    // bounds[x]), and a metadata type (DataRequirement) through the full
    // Extension value[x] arm list
    val sd =
      """{"resourceType":"StructureDefinition","type":"MedicationRequest","differential":{"element":[
        |{"path":"MedicationRequest"},
        |{"path":"MedicationRequest.dosageInstruction","max":"*","type":[{"code":"Dosage"}]}
        |]}}""".stripMargin
    val st = FhirDefinitions.deriveFromDefinition(sd, Seq(
      "dosageInstruction.timing.repeat.frequency",
      "dosageInstruction.timing.repeat.boundsDuration.value",
      "dosageInstruction.doseAndRate.doseQuantity.value",
      "dosageInstruction.maxDosePerLifetime.unit",
      "extension.valueSignature.when",
      "extension.valueDataRequirement.codeFilter.valueSet"))
    val dosage = st("dosageInstruction").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val repeat = dosage("timing").dataType.asInstanceOf[StructType]("repeat")
      .dataType.asInstanceOf[StructType]
    assert(repeat("frequency").dataType == IntegerType) // positiveInt
    val bounds = repeat("boundsDuration").dataType.asInstanceOf[StructType]
    assert(bounds("value").dataType == StringType) // FHIR decimal keeps raw text
    assert(bounds("value").metadata == FhirSchema.DecimalMeta)
    val dar = dosage("doseAndRate").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(dar("doseQuantity").dataType.asInstanceOf[StructType]("value").dataType == StringType)
    assert(dosage("maxDosePerLifetime").dataType
      .asInstanceOf[StructType]("unit").dataType == StringType)
    val ext = st("extension").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(ext("valueSignature").dataType
      .asInstanceOf[StructType]("when").dataType == StringType) // instant
    val cf = ext("valueDataRequirement").dataType.asInstanceOf[StructType]("codeFilter")
      .dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(cf("valueSet").dataType == StringType) // canonical
  }

  test("definition derive: StructureDefinition-of-StructureDefinition via ElementDefinition registry") {
    // FHIR tooling pipelines store definitions AS DATA — the registry must
    // expand ElementDefinition (and its slicing/type/constraint/binding
    // backbones) so those tables get schemas too. The bundled SD for the
    // StructureDefinition resource itself drives the derivation.
    val sd = FhirDefinitions.bundled("StructureDefinition")
    val st = FhirDefinitions.deriveFromDefinition(sd, Seq(
      "name", "kind", "abstract", "type", "contact.name",
      "context.expression", "mapping.identity",
      "snapshot.element.path", "snapshot.element.min", "snapshot.element.max",
      "snapshot.element.type.code", "snapshot.element.type.targetProfile",
      "snapshot.element.binding.strength",
      "snapshot.element.slicing.discriminator.path",
      "snapshot.element.constraint.severity",
      "snapshot.element.fixedCode",
      "snapshot.element.defaultValueQuantity.value",
      "differential.element.path"))
    assert(st("name").dataType == StringType)
    assert(st("abstract").dataType == BooleanType)
    // contact: ContactDetail (metadata type) repeats
    assert(st("contact").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("name").dataType == StringType)
    // context: resource Backbone walked via dotted snapshot paths
    assert(st("context").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("expression").dataType == StringType)
    val el = st("snapshot").dataType.asInstanceOf[StructType]("element")
      .dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(el("path").dataType == StringType)
    assert(el("min").dataType == IntegerType) // unsignedInt
    assert(el("max").dataType == StringType)  // "1" | "*"
    val ty = el("type").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(ty("code").dataType == StringType)
    assert(ty("targetProfile").dataType == ArrayType(StringType, containsNull = true))
    assert(el("binding").dataType.asInstanceOf[StructType]("strength").dataType == StringType)
    assert(el("slicing").dataType.asInstanceOf[StructType]("discriminator")
      .dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]("path").dataType == StringType)
    assert(el("constraint").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("severity").dataType == StringType)
    // open-type choice arms resolve inside ElementDefinition
    assert(el("fixedCode").dataType == StringType)
    val dvq = el("defaultValueQuantity").dataType.asInstanceOf[StructType]
    assert(dvq("value").dataType == StringType)
    assert(dvq("value").metadata == FhirSchema.DecimalMeta)
    // both snapshot and differential share the ElementDefinition expansion
    assert(st("differential").dataType.asInstanceOf[StructType]("element")
      .dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]("path").dataType == StringType)
  }

  // --- A5/A8 widened coverage: primitive regex + clinical UCUM vectors ---

  test("conformance regexes: oid/uuid/base64Binary/code/uri/integer families") {
    def ok(t: String, v: String) = v.matches(s"^(${FhirConformance.regex(t)})$$")
    assert(ok("oid", "urn:oid:1.2.840.10008.1.2"))
    assert(!ok("oid", "urn:oid:3.2"))          // first arc must be 0-2
    assert(!ok("oid", "1.2.840"))              // urn prefix required
    assert(ok("uuid", "urn:uuid:c757873d-ec9a-4326-a141-556f43239520"))
    assert(!ok("uuid", "c757873d-ec9a-4326-a141-556f43239520"))
    assert(!ok("uuid", "urn:uuid:C757873D-EC9A-4326-A141-556F43239520")) // lowercase only
    assert(ok("base64Binary", "QmFzZTY0IQ=="))
    assert(!ok("base64Binary", "abc!"))
    assert(ok("code", "final"))
    assert(ok("code", "two words"))
    assert(!ok("code", " leading-space"))
    assert(ok("uri", "http://loinc.org"))
    assert(ok("canonical", "http://hl7.org/fhir/StructureDefinition/Patient|4.0.1"))
    assert(ok("positiveInt", "12")); assert(!ok("positiveInt", "0"))
    assert(ok("unsignedInt", "0")); assert(!ok("unsignedInt", "01"))
    assert(ok("integer", "-5")); assert(ok("integer", "0")); assert(!ok("integer", "007"))
  }

  test("annotation collisions: non-standard names pass, standard-name misuse is flagged (README.md:311-312)") {
    // the FHIR tables and our own annotated frames are collision-free
    for (r <- Seq("Patient", "Observation", "ExplanationOfBenefit"))
      assert(FhirConformance.annotationCollisions(SparkTestBase.fhir(r).schema).isEmpty, r)
    val annotated = FhirAnnotations.annotateRange(
      SparkTestBase.fhir("Patient"), "birthDate").schema
    assert(FhirConformance.annotationCollisions(annotated).isEmpty)
    // a non-standard annotation with a fresh name is permitted…
    val okExtra = StructType(Seq(
      StructField("resourceType", StringType, nullable = false),
      StructField("score", StringType),
      StructField("__score_zscore", DoubleType)))
    assert(FhirConformance.annotationCollisions(okExtra).isEmpty)
    // …but reusing a spec-defined name with non-conforming semantics collides
    val badType = StructType(Seq(
      StructField("birthDate", StringType),
      StructField("__birthDate_start", StringType))) // start SHALL be a timestamp
    assert(FhirConformance.annotationCollisions(badType).exists(_.contains("non-conforming type")))
    // an annotation claiming a base element that does not exist collides too,
    // including nested inside a repeated group
    val orphan = StructType(Seq(
      StructField("item", ArrayType(StructType(Seq(
        StructField("net", StructType(Seq(
          StructField("currency", StringType),
          StructField("__value_numeric", DecimalType(38, 6)))))))))))
    val hits = FhirConformance.annotationCollisions(orphan)
    assert(hits.exists(h => h.contains("no base element 'value'") && h.startsWith("item[].net")), hits)
  }

  test("UCUM canonicalization: clinical units (mm[Hg], kPa, mg/dL, /min, %)") {
    import spark.implicits._
    val q = Seq(
      ("a", "mm[Hg]", "120"), ("b", "kPa", "5.3"), ("c", "mg/dL", "90"),
      ("d", "/min", "60"), ("e", "%", "12.5"), ("f", "wk", "2"))
      .toDF("id", "code", "value")
      .select(col("id"), struct(col("code"), lit("http://unitsofmeasure.org").as("system"),
        col("code").as("unit"), col("value")).as("vq"))
    val out = FhirAnnotations.canonicalize(q, "vq")
      .select(col("id"), col("__vq_canonical.code").as("canon"),
        col("__vq_canonical.__value_numeric").cast("double").as("v"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(out("a") == ("Pa", 15998.68644))   // 120 mmHg
    assert(out("b") == ("Pa", 5300.0))
    assert(out("c") == ("g/L", 0.9))
    assert(out("d") == ("/s", 1.00002))       // 6-dp factor approximation
    assert(out("e") == ("1", 0.125))
    assert(out("f") == ("s", 1209600.0))
  }

  // --- A4 merge soundness ---

  test("merge: union of fields, conflict raises") {
    val a = StructType(Seq(StructField("id", StringType), StructField("gender", StringType)))
    val b = StructType(Seq(StructField("birthDate", StringType), StructField("id", StringType)))
    val m = FhirSchema.mergeSchemas(Seq(a, b))
    assert(m.fieldNames.toSeq == Seq("birthDate", "gender", "id"))
    val conflict = StructType(Seq(StructField("id", IntegerType)))
    intercept[IllegalArgumentException](FhirSchema.mergeSchemas(Seq(a, conflict)))
  }

  // --- where a FHIR table lives (Tables.fhirDir) ---

  test("Tables.fhirDir: <d>/fhir, then the golden files, then the fixture, staged once") {
    val d = SparkTestBase.tempDir("graft_fhirdir_").toString
    val golden = SparkTestBase.tempDir("graft_golden_").toString
    spark.range(1).write.parquet(s"$d/fhir/Patient.parquet")
    assert(graft.Tables.fhirDir(spark, d, "Patient", golden) == s"$d/fhir")
    assert(graft.Tables.fhirDir(spark, d, "Observation", golden) == golden)
    val fixture = graft.Tables.fhirDir(spark, d, "Observation", s"$golden/absent")
    def stamps = org.apache.commons.io.FileUtils.listFiles(new java.io.File(fixture), null, true)
      .toArray.map { case f: java.io.File => f.getPath -> f.lastModified }.toSet
    val staged = stamps
    assert(graft.Tables.fhirFixture(spark) == fixture && stamps == staged, "the fixture was staged again")
    assert(Seq("Patient", "Observation", "ExplanationOfBenefit")
      .map(r => graft.Tables.t(spark, fixture, r).count()) == Seq(16L, 124L, 23L))
  }

  test("Verify's oracle file: resolves golden FHIR paths and staged layouts only") {
    val raw = graft.SparkEntry.oracleSql
    val resolved = graft.Verify.oracleSql(spark, SparkTestBase.sf)
    val table = """[\w/.-]*/(Patient|Observation|ExplanationOfBenefit)\.parquet""".r
    assert(raw.filter(o => table.findFirstIn(o._2).isDefined).keySet ==
      FhirQueries.defs.filter(_.oracle.exists(_.contains("read_parquet"))).map(_.key).toSet + "scan_projection_pushdown")
    // a staged layout is named as `Tables.stagedPath(name, rel)`
    val staged = (java.util.regex.Pattern.quote(sys.props("java.io.tmpdir")) + """/(\w+)/""").r
    assert(raw.filter(o => staged.findFirstIn(o._2).isDefined).keySet ==
      graft.SparkEntry.stagedOracle.toSet + "scan_binaryfile_ingest")
    val fixture = Option.unless(SparkTestBase.goldenPresent)(graft.Tables.fhirFixture(spark))
    for ((k, sql) <- raw) {
      // the gate contract: perfbench's gate rewrites exactly this form
      for (m <- table.findAllMatchIn(sql)) assert(m.matched == s"${graft.Tables.goldenDir}/${m.group(1)}.parquet", k)
      // the staged form becomes the layout's dir for the dataset, the FHIR
      // paths the tables it resolves; every other oracle stays byte-identical
      val layouts = staged.replaceAllIn(sql, m => s"${graft.Tables.stagingDir(m.group(1), SparkTestBase.sf)}/")
      assert(resolved(k) == fixture.fold(layouts)(f => table.replaceAllIn(layouts, m => s"$f/${m.group(1)}.parquet/*.parquet")), k)
    }
  }
}
