package graft.fhir

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}

import graft.SparkTestBase
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.3 — property-based tests over random FHIR-ish resources:
  * lossless round-trip (README.md:11-13), merge soundness (README.md:20-22),
  * range containment (README.md:316-330), MinHash Jaccard error bounds.
  * (scalatestplus is not in the offline cache, so generators are driven by
  * seeded sampling rather than the forAll trait — fully deterministic.)
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // strict mapper: floats as BigDecimal so 36.50 ≠ 36.5 in tree compare
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  // --- generators for FHIR-ish JSON ---

  private val genName: Gen[String] = Gen.oneOf(
    "status", "valueString", "code", "display", "note", "category", "unit")
  private val genDecimalText: Gen[String] = for {
    i <- Gen.choose(0, 9999)
    scale <- Gen.choose(1, 6)
    frac <- Gen.listOfN(scale, Gen.numChar).map(_.mkString)
  } yield s"$i.$frac"
  private val genDate: Gen[String] = for {
    y <- Gen.choose(1950, 2025); m <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
  } yield f"$y%04d-$m%02d-$d%02d"

  private def quote(s: String) = "\"" + s.replaceAll("[\\\\\"]", "") + "\""

  /** One random resource as a JSON string (flat + one nested struct + one
    * array, decimals as raw number tokens).
    */
  private val genResource: Gen[String] = for {
    id <- Gen.identifier.map(_.take(12))
    dec <- genDecimalText
    date <- genDate
    n <- Gen.choose(-1000, 1000)
    b <- Gen.oneOf(true, false)
    tag1 <- genName; tag2 <- genName
    gap <- Gen.oneOf("", "null,") // an explicit null inside the array
    extra <- genName
  } yield s"""{"resourceType":"Observation","id":${quote(id)},""" +
    s""""valueQuantity":{"value":$dec,"unit":"mg"},""" +
    s""""effectiveDateTime":${quote(date)},"sequence":$n,"active":$b,""" +
    s""""category":[${quote(tag1)},$gap${quote(tag2)}],"note":${quote(extra)}}"""

  test("property: decode(encode(x)) reproduces the JSON tree, decimals exact") {
    import spark.implicits._
    val docs = samples(genResource, 40).toList
    val ds = spark.createDataset(docs)
    val schema = FhirSchema.deriveSchema(spark, ds)
    val encoded = FhirCodec.encode(spark, ds, schema)
    val vq = encoded.schema("valueQuantity").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(FhirSchema.isDecimalField(vq("value")), "nested decimal marker lost on encode")
    val back = FhirCodec.decode(encoded).collect()
    assert(back.length == docs.length)
    assert(docs.exists(_.contains(",null,")), "generator never placed a null inside an array")
    val wanted = docs.map(mapper.readTree).map(t => t.get("id").asText() -> t).toMap
    back.foreach { j =>
      val tree = mapper.readTree(j)
      val orig = wanted(tree.get("id").asText())
      assert(tree == orig, s"round-trip drift:\n  in:  $orig\n  out: $tree")
    }
    // a field the schema lacks is skipped; the rest of the document survives
    val noNote = org.apache.spark.sql.types.StructType(schema.filterNot(_.name == "note"))
    FhirCodec.decode(FhirCodec.encode(spark, ds, noNote)).collect().foreach { j =>
      val tree = mapper.readTree(j)
      val orig = wanted(tree.get("id").asText()).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      orig.remove("note")
      assert(tree == orig, s"unknown-field drift:\n  in:  $orig\n  out: $tree")
    }
    // empty NDJSON round-trips to no documents
    assert(FhirCodec.decode(FhirCodec.encode(spark, spark.createDataset(Seq.empty[String]), schema))
      .collect().isEmpty)
  }

  test("property: derive(a ++ b) == merge(derive(a), derive(b))") {
    import spark.implicits._
    for (trial <- 1 to 5) {
      val a = samples(genResource, 5).toList
      val b = (1 to 5).flatMap(i =>
        genResource.apply(Gen.Parameters.default, Seed(trial * 100L + i))).toList
      val da = FhirSchema.deriveSchema(spark, spark.createDataset(a))
      val db = FhirSchema.deriveSchema(spark, spark.createDataset(b))
      val direct = FhirSchema.deriveSchema(spark, spark.createDataset(a ++ b))
      // compare field names/types (nullability of resourceType identical)
      assert(FhirSchema.mergeSchemas(Seq(da, db)).sql == direct.sql)
    }
  }

  test("property: range annotation contains every instant the value denotes") {
    val genPartial: Gen[String] = Gen.oneOf(
      Gen.choose(1950, 2025).map(_.toString),
      for { y <- Gen.choose(1950, 2025); m <- Gen.choose(1, 12) } yield f"$y%04d-$m%02d",
      genDate,
      for { d <- genDate; h <- Gen.choose(0, 23); mi <- Gen.choose(0, 59) }
        yield f"${d}T$h%02d:$mi%02d:30+10:00")
    samples(genPartial, 200).foreach { s =>
      val Some((lo, hi)) = FhirAnnotations.bounds(s)
      assert(lo <= hi)
      // the start instant itself must round-trip: a fully-specified instant
      // inside the value's range stays within [lo, hi]
      val mid = lo + (hi - lo) / 2
      assert(lo <= mid && mid <= hi)
      // bounds are ms-aligned (spec: millisecond precision): start on a
      // whole second, end on .999 (floorMod: pre-1970 micros are negative)
      assert(Math.floorMod(lo, 1000000L) == 0, s"$s start not second-aligned: $lo")
      assert(Math.floorMod(hi, 1000000L) == 999000, s"$s end not .999-aligned: $hi")
    }
  }

  // --- one-pass ingest: codec-filled annotations equal the Catalyst rebuild ---

  private def encoded(lines: Dataset[String]): DataFrame =
    FhirCodec.encode(spark, lines, FhirSchema.deriveSchema(spark, lines))

  /** The same parse behind a `Project`: not a bare codec parse, so every
    * annotation takes the Catalyst rebuild.
    */
  private def behindProject(df: DataFrame): DataFrame = df.select(df.columns.map(c => col(s"`$c`")): _*)

  /** Distinct Spark row-metadata footers of the Parquet files `df` writes. */
  private def footers(df: DataFrame): Set[String] = {
    val dir = SparkTestBase.tempDir("graft_onepass_").resolve("t").toString
    FhirWriter.write(df, dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), spark.sessionState.newHadoopConf()))
      try r.getFooter.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")
      finally r.close()
    }.toSet
  }

  /** Annotates `enc` both ways and checks that the codec path was taken and
    * that schema, rows and written footers are the rebuild's. Returns the
    * codec frame.
    */
  private def assertOnePassEqual(enc: DataFrame, steps: Seq[(String, String)]): DataFrame = {
    val codec = SparkTestBase.annotate(enc, steps)
    val catalyst = SparkTestBase.annotate(behindProject(enc), steps)
    assert(FhirCodec.parseInput(codec).isDefined, "the annotated codec frame left the codec path")
    assert(FhirCodec.parseInput(catalyst).isEmpty)
    assert(codec.schema == catalyst.schema,
      s"schema drift:\n${codec.schema.treeString}\nvs rebuild\n${catalyst.schema.treeString}")
    assert(codec.exceptAll(catalyst).isEmpty && catalyst.exceptAll(codec).isEmpty, s"row drift on $steps")
    val f = footers(codec)
    assert(f.size == 1 && f == footers(catalyst), s"footer drift on $steps")
    codec
  }

  private def fixture(resource: String): Dataset[String] =
    spark.read.textFile(java.nio.file.Paths.get(getClass.getResource(s"/fhir/$resource.ndjson").toURI).toString)

  test("one-pass ingest: codec-filled annotations equal the Catalyst rebuild on the generator and the fixture") {
    import spark.implicits._
    val gen = encoded(spark.createDataset(samples(genResource, 40)))
    val genSteps = Seq("range" -> "effectiveDateTime", "numeric" -> "valueQuantity.value")
    assertOnePassEqual(gen, genSteps)
    // re-annotating a path replaces its slots in place
    assertOnePassEqual(gen, genSteps ++ genSteps)
    for ((r, steps) <- SparkTestBase.ingestAnnotations) {
      val enc = encoded(fixture(r))
      val codec = assertOnePassEqual(enc, steps)
      assert(codec.count() == enc.count())
    }
    val obs = encoded(fixture("Observation"))
    val twice = assertOnePassEqual(obs, Seq("canonical" -> "valueQuantity", "canonical" -> "valueQuantity"))
    assert(twice.columns.count(_ == "__valueQuantity_canonical") == 1)
    assert(twice.where(col("__valueQuantity_canonical").isNotNull).count() > 0)
  }

  test("one-pass ingest: an unparseable date gets null bounds on both paths") {
    import spark.implicits._
    val docs = Seq(
      """{"resourceType":"Observation","id":"a","effectiveDateTime":"not a date"}""",
      """{"resourceType":"Observation","id":"b","effectiveDateTime":"2020-02"}""",
      """{"resourceType":"Observation","id":"c"}""")
    val codec = assertOnePassEqual(encoded(spark.createDataset(docs)), Seq("range" -> "effectiveDateTime"))
    val bounds = codec.select(col("id"), col("__effectiveDateTime_start").isNull, col("__effectiveDateTime_end").isNull)
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(bounds == Map("a" -> (true, true), "b" -> (false, false), "c" -> (true, true)))
  }

  test("one-pass ingest: malformed decimal text and a path off the structs fail alike on both paths") {
    import spark.implicits._
    val enc = encoded(spark.createDataset(Seq(
      """{"resourceType":"Observation","id":"a","valueQuantity":{"value":1.5}}""",
      """{"resourceType":"Observation","id":"b","valueQuantity":{"value":"12.5x"}}""")))
    def failure(df: DataFrame): SparkThrowable = {
      val e = intercept[Exception](FhirAnnotations.annotateNumeric(df, "valueQuantity.value").collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable if t.getCondition != null => t }
        .getOrElse(fail("no Spark error in the cause chain", e))
    }
    assume(spark.conf.get("spark.sql.ansi.enabled").toBoolean, "malformed decimal text fails only under ANSI casts")
    val (codec, catalyst) = (failure(enc), failure(behindProject(enc)))
    assert(codec.getCondition == "CAST_INVALID_INPUT", codec)
    assert(codec.getCondition == catalyst.getCondition)
    assert(codec.getMessageParameters == catalyst.getMessageParameters)
    // `id` is a string: the path does not descend structs, at call time
    def callFailure(df: DataFrame): Throwable = intercept[Exception](FhirAnnotations.annotateNumeric(df, "id.value"))
    val (c, r) = (callFailure(enc), callFailure(behindProject(enc)))
    assert(c.getClass == r.getClass && c.getMessage == r.getMessage, s"$c vs $r")
  }

  test("property: MinHash Jaccard estimate within statistical error bound") {
    import graft.udx.Udx
    val rnd = new scala.util.Random(7)
    var totalErr = 0.0
    val trials = 30
    for (_ <- 1 to trials) {
      val base = (1 to 200).map(_ => rnd.nextLong()).toArray
      val keep = rnd.nextDouble() * 0.8 + 0.1
      val a = base.filter(_ => rnd.nextDouble() < 0.9)
      val b = base.filter(_ => rnd.nextDouble() < keep)
      val trueJ = (a.toSet & b.toSet).size.toDouble / (a.toSet | b.toSet).size
      val sa = a.foldLeft(Udx.MinHashSig.zero)(Udx.MinHashSig.reduce)
      val sb = b.foldLeft(Udx.MinHashSig.zero)(Udx.MinHashSig.reduce)
      val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
      totalErr += math.abs(est - trueJ)
    }
    val meanErr = totalErr / trials
    // 64 permutations → σ ≈ sqrt(j(1-j)/64) ≤ 0.0625; mean |err| must sit
    // well inside a few sigma
    assert(meanErr < 0.08, f"mean MinHash estimate error $meanErr%.3f")
  }
}
