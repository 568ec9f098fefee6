package graft.fhir

import graft.{Q, QueryDef, Tables}
import graft.Tables.fhirScan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY §2.A — the reference's own surface as queries over the FHIR
  * resource tables of the dataset dir, read where `Tables.fhirDir` resolves
  * them: a `fhir/` subdir of FhirGenScale-replicated resources runs every
  * key at that scale; otherwise the golden files, else the staged NDJSON
  * fixture. The oracles name the golden files (`Tables.fhirScan`), and
  * Verify rewrites them to the resolved tables.
  */
object FhirQueries {

  /** opt_annotation_rewrite's annotated Patient, one dir per JVM. */
  private lazy val annotatedDir = Tables.tempDir("graft_annotated_patient")

  val defs: Seq[QueryDef] = Seq(
    // A1 — schema derivation: decode the golden Patient table to NDJSON,
    // re-derive a spec schema from the JSON, emit (path, type) rows. The
    // golden file is immutable, so the derived leaf table is a fixed
    // 51-row constant — oracled as a VALUES literal. FhirSpec additionally
    // pins golden-file StructType equality, which the leaf serialization
    // can't express (nullability, metadata markers).
    QueryDef(
      "fhir_schema_derive",
      Some(
        "SELECT * FROM (VALUES " +
          "('address[].city', 'string'), ('address[].country', 'string'), " +
          "('address[].extension[].extension[].url', 'string'), " +
          "('address[].extension[].extension[].valueDecimal', 'string'), " +
          "('address[].extension[].url', 'string'), ('address[].line[]', 'string'), " +
          "('address[].postalCode', 'string'), ('address[].state', 'string'), " +
          "('birthDate', 'string'), ('communication[].language.coding[].code', 'string'), " +
          "('communication[].language.coding[].display', 'string'), " +
          "('communication[].language.coding[].system', 'string'), " +
          "('communication[].language.text', 'string'), ('deceasedDateTime', 'string'), " +
          "('extension[].extension[].url', 'string'), " +
          "('extension[].extension[].valueCoding.code', 'string'), " +
          "('extension[].extension[].valueCoding.display', 'string'), " +
          "('extension[].extension[].valueCoding.system', 'string'), " +
          "('extension[].extension[].valueString', 'string'), ('extension[].url', 'string'), " +
          "('extension[].valueAddress.city', 'string'), " +
          "('extension[].valueAddress.country', 'string'), " +
          "('extension[].valueAddress.state', 'string'), ('extension[].valueCode', 'string'), " +
          "('extension[].valueDecimal', 'string'), ('extension[].valueString', 'string'), " +
          "('gender', 'string'), ('id', 'string'), ('identifier[].system', 'string'), " +
          "('identifier[].type.coding[].code', 'string'), " +
          "('identifier[].type.coding[].display', 'string'), " +
          "('identifier[].type.coding[].system', 'string'), " +
          "('identifier[].type.text', 'string'), ('identifier[].value', 'string'), " +
          "('maritalStatus.coding[].code', 'string'), " +
          "('maritalStatus.coding[].display', 'string'), " +
          "('maritalStatus.coding[].system', 'string'), ('maritalStatus.text', 'string'), " +
          "('meta.profile[]', 'string'), ('multipleBirthBoolean', 'boolean'), " +
          "('multipleBirthInteger', 'int'), ('name[].family', 'string'), " +
          "('name[].given[]', 'string'), ('name[].prefix[]', 'string'), " +
          "('name[].use', 'string'), ('resourceType', 'string'), " +
          "('telecom[].system', 'string'), ('telecom[].use', 'string'), " +
          "('telecom[].value', 'string'), ('text.div', 'string'), " +
          "('text.status', 'string')) AS t(path, dtype) ORDER BY path"),
      (s, d) => {
        val ndjson = FhirCodec.decode(Tables.fhir(s, "Patient", d))
        val schema = FhirSchema.deriveSchema(s, ndjson)
        import s.implicits._
        FhirSchema.leaves(schema).toDF("path", "dtype").orderBy("path")
      }),

    // A1b — DEFINITION-driven derivation (README.md:8-9: the schema comes
    // "from a resource definition"): a bundled R4 Patient StructureDefinition
    // + a requested field set → spec StructType with §1.2 types for fields
    // regardless of any sample data (multipleBirthInteger is int32 with no
    // row carrying it), choice resolution, LIST cardinality from max, and
    // numeric-annotation twins. Oracle pins the exact (path, type) table;
    // FhirSpec separately proves golden-file-schema equality for the full
    // Patient/Observation field sets.
    QueryDef(
      "fhir_schema_from_definition",
      Some(
        "SELECT * FROM (VALUES " +
          "('address[].city', 'string'), ('address[].line[]', 'string'), " +
          "('birthDate', 'string'), ('deceasedDateTime', 'string'), " +
          "('extension[].__valueDecimal_numeric', 'decimal(38,6)'), " +
          "('extension[].url', 'string'), ('extension[].valueDecimal', 'string'), " +
          "('gender', 'string'), ('id', 'string'), " +
          "('maritalStatus.coding[].code', 'string'), ('maritalStatus.text', 'string'), " +
          "('meta.profile[]', 'string'), ('multipleBirthBoolean', 'boolean'), " +
          "('multipleBirthInteger', 'int'), ('name[].family', 'string'), " +
          "('name[].given[]', 'string'), ('resourceType', 'string'), " +
          "('telecom[].rank', 'int')) AS t(path, dtype) ORDER BY path"),
      (s, d) => {
        val fields = Seq(
          "id", "birthDate", "gender", "deceasedDateTime", "multipleBirthBoolean",
          "multipleBirthInteger", "name.family", "name.given", "maritalStatus.coding.code",
          "maritalStatus.text", "address.line", "address.city", "meta.profile",
          "extension.url", "extension.valueDecimal", "telecom.rank")
        val st = FhirSchema.withNumericTwins(
          FhirDefinitions.deriveFromDefinition(FhirDefinitions.bundled("Patient"), fields))
        import s.implicits._
        FhirSchema.leaves(st).toDF("path", "dtype").orderBy("path")
      }),

    // A2 — encode: spec worked examples (README.md:90-96,150-163) as NDJSON
    // through the Jackson encoder; the oracle is the literal expected rows.
    QueryDef(
      "fhir_encode",
      Some(
        "SELECT * FROM (VALUES ('example', '1970-01-01', CAST(NULL AS BOOLEAN), CAST(NULL AS INTEGER), 'Patient'), " +
          "('mb1', CAST(NULL AS VARCHAR), false, CAST(NULL AS INTEGER), 'Patient'), " +
          "('mb2', CAST(NULL AS VARCHAR), CAST(NULL AS BOOLEAN), 2, 'Patient')) " +
          "AS t(id, birthDate, multipleBirthBoolean, multipleBirthInteger, resourceType) ORDER BY id"),
      (s, d) => {
        import s.implicits._
        val nd = s.createDataset(Seq(
          """{"resourceType":"Patient","id":"example","birthDate":"1970-01-01"}""",
          """{"resourceType":"Patient","id":"mb1","multipleBirthBoolean":false}""",
          """{"resourceType":"Patient","id":"mb2","multipleBirthInteger":2}"""))
        val schema = FhirSchema.deriveSchema(s, nd)
        FhirCodec.encode(s, nd, schema).orderBy("id")
      }),

    // A3 — decode: golden Patient → NDJSON; every emitted document is
    // parseable JSON carrying the row's id and resourceType.
    QueryDef(
      "fhir_decode",
      Some(
        "SELECT id, resourceType = 'Patient' AS rt_ok " +
          s"FROM ${fhirScan("Patient")} ORDER BY id"),
      (s, d) =>
        FhirCodec.decode(Tables.fhir(s, "Patient", d))
          .toDF("value")
          .select(
            get_json_object(col("value"), "$.id").as("id"),
            (get_json_object(col("value"), "$.resourceType") === "Patient").as("rt_ok"))
          .orderBy("id")),

    // A2/A3 — lossless round-trip: decode → re-derive → re-encode; row and
    // id cardinality must survive (full tree equality in FhirSpec).
    QueryDef(
      "fhir_roundtrip",
      Some(
        s"SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(count(DISTINCT id) AS BIGINT) AS nd_ids " +
          s"FROM ${fhirScan("Observation")}"),
      (s, d) => {
        // decode runs ONCE: schema inference (spark.read.json) and the
        // re-encode both consume the checkpointed strings instead of each
        // re-running scan+decode.
        val ndjson = graft.Ckpt(FhirCodec.decode(Tables.fhir(s, "Observation", d)))._1
        val schema = FhirSchema.deriveSchema(s, ndjson)
        val back = FhirCodec.encode(s, ndjson, schema)
        back.agg(count(lit(1)).as("n_rows"), countDistinct(col("id")).as("nd_ids"))
      }),

    // A4 — schema union-merge: two partial projections written as separate
    // parquet tables, read back with mergeSchema; absent columns null-fill.
    QueryDef(
      "fhir_schema_merge",
      Some(
        s"SELECT * FROM (SELECT id, gender, CAST(NULL AS VARCHAR) AS birthDate " +
          s"FROM ${fhirScan("Patient")} UNION ALL " +
          s"SELECT id, CAST(NULL AS VARCHAR) AS gender, birthDate FROM ${fhirScan("Patient")}) " +
          "ORDER BY id, gender NULLS FIRST, birthDate NULLS FIRST"),
      (s, d) => {
        val dir = Tables.fhirDir(s, d, "Patient")
        val p = Tables.t(s, dir, "Patient")
        // The two projections are staged once per Patient table, so repeats
        // pay only the mergeSchema READ — the operator under test. The
        // fingerprint names the resolved table, so a rehearsal dir and the
        // golden files never share a staging.
        val tmp = Tables.stagingDir("graft_fhir_merge", d)
        Tables.stage(tmp, Tables.fingerprint(dir, "Patient")) {
          p.select("id", "gender").write.mode("overwrite").parquet(s"$tmp/a")
          p.select("id", "birthDate").write.mode("overwrite").parquet(s"$tmp/b")
        }
        s.read.option("mergeSchema", "true").parquet(s"$tmp/a", s"$tmp/b")
          .select(col("id"), col("gender"), col("birthDate"))
          .orderBy(col("id"), col("gender").asc_nulls_first, col("birthDate").asc_nulls_first)
      }),

    // A5 — conformance over ALL golden tables: resourceType presence,
    // uniformity, AND membership in the FHIR R4 resource-types ValueSet
    // (README.md:29-41 — the value "SHALL be drawn from" that set, so a
    // well-formed-but-unknown name like "Pateint" is a violation), + the
    // FHIR R4 value-format regexes for every string-typed primitive present
    // (README.md:84-86 defers to hl7.org/fhir/datatypes.html — date,
    // dateTime, instant, decimal, id below are that page's published
    // patterns). One row per (table, field) check; same regex text runs in
    // Spark rlike and DuckDB regexp_matches (both RE2-compatible subsets).
    // All of a table's rules fuse into ONE scan + ONE agg row (the
    // dq_expectation_suite discipline — one scan+agg job per rule would be
    // 17 jobs over the same 3 files), then the agg row unpivots to
    // the per-(table, field) shape via a literal struct-array explode.
    QueryDef(
      "fhir_conformance_check",
      Some(
        (Seq("ExplanationOfBenefit", "Observation", "Patient").map { n =>
          val vs = FhirConformance.resourceTypes.toSeq.sorted.map(t => s"'$t'").mkString(", ")
          s"SELECT '$n' AS tbl, 'resourceType' AS field, 'resource-types' AS fhir_type, " +
            "CAST(count(resourceType) AS BIGINT) AS n_checked, " +
            "CAST(count(*) - count(resourceType) + CASE WHEN count(DISTINCT resourceType) = 1 THEN 0 ELSE 1 END " +
            s"+ count(CASE WHEN resourceType NOT IN ($vs) THEN 1 END) AS BIGINT) AS n_bad " +
            s"FROM ${fhirScan(n)}"
        } ++ FhirConformance.checks.map { case (tbl, field, typ) =>
          val re = FhirConformance.regex(typ)
          s"SELECT '$tbl' AS tbl, '$field' AS field, '$typ' AS fhir_type, " +
            s"CAST(count($field) AS BIGINT) AS n_checked, " +
            s"CAST(count(CASE WHEN NOT regexp_matches($field, '^($re)$$') THEN 1 END) AS BIGINT) AS n_bad " +
            s"FROM ${fhirScan(tbl)}"
        } ++ Seq {
          // UCUM linear-scale rule: quantity codes on a special
          // (logarithmic / pH) scale cannot be linear-canonicalized — A8
          // leaves their canonical group NULL; this rule COUNTS them so a
          // corpus full of dB/pH Observations is flagged, not silent.
          // SQL-escape embedded quotes: the UCUM special list includes the
          // homeopathic primes ([hp'_X]…) whose ' would otherwise terminate
          // the literal and break the oracle's parse
          val specials = UcumGrammar.specialLoneCodes
            .map(c => s"'${c.replace("'", "''")}'").mkString(", ")
          "SELECT 'Observation' AS tbl, 'valueQuantity.code' AS field, " +
            "'ucum-linear-scale' AS fhir_type, " +
            "CAST(count(valueQuantity.code) AS BIGINT) AS n_checked, " +
            s"CAST(count(CASE WHEN valueQuantity.code IN ($specials) THEN 1 END) AS BIGINT) AS n_bad " +
            s"FROM ${fhirScan("Observation")}"
        }).mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY tbl, field"),
      ),
      (s, d) =>
        Seq("ExplanationOfBenefit", "Observation", "Patient").map { tbl =>
          val fields = FhirConformance.checks.filter(_._1 == tbl)
          val vs = FhirConformance.resourceTypes.toSeq.sorted
          val aggCols: Seq[org.apache.spark.sql.Column] =
            Seq(
              count(col("resourceType")).as("nc_rt"),
              (count(lit(1)) - count(col("resourceType")) +
                when(countDistinct(col("resourceType")) === 1, 0L).otherwise(1L) +
                count(when(!col("resourceType").isin(vs: _*), 1))).as("nb_rt")) ++
              fields.zipWithIndex.flatMap { case ((_, f, typ), i) =>
                val re = FhirConformance.regex(typ)
                Seq(
                  count(expr(f)).as(s"nc_$i"),
                  count(when(!expr(f).rlike(s"^($re)$$"), 1)).as(s"nb_$i"))
              } ++
              (if (tbl == "Observation") Seq(
                count(expr("valueQuantity.code")).as("nc_ucum"),
                count(when(expr("valueQuantity.code")
                  .isin(UcumGrammar.specialLoneCodes: _*), 1)).as("nb_ucum"))
               else Nil)
          val entries =
            struct(
              lit("resourceType").as("field"), lit("resource-types").as("fhir_type"),
              col("nc_rt").as("n_checked"), col("nb_rt").as("n_bad")) +:
              (fields.zipWithIndex.map { case ((_, f, typ), i) =>
                struct(
                  lit(f).as("field"), lit(typ).as("fhir_type"),
                  col(s"nc_$i").as("n_checked"), col(s"nb_$i").as("n_bad"))
              } ++
                (if (tbl == "Observation") Seq(struct(
                  lit("valueQuantity.code").as("field"),
                  lit("ucum-linear-scale").as("fhir_type"),
                  col("nc_ucum").as("n_checked"), col("nb_ucum").as("n_bad")))
                 else Nil))
          Tables.fhir(s, tbl, d)
            .agg(aggCols.head, aggCols.tail: _*)
            .select(explode(array(entries: _*)).as("r"))
            .select(lit(tbl).as("tbl"), col("r.field").as("field"),
              col("r.fhir_type").as("fhir_type"), col("r.n_checked"), col("r.n_bad"))
        }.reduce(_ union _).orderBy("tbl", "field")),

    // A6 — date-range annotation columns. Golden data has date-precision
    // birthDate and second-precision offset dateTimes; partial-precision
    // vectors (README.md:325-327) are covered in FhirSpec.
    QueryDef(
      "fhir_annotate_datetime_range",
      Some(
        "SELECT id, birthDate, CAST(birthDate AS TIMESTAMP) AS bd_start, " +
          "CAST(birthDate AS TIMESTAMP) + INTERVAL 1 DAY - INTERVAL 1 MILLISECOND AS bd_end, " +
          "timezone('UTC', CAST(deceasedDateTime AS TIMESTAMPTZ)) AS dd_start, " +
          "timezone('UTC', CAST(deceasedDateTime AS TIMESTAMPTZ)) + INTERVAL 999 MILLISECOND AS dd_end " +
          s"FROM ${fhirScan("Patient")} ORDER BY id"),
      (s, d) => {
        val p = FhirAnnotations.annotateRange(Tables.fhir(s, "Patient", d), "birthDate")
        p.select(
          col("id"), col("birthDate"),
          col("__birthDate_start").as("bd_start"),
          col("__birthDate_end").as("bd_end"),
          expr("fhir_dt_start(deceasedDateTime)").as("dd_start"),
          expr("fhir_dt_end(deceasedDateTime)").as("dd_end"))
          .orderBy("id")
      }),

    // A6 (nested paths) — the spec places an annotation INSIDE the group
    // that owns the annotated element (README.md:304-306, 702-703). Exercise
    // both nested shapes over ExplanationOfBenefit: a struct path
    // (billablePeriod.start) and a LIST path (item[].servicedPeriod.start,
    // rebuilt per element via transform), then read the typed annotation
    // columns back flattened for the oracle compare.
    QueryDef(
      "fhir_annotate_nested_range",
      Some(
        "SELECT e.id AS id, CAST(it.sequence AS BIGINT) AS seq, " +
          "timezone('UTC', CAST(e.billablePeriod.start AS TIMESTAMPTZ)) AS bp_start, " +
          "timezone('UTC', CAST(e.billablePeriod.start AS TIMESTAMPTZ)) + INTERVAL 999 MILLISECOND AS bp_end, " +
          "timezone('UTC', CAST(it.servicedPeriod.start AS TIMESTAMPTZ)) AS sp_start, " +
          "timezone('UTC', CAST(it.servicedPeriod.start AS TIMESTAMPTZ)) + INTERVAL 999 MILLISECOND AS sp_end " +
          s"FROM ${fhirScan("ExplanationOfBenefit")} e, unnest(e.item) AS t(it) " +
          "ORDER BY id, seq"),
      (s, d) => {
        val a = FhirAnnotations.annotateRange(
          FhirAnnotations.annotateRange(
            Tables.fhir(s, "ExplanationOfBenefit", d), "billablePeriod.start"),
          "item.servicedPeriod.start")
        a.select(col("id"),
            col("billablePeriod.__start_start").as("bp_start"),
            col("billablePeriod.__start_end").as("bp_end"),
            explode(col("item")).as("it"))
          .select(col("id"), col("it.sequence").cast("long").as("seq"),
            col("bp_start"), col("bp_end"),
            col("it.servicedPeriod.__start_start").as("sp_start"),
            col("it.servicedPeriod.__start_end").as("sp_end"))
          .orderBy("id", "seq")
      }),

    // A7 — decimal numeric annotation vs the golden files' own
    // __value_numeric columns (must agree exactly).
    QueryDef(
      "fhir_annotate_decimal_numeric",
      Some(
        "SELECT id, valueQuantity.value AS val_str, " +
          "CAST(valueQuantity.value AS DECIMAL(38,6))::DOUBLE AS val_num, " +
          "valueQuantity.__value_numeric::DOUBLE AS file_num, " +
          "CAST(valueQuantity.value AS DECIMAL(38,6)) = valueQuantity.__value_numeric AS matches " +
          s"FROM ${fhirScan("Observation")} WHERE valueQuantity.value IS NOT NULL ORDER BY id"),
      (s, d) =>
        Tables.fhir(s, "Observation", d)
          .where(col("valueQuantity.value").isNotNull)
          .select(
            col("id"),
            col("valueQuantity.value").as("val_str"),
            FhirAnnotations.numeric(col("valueQuantity.value")).cast("double").as("val_num"),
            col("valueQuantity.__value_numeric").cast("double").as("file_num"),
            (FhirAnnotations.numeric(col("valueQuantity.value")) === col("valueQuantity.__value_numeric"))
              .as("matches"))
          .orderBy("id")),

    // A8 — UCUM canonicalization via broadcast conversion table.
    QueryDef(
      "fhir_annotate_quantity_canonical",
      Some(
        "SELECT id, valueQuantity.code AS code, valueQuantity.value AS val_str, ucum.canon AS canon_code, " +
          "CAST(CAST(valueQuantity.value AS DECIMAL(18,6)) * ucum.factor + ucum.off AS DECIMAL(38,6))::DOUBLE AS canon_value " +
          s"FROM ${fhirScan("Observation")} LEFT JOIN ${FhirAnnotations.ucumValuesSql} " +
          "ON valueQuantity.code = ucum.code WHERE valueQuantity.value IS NOT NULL ORDER BY id"),
      (s, d) =>
        // the materialized sibling group (README.md:711-717), read back flat
        FhirAnnotations.canonicalize(Tables.fhir(s, "Observation", d), "valueQuantity")
          .where(col("valueQuantity.value").isNotNull)
          .select(
            col("id"),
            col("valueQuantity.code").as("code"),
            col("valueQuantity.value").as("val_str"),
            col("__valueQuantity_canonical.code").as("canon_code"),
            col("__valueQuantity_canonical.__value_numeric").cast("double").as("canon_value"))
          .orderBy("id")),

    // A8b — UCUM GRAMMAR canonicalization: where fhir_annotate_quantity_
    // canonical consumes the 24-code clinical table, this key converts via
    // the full unit-expression PARSER (UcumGrammar: prefixed metric atoms,
    // exponents, quotients, 10*n powers, {annotations}) — covering the
    // golden Observation codes the clinical table leaves unconverted
    // (fL, pg, 10*3/uL, 10*6/uL, kg/m2, {score}). The conversion table is
    // parser-GENERATED over a fixed vocabulary (the mechanism is the
    // grammar; the vocabulary is just the demonstration fixture), broadcast
    // exactly like the clinical table — at 100 TB the vocabulary stays
    // unit-cardinality metadata. Conversion arithmetic is one double
    // multiply-add rounded to 6 dp — no aggregation, so IEEE determinism
    // holds cross-engine with identical formula text.
    QueryDef(
      "fhir_ucum_grammar_canonical",
      Some(
        "SELECT id, valueQuantity.code AS code, ucum.canon AS canon_code, " +
          "round(CAST(valueQuantity.value AS DOUBLE) * ucum.factor + ucum.off, 6) AS canon_value " +
          s"FROM ${fhirScan("Observation")} LEFT JOIN ${UcumGrammar.vocabValuesSql} " +
          "ON valueQuantity.code = ucum.code WHERE valueQuantity.value IS NOT NULL " +
          "ORDER BY id, code"),
      (s, d) => {
        val vocab = {
          import s.implicits._
          UcumGrammar.vocabTable.toDF("ucode", "canon", "factor", "off")
        }
        // LEFT join: a code outside the vocabulary passes through with null
        // canon_code/canon_value ("left unconverted") rather than vanishing
        // — the oracle mirrors with LEFT JOIN.
        Tables.fhir(s, "Observation", d)
          .where(col("valueQuantity.value").isNotNull)
          .join(broadcast(vocab), col("valueQuantity.code") === col("ucode"), "left")
          .select(
            col("id"),
            col("valueQuantity.code").as("code"),
            col("canon").as("canon_code"),
            round(col("valueQuantity.value").cast("double") * col("factor") + col("off"), 6)
              .as("canon_value"))
          .orderBy("id", "code")
      }),

    // §4 — the AnnotationRewrite optimizer rule, observable end-to-end: the
    // filter is written against the raw string date (cast to timestamp);
    // the rule rewrites it to the typed __birthDate_start annotation column
    // (PlanSpec asserts the plan shape; results must match the string-side
    // oracle either way).
    QueryDef(
      "opt_annotation_rewrite",
      Some(
        s"SELECT id, birthDate FROM ${fhirScan("Patient")} " +
          "WHERE CAST(birthDate AS TIMESTAMP) >= TIMESTAMP '1990-01-01' ORDER BY id"),
      (s, d) => {
        // materialize a spec table carrying its annotation columns — the
        // rule targets tables at rest, where __birthDate_start is a real
        // parquet column with min/max stats; the write stays inside the key
        // (it is part of the timed ingest-and-query work)
        val tmp = annotatedDir
        FhirAnnotations.annotateRange(Tables.fhir(s, "Patient", d), "birthDate")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .where(col("birthDate").cast("timestamp") >= lit("1990-01-01").cast("timestamp"))
          .select(col("id"), col("birthDate"))
          .orderBy("id")
      }),

    // §4 — the numeric half of AnnotationRewrite: a predicate on
    // CAST(valueQuantity.value AS DOUBLE) gains an implied, margin-relaxed
    // conjunct on the typed __value_numeric sibling (sketch-prune +
    // exact-verify; PlanSpec asserts the typed field reaches the filter).
    // Results must equal the plain string-cast oracle exactly.
    QueryDef(
      "opt_numeric_rewrite",
      Some(
        "SELECT id, valueQuantity.value AS val_str " +
          s"FROM ${fhirScan("Observation")} " +
          "WHERE CAST(valueQuantity.value AS DOUBLE) >= 40.0 " +
          "AND CAST(valueQuantity.value AS DOUBLE) < 80.0 ORDER BY id"),
      (s, d) => {
        Tables.fhir(s, "Observation", d)
          .where(col("valueQuantity.value").cast("double") >= 40.0 &&
            col("valueQuantity.value").cast("double") < 80.0)
          .select(col("id"), col("valueQuantity.value").as("val_str"))
          .orderBy("id")
      }),

    // A13 — coding-targeted retrieval: the canonical FHIR analytics entry
    // point ("all body-weight observations") — filter by (system, code)
    // inside the nested coding LIST, then read the value + its numeric
    // annotation. exists() over the array is a codegen HOF; no unnest
    // blow-up of the non-matching rows.
    QueryDef(
      "fhir_filter_by_coding",
      Some(
        "SELECT id, code.text AS code_text, valueQuantity.value AS val_str, " +
          "valueQuantity.__value_numeric::DOUBLE AS val_num " +
          s"FROM ${fhirScan("Observation")} " +
          "WHERE len(list_filter(code.coding, c -> c.\"system\" = 'http://loinc.org' AND c.code = '29463-7')) > 0 " +
          "ORDER BY id"),
      (s, d) =>
        Tables.fhir(s, "Observation", d)
          .where(expr("exists(code.coding, c -> c.system = 'http://loinc.org' AND c.code = '29463-7')"))
          .select(col("id"), col("code.text").as("code_text"),
            col("valueQuantity.value").as("val_str"),
            col("valueQuantity.__value_numeric").cast("double").as("val_num"))
          .orderBy("id")),

    // A14 — longitudinal patient timeline: the query the format exists FOR —
    // clinical events from multiple resource types (Observation effective
    // instants, EOB billing-period starts) resolved to their patient and
    // sequenced per patient. Broadcast the patient dimension; event rows
    // never shuffle except for the per-patient sequencing window.
    QueryDef(
      "fhir_patient_timeline",
      Some(
        "WITH t AS (" +
          "SELECT subject.reference AS ref, 'observation' AS kind, " +
          s"timezone('UTC', CAST(effectiveDateTime AS TIMESTAMPTZ)) AS at FROM ${fhirScan("Observation")} " +
          "UNION ALL SELECT patient.reference, 'claim', " +
          s"timezone('UTC', CAST(billablePeriod.start AS TIMESTAMPTZ)) FROM ${fhirScan("ExplanationOfBenefit")}) " +
          "SELECT p.id AS patient_id, t.kind AS kind, t.at AS at, " +
          "CAST(row_number() OVER (PARTITION BY p.id ORDER BY t.at, t.kind) AS BIGINT) AS seq " +
          s"FROM t JOIN ${fhirScan("Patient")} p ON t.ref = 'Patient/' || p.id " +
          "ORDER BY patient_id, seq"),
      (s, d) => {
        val obs = Tables.fhir(s, "Observation", d)
          .select(col("subject.reference").as("ref"), lit("observation").as("kind"),
            expr("fhir_dt_start(effectiveDateTime)").as("at"))
        val eob = Tables.fhir(s, "ExplanationOfBenefit", d)
          .select(col("patient.reference").as("ref"), lit("claim").as("kind"),
            expr("fhir_dt_start(billablePeriod.start)").as("at"))
        val p = Tables.fhir(s, "Patient", d)
        val t = obs.unionByName(eob)
        val w = Window.partitionBy(col("patient_id")).orderBy(col("at"), col("kind"))
        t.join(broadcast(p), t("ref") === concat(lit("Patient/"), p("id")))
          .select(p("id").as("patient_id"), t("kind"), t("at"))
          .withColumn("seq", row_number().over(w).cast("long"))
          .orderBy("patient_id", "seq")
      }),

    // A9 — choice-type coalesce over the live multipleBirth[x] siblings
    // (README.md:141-172; both populated in the golden Patient).
    QueryDef(
      "fhir_choice_coalesce",
      Some(
        "SELECT id, CASE WHEN multipleBirthBoolean IS NOT NULL THEN 'boolean' " +
          "WHEN multipleBirthInteger IS NOT NULL THEN 'integer' END AS choice_type, " +
          "coalesce(CAST(multipleBirthBoolean AS VARCHAR), CAST(multipleBirthInteger AS VARCHAR)) AS choice_value " +
          s"FROM ${fhirScan("Patient")} ORDER BY id"),
      (s, d) =>
        Tables.fhir(s, "Patient", d).select(
          col("id"),
          when(col("multipleBirthBoolean").isNotNull, "boolean")
            .when(col("multipleBirthInteger").isNotNull, "integer").as("choice_type"),
          coalesce(col("multipleBirthBoolean").cast("string"),
            col("multipleBirthInteger").cast("string")).as("choice_value"))
          .orderBy("id")),

    // A10 — reference resolution: Observation.subject.reference →
    // 'Patient/' || Patient.id (README.md:181-189). The Patient side is a
    // dimension — broadcast it.
    QueryDef(
      "fhir_reference_resolve",
      Some(
        "SELECT o.id AS obs_id, p.id AS patient_id, p.gender " +
          s"FROM ${fhirScan("Observation")} o " +
          s"JOIN ${fhirScan("Patient")} p ON o.subject.reference = 'Patient/' || p.id " +
          "ORDER BY obs_id"),
      (s, d) => {
        val o = Tables.fhir(s, "Observation", d)
        val p = Tables.fhir(s, "Patient", d)
        o.join(broadcast(p), o("subject.reference") === concat(lit("Patient/"), p("id")))
          .select(o("id").as("obs_id"), p("id").as("patient_id"), p("gender"))
          .orderBy("obs_id")
      }),

    // A11 — unnest repeating elements: one row per given name
    // (README.md:110-137; nested list name.given).
    QueryDef(
      "fhir_unnest",
      Some(
        "WITH n AS (SELECT id, unnest(name) AS nm FROM " +
          s"${fhirScan("Patient")}) " +
          "SELECT id, nm.family AS family, unnest(nm.given) AS given FROM n " +
          "ORDER BY id, family NULLS FIRST, given"),
      (s, d) =>
        Tables.fhir(s, "Patient", d)
          .select(col("id"), explode(col("name")).as("nm"))
          .select(col("id"), col("nm.family").as("family"), explode(col("nm.given")).as("given"))
          .orderBy(col("id"), col("family").asc_nulls_first, col("given"))),

    // A12 — extension extraction by url: geolocation latitude/longitude
    // nested two extensions deep under address (README.md:204-248).
    QueryDef(
      "fhir_extension_extract",
      Some(
        "SELECT id, geo.lat::DOUBLE AS lat, geo.lon::DOUBLE AS lon FROM (" +
          "SELECT id, {'lat': list_filter(g.extension, x -> x.url = 'latitude')[1].__valueDecimal_numeric, " +
          "'lon': list_filter(g.extension, x -> x.url = 'longitude')[1].__valueDecimal_numeric} AS geo " +
          s"FROM (SELECT id, unnest(address) AS a FROM ${fhirScan("Patient")}), " +
          "unnest(list_filter(a.extension, e -> e.url = 'http://hl7.org/fhir/StructureDefinition/geolocation')) AS t(g)) " +
          "WHERE geo.lat IS NOT NULL ORDER BY id, lat, lon"),
      (s, d) =>
        Tables.fhir(s, "Patient", d)
          .select(col("id"), explode(col("address")).as("a"))
          .select(col("id"),
            explode(expr(
              "filter(a.extension, e -> e.url = 'http://hl7.org/fhir/StructureDefinition/geolocation')"))
              .as("g"))
          .select(col("id"),
            expr("filter(g.extension, x -> x.url = 'latitude')[0].__valueDecimal_numeric").cast("double").as("lat"),
            expr("filter(g.extension, x -> x.url = 'longitude')[0].__valueDecimal_numeric").cast("double").as("lon"))
          .where(col("lat").isNotNull)
          .orderBy("id", "lat", "lon")),

    // A13 — SQL-on-FHIR v2 ViewDefinition evaluator (flattening subset):
    // the standard consumer of this columnar layout (README.md:301-309
    // motivates annotations as serving exactly this kind of analytic
    // view). One JSON ViewDefinition — resource-level columns, a forEach
    // over Patient.name, a forEachOrNull over telecom (sibling selects =
    // per-resource Cartesian product), first() on a repeating element and
    // where predicates (equality + exists()) — compiled to one declarative
    // Spark plan (getField projections + generate + filter; column-pruned
    // scan, no shuffle). The oracle re-derives the identical flattening in
    // SQL: unnest CTEs joined on id reproduce forEach (inner) and
    // forEachOrNull (left) semantics.
    QueryDef(
      "fhir_view_definition",
      Some(
        // Oracle mirrors the view's FULL where list: the
        // maritalStatus.text.exists() predicate must appear here too, or the
        // oracle only agrees while the golden data happens to contain no
        // female patient with a null maritalStatus.text.
        s"WITH p AS (SELECT * FROM ${fhirScan("Patient")} " +
          "WHERE gender = 'female' AND maritalStatus.\"text\" IS NOT NULL), " +
          "n AS (SELECT id, unnest(name) AS nm FROM p), " +
          "t AS (SELECT id, unnest(telecom) AS tc FROM p) " +
          "SELECT p.id AS patient_id, p.gender AS gender, p.birthDate AS birth_date, " +
          "p.maritalStatus.\"text\" AS marital_status, " +
          "n.nm.family AS family_name, n.nm.\"use\" AS name_use, n.nm.given[1] AS first_given, " +
          "t.tc.\"system\" AS telecom_system, t.tc.\"value\" AS telecom_value " +
          "FROM p JOIN n ON p.id = n.id LEFT JOIN t ON p.id = t.id " +
          "ORDER BY patient_id, family_name, name_use, first_given, telecom_system, telecom_value"),
      (s, d) => {
        val view = """{
          "name": "patient_demographics",
          "resource": "Patient",
          "select": [
            {"column": [
              {"path": "id", "name": "patient_id"},
              {"path": "gender", "name": "gender"},
              {"path": "birthDate", "name": "birth_date"},
              {"path": "maritalStatus.text", "name": "marital_status"}]},
            {"forEach": "name", "column": [
              {"path": "family", "name": "family_name"},
              {"path": "use", "name": "name_use"},
              {"path": "given.first()", "name": "first_given"}]},
            {"forEachOrNull": "telecom", "column": [
              {"path": "system", "name": "telecom_system"},
              {"path": "value", "name": "telecom_value"}]}
          ],
          "where": [
            {"path": "gender = 'female'"},
            {"path": "maritalStatus.text.exists()"}]
        }"""
        ViewDefinition.evaluate(Tables.fhir(s, "Patient", d), view)
          .orderBy("patient_id", "family_name", "name_use", "first_given",
            "telecom_system", "telecom_value")
      }),

    // A13b — ViewDefinition over Observation: exercises the evaluator
    // paths the Patient view cannot — NESTED select (forEach category →
    // forEach coding, two generate levels deep), a mid-path first()
    // (code.coding.first().code), navigation into an annotated Quantity,
    // and an equality where. Oracle: the same flattening as chained DuckDB
    // unnest CTEs.
    QueryDef(
      "fhir_view_definition_obs",
      Some(
        s"WITH o AS (SELECT * FROM ${fhirScan("Observation")} WHERE status = 'final'), " +
          "c AS (SELECT id, unnest(category) AS cat FROM o), " +
          "cc AS (SELECT id, unnest(cat.coding) AS cd FROM c) " +
          "SELECT o.id AS obs_id, o.status AS status, o.subject.reference AS subject_ref, " +
          "o.code.coding[1].code AS obs_code, " +
          "o.valueQuantity.\"value\" AS qty_value, o.valueQuantity.unit AS qty_unit, " +
          "cc.cd.code AS cat_code, cc.cd.\"system\" AS cat_system " +
          "FROM o JOIN cc ON o.id = cc.id " +
          "ORDER BY obs_id, cat_code, cat_system"),
      (s, d) => {
        val view = """{
          "name": "observation_categories",
          "resource": "Observation",
          "select": [
            {"column": [
              {"path": "id", "name": "obs_id"},
              {"path": "status", "name": "status"},
              {"path": "subject.reference", "name": "subject_ref"},
              {"path": "code.coding.first().code", "name": "obs_code"},
              {"path": "valueQuantity.value", "name": "qty_value"},
              {"path": "valueQuantity.unit", "name": "qty_unit"}]},
            {"forEach": "category", "select": [
              {"forEach": "coding", "column": [
                {"path": "code", "name": "cat_code"},
                {"path": "system", "name": "cat_system"}]}]}
          ],
          "where": [{"path": "status = 'final'"}]
        }"""
        ViewDefinition.evaluate(Tables.fhir(s, "Observation", d), view)
          .orderBy("obs_id", "cat_code", "cat_system")
      }),

    // A13c — ViewDefinition over ExplanationOfBenefit (the deepest golden
    // file, 66 leaf columns): the evaluator's path functions in one view —
    // getResourceKey(), getReferenceKey(Patient) on a literal relative
    // reference, a %constant in a comparison where predicate, exists() on
    // a REPEATING element (size > 0, not isNotNull), a string-literal
    // column, and unionAll (two branches per item: the item's own net
    // amount tagged 'net', plus one row per adjudication tagged by its
    // category code — identical column lists, rows concatenated). Oracle:
    // the same flattening as DuckDB unnest CTEs + UNION ALL.
    QueryDef(
      "fhir_view_definition_eob",
      Some(
        s"WITH e AS (SELECT * FROM ${fhirScan("ExplanationOfBenefit")} " +
          "WHERE created > '2000-01-01' AND len(item) > 0), " +
          "i AS (SELECT id, unnest(item) AS it FROM e), " +
          "u AS (SELECT id, it.\"sequence\" AS item_seq, it.productOrService.\"text\" AS service, " +
          "'net' AS amount_kind, CAST(it.net.__value_numeric AS DOUBLE) AS amount FROM i " +
          "UNION ALL " +
          "SELECT i.id, i.it.\"sequence\", i.it.productOrService.\"text\", " +
          "a.category.coding[1].code, CAST(a.amount.__value_numeric AS DOUBLE) " +
          "FROM i, unnest(i.it.adjudication) AS t(a)) " +
          "SELECT e.id AS eob_id, e.status AS status, " +
          "CASE WHEN starts_with(e.patient.reference, 'Patient/') " +
          "THEN substr(e.patient.reference, 9) END AS patient_key, " +
          "e.billablePeriod.\"start\" AS period_start, " +
          "e.\"type\".coding[1].code AS claim_type, " +
          "u.item_seq, u.service, u.amount_kind, u.amount " +
          "FROM e JOIN u ON e.id = u.id " +
          "ORDER BY eob_id, item_seq, amount_kind, amount"),
      (s, d) => {
        val view = """{
          "name": "eob_amounts",
          "resource": "ExplanationOfBenefit",
          "constant": [{"name": "sinceDate", "valueString": "2000-01-01"}],
          "select": [
            {"column": [
              {"path": "getResourceKey()", "name": "eob_id"},
              {"path": "status", "name": "status"},
              {"path": "patient.getReferenceKey(Patient)", "name": "patient_key"},
              {"path": "billablePeriod.start", "name": "period_start"},
              {"path": "type.coding.first().code", "name": "claim_type"}]},
            {"forEach": "item", "select": [
              {"column": [
                {"path": "sequence", "name": "item_seq"},
                {"path": "productOrService.text", "name": "service"}]},
              {"unionAll": [
                {"column": [
                  {"path": "'net'", "name": "amount_kind"},
                  {"path": "net.__value_numeric", "name": "amount"}]},
                {"forEach": "adjudication", "column": [
                  {"path": "category.coding.first().code", "name": "amount_kind"},
                  {"path": "amount.__value_numeric", "name": "amount"}]}]}]}
          ],
          "where": [
            {"path": "created > %sinceDate"},
            {"path": "item.exists()"}]
        }"""
        // decimal money columns surface as DOUBLE (the repo's Q.out6
        // posture — both engines cast the same decimal, so bit-identical)
        ViewDefinition.evaluate(Tables.fhir(s, "ExplanationOfBenefit", d), view)
          .withColumn("amount", col("amount").cast("double"))
          .orderBy("eob_id", "item_seq", "amount_kind", "amount")
      }),

    // A13d — ViewDefinition choice-type slice over the
    // golden Observation file: `ofType(Type)` steps address the layout's
    // flattened choice columns (README.md:139-172 — value[x] ships as
    // valueQuantity / valueCodeableConcept / valueString), including a
    // lowercase-primitive form (value.ofType(string)), ofType inside a
    // where path, ofType relative to a forEach element (component), plus
    // the new where functions empty() and postfix not(). forEachOrNull
    // keeps the 89 component-less observations as null-component rows
    // (oracle: LEFT JOIN the unnested components).
    QueryDef(
      "fhir_view_definition_choice",
      Some(
        s"WITH o AS (SELECT * FROM ${fhirScan("Observation")} " +
          "WHERE valueString IS NULL AND len(meta.profile) > 0), " +
          "base AS (SELECT id AS obs_id, valueQuantity.\"value\" AS qty_value, " +
          "valueQuantity.unit AS qty_unit, " +
          "valueCodeableConcept.coding[1].code AS val_code, " +
          "valueString AS val_str FROM o), " +
          "c AS (SELECT id, unnest(component) AS comp FROM o), " +
          "cr AS (SELECT id, comp.code.coding[1].code AS comp_code, " +
          "comp.valueQuantity.\"value\" AS comp_qty, " +
          "comp.valueCodeableConcept.\"text\" AS comp_text FROM c) " +
          "SELECT b.obs_id, b.qty_value, b.qty_unit, b.val_code, b.val_str, " +
          "cr.comp_code, cr.comp_qty, cr.comp_text " +
          "FROM base b LEFT JOIN cr ON b.obs_id = cr.id " +
          "ORDER BY obs_id, comp_code, comp_qty, comp_text"),
      (s, d) => {
        val view = """{
          "name": "observation_choice_values",
          "resource": "Observation",
          "select": [
            {"column": [
              {"path": "getResourceKey()", "name": "obs_id"},
              {"path": "value.ofType(Quantity).value", "name": "qty_value"},
              {"path": "value.ofType(Quantity).unit", "name": "qty_unit"},
              {"path": "value.ofType(CodeableConcept).coding.first().code", "name": "val_code"},
              {"path": "value.ofType(string)", "name": "val_str"}]},
            {"forEachOrNull": "component", "select": [
              {"column": [
                {"path": "code.coding.first().code", "name": "comp_code"},
                {"path": "value.ofType(Quantity).value", "name": "comp_qty"},
                {"path": "value.ofType(CodeableConcept).text", "name": "comp_text"}]}]}
          ],
          "where": [
            {"path": "value.ofType(string).exists().not()"},
            {"path": "meta.profile.empty().not()"}]
        }"""
        ViewDefinition.evaluate(Tables.fhir(s, "Observation", d), view)
          .orderBy("obs_id", "comp_code", "comp_qty", "comp_text")
      })
  )
}
