package graft.fhir

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-on-FHIR v2 ViewDefinition evaluator (flattening subset):
  * evaluation over the FHIR tables of `SparkTestBase.fhir` plus
  * synthetic coverage of the semantics those tables cannot differentiate
  * (forEachOrNull on a missing element, where-filtering, Cartesian
  * sibling selects).
  */
class ViewDefinitionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val syntheticJson = Seq(
    """{"resourceType":"Patient","id":"p1","gender":"female","name":[{"family":"A","given":["a1","a2"]},{"family":"B","given":["b1"]}],"telecom":[{"system":"phone","value":"1"},{"system":"email","value":"2"}]}""",
    """{"resourceType":"Patient","id":"p2","gender":"male","name":[{"family":"C","given":["c1"]}]}""",
    """{"resourceType":"Patient","id":"p3","gender":"female","name":[{"family":"D","given":["d1"]}]}""")

  private def synth = {
    import spark.implicits._
    spark.read.json(spark.createDataset(syntheticJson))
  }

  test("golden Patient: flattening view matches a hand-built equivalent plan") {
    val view = """{
      "resource": "Patient",
      "select": [
        {"column": [{"path": "id", "name": "patient_id"},
                     {"path": "maritalStatus.text", "name": "marital"}]},
        {"forEach": "name", "column": [
          {"path": "family", "name": "family"},
          {"path": "given.first()", "name": "first_given"}]}
      ],
      "where": [{"path": "gender = 'female'"}]
    }"""
    val got = ViewDefinition.evaluate(SparkTestBase.fhir("Patient"), view)
      .orderBy("patient_id", "family")
    val expected = SparkTestBase.fhir("Patient")
      .where(col("gender") === "female")
      .select(col("id").as("patient_id"),
        col("maritalStatus.text").as("marital"), explode(col("name")).as("nm"))
      .select(col("patient_id"), col("marital"),
        col("nm.family").as("family"), element_at(col("nm.given"), 1).as("first_given"))
      .orderBy("patient_id", "family")
    assert(got.schema.fieldNames.toSeq ==
      Seq("patient_id", "marital", "family", "first_given"))
    assert(got.collect().toSeq == expected.collect().toSeq)
    assert(got.count() > 0)
  }

  test("forEachOrNull keeps resources missing the element; forEach drops them") {
    val viewOrNull = """{
      "resource": "Patient",
      "select": [
        {"column": [{"path": "id", "name": "id"}]},
        {"forEachOrNull": "telecom", "column": [{"path": "system", "name": "sys"}]}
      ]
    }"""
    val rowsOrNull = ViewDefinition.evaluate(synth, viewOrNull)
      .orderBy("id", "sys").collect()
    // p1 contributes 2 telecom rows; p2/p3 (no telecom) keep one null row each
    assert(rowsOrNull.map(r => (r.getString(0), Option(r.getString(1)))).toSeq ==
      Seq(("p1", Some("email")), ("p1", Some("phone")), ("p2", None), ("p3", None)))
    val viewInner = viewOrNull.replace("forEachOrNull", "forEach")
    val rowsInner = ViewDefinition.evaluate(synth, viewInner).collect()
    assert(rowsInner.map(_.getString(0)).sorted.toSeq == Seq("p1", "p1"))
  }

  test("sibling forEach selects compose as the per-resource Cartesian product") {
    val view = """{
      "resource": "Patient",
      "select": [
        {"column": [{"path": "id", "name": "id"}]},
        {"forEach": "name", "column": [{"path": "family", "name": "family"}]},
        {"forEach": "telecom", "column": [{"path": "value", "name": "tv"}]}
      ]
    }"""
    val rows = ViewDefinition.evaluate(synth, view).collect()
    // p1: 2 names x 2 telecoms = 4 rows; p2/p3 have no telecom -> dropped
    assert(rows.length == 4)
    assert(rows.forall(_.getString(0) == "p1"))
  }

  test("where: exists() and equality filter at resource level") {
    val view = """{
      "resource": "Patient",
      "select": [{"column": [{"path": "id", "name": "id"}]}],
      "where": [{"path": "telecom.exists()"}, {"path": "gender = 'female'"}]
    }"""
    val rows = ViewDefinition.evaluate(synth, view).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("p1"))
  }

  // --- unionAll, constants, key functions, comparisons ---

  private val synth2Json = Seq(
    """{"resourceType":"Patient","id":"q1","gender":"female","score":5,"telecom":[{"system":"phone","value":"1"}],"name":[{"family":"A"}],"managingOrganization":{"reference":"Organization/o1"}}""",
    """{"resourceType":"Patient","id":"q2","gender":"female","score":9,"telecom":[],"name":[{"family":"B"}],"managingOrganization":{"reference":"Practitioner/x9"}}""",
    """{"resourceType":"Patient","id":"q3","gender":"male","score":7,"name":[{"family":"C"}],"managingOrganization":{"reference":"urn:uuid:abc"}}""")

  private def synth2 = {
    import spark.implicits._
    spark.read.json(spark.createDataset(synth2Json))
  }

  test("exists() on a repeating element is non-emptiness, not isNotNull") {
    val view = """{
      "resource": "Patient",
      "select": [{"column": [{"path": "id", "name": "id"}]}],
      "where": [{"path": "telecom.exists()"}]
    }"""
    // q2's telecom is [] — an empty COLLECTION is exists()=false even
    // though the array value itself is not null
    val rows = ViewDefinition.evaluate(synth2, view).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("q1"))
  }

  test("comparison where predicates with a %constant operand") {
    val view = """{
      "resource": "Patient",
      "constant": [{"name": "minScore", "valueInteger": 6}],
      "select": [{"column": [{"path": "id", "name": "id"}]}],
      "where": [{"path": "score >= %minScore"}, {"path": "id != 'q3'"}]
    }"""
    val rows = ViewDefinition.evaluate(synth2, view).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("q2"))
    val e = intercept[IllegalArgumentException] {
      ViewDefinition.evaluate(synth2,
        """{"resource":"Patient","select":[{"column":[{"path":"id","name":"id"}]}],"where":[{"path":"score >= %nope"}]}""")
    }
    assert(e.getMessage.contains("undefined constant"))
  }

  test("getResourceKey() and getReferenceKey(Type?) column paths") {
    val view = """{
      "resource": "Patient",
      "select": [{"column": [
        {"path": "getResourceKey()", "name": "rk"},
        {"path": "managingOrganization.getReferenceKey(Organization)", "name": "org_key"},
        {"path": "managingOrganization.getReferenceKey()", "name": "any_key"}]}]
    }"""
    val rows = ViewDefinition.evaluate(synth2, view).orderBy("rk").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
    assert(rows.toSeq == Seq(
      ("q1", Some("o1"), Some("o1")),      // matching type
      ("q2", None, Some("x9")),            // other type: typed null, untyped id
      ("q3", None, None)))                 // urn form: no relative key at all
  }

  test("unionAll: branch rows concatenate within the row context; mismatched branches rejected") {
    val view = """{
      "resource": "Patient",
      "select": [
        {"column": [{"path": "id", "name": "id"}]},
        {"unionAll": [
          {"forEach": "name", "column": [
            {"path": "'name'", "name": "kind"},
            {"path": "family", "name": "val"}]},
          {"forEach": "telecom", "column": [
            {"path": "'telecom'", "name": "kind"},
            {"path": "value", "name": "val"}]}]}
      ]
    }"""
    val rows = ViewDefinition.evaluate(synth2, view).orderBy("id", "kind").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("q1", "name", "A"), ("q1", "telecom", "1"),
      ("q2", "name", "B"),                 // telecom [] contributes nothing
      ("q3", "name", "C")))
    assert(ViewDefinition.evaluate(synth2, view).schema.fieldNames.toSeq ==
      Seq("id", "kind", "val"))
    val bad = view.replace("""{"path": "value", "name": "val"}""",
      """{"path": "value", "name": "other"}""")
    val e = intercept[IllegalArgumentException](ViewDefinition.evaluate(synth2, bad))
    assert(e.getMessage.contains("unionAll"))
  }

  test("where path traversing a repeating element is rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      ViewDefinition.evaluate(synth2,
        """{"resource":"Patient","select":[{"column":[{"path":"id","name":"id"}]}],"where":[{"path":"name.family = 'A'"}]}""")
    }
    assert(e.getMessage.contains("repeating element"))
  }

  test("nested select recurses: forEach category -> forEach coding on golden Observation") {
    val view = """{
      "resource": "Observation",
      "select": [
        {"column": [{"path": "id", "name": "obs_id"},
                     {"path": "code.coding.first().code", "name": "obs_code"}]},
        {"forEach": "category", "select": [
          {"forEach": "coding", "column": [{"path": "code", "name": "cat_code"}]}]}
      ]
    }"""
    val got = ViewDefinition.evaluate(SparkTestBase.fhir("Observation"), view)
      .orderBy("obs_id", "cat_code")
    val expected = SparkTestBase.fhir("Observation")
      .select(col("id").as("obs_id"),
        element_at(col("code.coding"), 1).getField("code").as("obs_code"),
        explode(col("category")).as("cat"))
      .select(col("obs_id"), col("obs_code"), explode(col("cat.coding")).as("cd"))
      .select(col("obs_id"), col("obs_code"), col("cd.code").as("cat_code"))
      .orderBy("obs_id", "cat_code")
    assert(got.schema.fieldNames.toSeq == Seq("obs_id", "obs_code", "cat_code"))
    assert(got.collect().toSeq == expected.collect().toSeq)
    assert(got.count() > 0)
  }

  test("ofType() addresses the flattened choice column, incl. lowercase primitives") {
    val view = """{
      "resource": "Observation",
      "select": [
        {"column": [
          {"path": "id", "name": "obs_id"},
          {"path": "value.ofType(Quantity).value", "name": "qty"},
          {"path": "value.ofType(CodeableConcept).coding.first().code", "name": "vcode"},
          {"path": "value.ofType(string)", "name": "vstr"}]}
      ]
    }"""
    val got = ViewDefinition.evaluate(SparkTestBase.fhir("Observation"), view)
      .orderBy("obs_id")
    val expected = SparkTestBase.fhir("Observation")
      .select(col("id").as("obs_id"),
        col("valueQuantity.value").as("qty"),
        element_at(col("valueCodeableConcept.coding"), 1).getField("code").as("vcode"),
        col("valueString").as("vstr"))
      .orderBy("obs_id")
    assert(got.collect().toSeq == expected.collect().toSeq)
    assert(got.count() > 0)
  }

  test("ofType() relative to a forEach element navigates the component choice") {
    val view = """{
      "resource": "Observation",
      "select": [
        {"column": [{"path": "id", "name": "obs_id"}]},
        {"forEach": "component", "column": [
          {"path": "value.ofType(Quantity).value", "name": "cq"},
          {"path": "value.ofType(CodeableConcept).text", "name": "ct"}]}
      ]
    }"""
    val got = ViewDefinition.evaluate(SparkTestBase.fhir("Observation"), view)
    // BP readings carry Quantity values; survey answers (golden files) and
    // posture (fixture) carry CodeableConcept text — both arms must be
    // populated
    assert(got.where(col("cq").isNotNull).count() > 0)
    assert(got.where(col("ct").isNotNull).count() > 0)
  }

  test("ofType() with no preceding choice name is rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      ViewDefinition.evaluate(synth,
        """{"resource":"Patient","select":[{"column":[{"path":"ofType(string)","name":"x"}]}]}""")
    }
    assert(e.getMessage.contains("ofType"))
  }

  test("empty() and not(): missing scalar, null array, empty array, populated array") {
    // p1 telecom populated, p2/p3 telecom missing (null array after json
    // read); synth2-style empty arrays are covered by the exists() test —
    // here the composition table: empty() == !exists(), .not() flips both
    val keepEmpty = ViewDefinition.evaluate(synth,
      """{"resource":"Patient","select":[{"column":[{"path":"id","name":"id"}]}],"where":[{"path":"telecom.empty()"}]}""")
    assert(keepEmpty.collect().map(_.getString(0)).sorted.toSeq == Seq("p2", "p3"))
    val keepPresent = ViewDefinition.evaluate(synth,
      """{"resource":"Patient","select":[{"column":[{"path":"id","name":"id"}]}],"where":[{"path":"telecom.empty().not()"}]}""")
    assert(keepPresent.collect().map(_.getString(0)).toSeq == Seq("p1"))
    val notExists = ViewDefinition.evaluate(synth,
      """{"resource":"Patient","select":[{"column":[{"path":"id","name":"id"}]}],"where":[{"path":"telecom.exists().not()"}]}""")
    assert(notExists.collect().map(_.getString(0)).sorted.toSeq == Seq("p2", "p3"))
    // scalar: gender present on all three -> empty() keeps none
    val scalarEmpty = ViewDefinition.evaluate(synth,
      """{"resource":"Patient","select":[{"column":[{"path":"id","name":"id"}]}],"where":[{"path":"gender.empty()"}]}""")
    assert(scalarEmpty.count() == 0)
  }

  test("not() after anything but exists()/empty() is rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      ViewDefinition.evaluate(synth,
        """{"resource":"Patient","select":[{"column":[{"path":"id","name":"id"}]}],"where":[{"path":"gender.not()"}]}""")
    }
    assert(e.getMessage.contains("not()"))
  }

  test("view plan is scan-shaped: column-pruned, no shuffle") {
    val view = """{
      "resource": "Patient",
      "select": [
        {"column": [{"path": "id", "name": "patient_id"}]},
        {"forEach": "name", "column": [{"path": "family", "name": "family"}]}
      ],
      "where": [{"path": "gender = 'female'"}]
    }"""
    val plan = ViewDefinition.evaluate(SparkTestBase.fhir("Patient"), view)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"flattening view must not shuffle:\n$plan")
    // pruned scan: the wide Patient schema must not be read whole — the scan
    // ReadSchema should mention name but not e.g. address or extension
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("address"), s"scan not column-pruned: $read")
  }
}
