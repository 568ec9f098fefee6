package graft.fhir

import graft.{SparkEntry, SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-invariants of the FhirGenScale replication: the
  * replicated corpus must preserve what the rehearsal relies on — closed
  * replica worlds (reference integrity, so join fan-out scales EXACTLY
  * K×), conformance-clean identity rewrites, and per-table cardinality.
  * Replicated-run VALUES are never compared to the golden-path DuckDB
  * oracles (their paths are static golden literals); these invariants are
  * the correctness statement at scale.
  */
class FhirScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val K = 5
  // FHIR tables resolve through Tables.fhirDir: the golden files where
  // present, else the staged NDJSON fixture
  private val base = SparkTestBase.sf
  private lazy val dst = {
    val d = SparkTestBase.tempDir("graft_fhir_scale_").toString
    FhirGenScale.writeScaled(spark, d, K, base)
    d
  }

  test("replication: K× rows per table, ids unique, references resolve within replicas") {
    Seq("Patient", "Observation", "ExplanationOfBenefit").foreach { t =>
      val scaled = spark.read.parquet(s"$dst/fhir/$t.parquet")
      val baseRows = Tables.fhir(spark, t, base)
      assert(scaled.count() == K * baseRows.count(), s"$t row count")
      assert(scaled.select("id").distinct().count() == scaled.count(), s"$t id uniqueness")
    }
    // closed world: every suffixed reference resolves to exactly one patient
    val p = spark.read.parquet(s"$dst/fhir/Patient.parquet").select(col("id"))
    val o = spark.read.parquet(s"$dst/fhir/Observation.parquet")
      .select(col("subject.reference").as("ref"))
    val unresolved = o.join(p, o("ref") === concat(lit("Patient/"), p("id")), "left_anti")
    assert(unresolved.count() == 0, "dangling subject.reference after replication")
  }

  test("fhir_reference_resolve and fhir_patient_timeline scale output exactly K×") {
    Seq("fhir_reference_resolve", "fhir_patient_timeline").foreach { key =>
      val n0 = SparkEntry.queries(key)(spark, base).count()
      val nK = SparkEntry.queries(key)(spark, dst).count()
      assert(nK == K * n0, s"$key: $nK != $K × $n0 — replication changed join fan-out")
    }
  }

  test("fhir_conformance_check: identity rewrite stays conformant at scale") {
    val golden = SparkEntry.queries("fhir_conformance_check")(spark, base)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(3), r.getLong(4))).toMap
    SparkEntry.queries("fhir_conformance_check")(spark, dst).collect().foreach { r =>
      val keyF = (r.getString(0), r.getString(1))
      val (nc0, nb0) = golden(keyF)
      assert(r.getLong(3) == K * nc0, s"$keyF n_checked must scale K×")
      assert(r.getLong(4) == K * nb0, s"$keyF n_bad must scale K× (suffix broke a format regex?)")
    }
  }
}
