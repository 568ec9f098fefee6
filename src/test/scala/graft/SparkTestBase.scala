package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fhir.FhirAnnotations

/** One shared session for the whole test run (one session per JVM keeps
  * `sbt test` near the JVM-startup floor), built by [[Session]] so specs
  * pin plans under the posture the bench times.
  */
object SparkTestBase {
  lazy val spark: SparkSession = Session()
  val sf: String = "/root/testdata/sf0.001"

  /** The spec's own golden Parquet files (`Tables.goldenDir`) are present. */
  lazy val goldenPresent: Boolean = Files.isDirectory(Paths.get(Tables.goldenDir))

  /** A FHIR resource table as the FHIR keys see it over [[sf]]
    * (`Tables.fhirDir`: the golden files where present, else the staged
    * NDJSON fixture).
    */
  def fhir(name: String): DataFrame = Tables.fhir(spark, name, sf)

  /** Cancels the calling test unless the golden files are present: for
    * claims about the spec's own bytes, which no fixture stands in for.
    */
  def assumeGolden(): Unit = org.scalatest.Assertions.assume(goldenPresent,
    s"checks the spec's own golden files; Tables.goldenDir (${Tables.goldenDir}) is absent")

  /** The annotations the benchmark ingest writes, per resource: (kind, path). */
  val ingestAnnotations: Map[String, Seq[(String, String)]] = Map(
    "Patient" -> Seq(
      "range" -> "birthDate",
      "numeric" -> "extension.valueDecimal",
      "numeric" -> "address.extension.extension.valueDecimal"),
    "Observation" -> Seq(
      "range" -> "effectiveDateTime",
      "numeric" -> "valueQuantity.value",
      "numeric" -> "component.valueQuantity.value",
      "canonical" -> "valueQuantity"),
    "ExplanationOfBenefit" -> Seq(
      "range" -> "billablePeriod.start",
      "numeric" -> "item.net.value",
      "numeric" -> "item.adjudication.amount.value",
      "numeric" -> "payment.amount.value",
      "numeric" -> "total.amount.value"))

  /** `df` with each (kind, path) annotation of `steps`, in order. */
  def annotate(df: DataFrame, steps: Seq[(String, String)]): DataFrame = steps.foldLeft(df) {
    case (d, ("range", p)) => FhirAnnotations.annotateRange(d, p)
    case (d, ("numeric", p)) => FhirAnnotations.annotateNumeric(d, p)
    case (d, (_, p)) => FhirAnnotations.canonicalize(d, p)
  }

  /** [[Tables.tempDir]] as a path. */
  def tempDir(prefix: String): Path = Paths.get(Tables.tempDir(prefix))
}
