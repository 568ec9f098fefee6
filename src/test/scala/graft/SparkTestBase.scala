package graft

import graft.fhir.{FhirAnnotations, FhirCodec, FhirSchema, FhirWriter}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** One shared session for the whole test run (one session per JVM keeps
  * `sbt test` near the JVM-startup floor), built by [[Session]] so specs
  * pin plans under the posture the bench times.
  */
object SparkTestBase {
  lazy val spark: SparkSession = Session()
  val sf: String = "/root/testdata/sf0.001"

  /** The spec's own golden Parquet files (`Tables.goldenDir`) are present. */
  lazy val goldenPresent: Boolean = Files.isDirectory(Paths.get(Tables.goldenDir))

  /** Dataset dir for the FHIR keys and tests. With the golden files present
    * it is [[sf]], so FHIR tables resolve to the golden files. Without them
    * it is a per-JVM dir in the FhirGenScale layout: a symlink to every
    * [[sf]] table plus `fhir/<Resource>.parquet`, ingested from the
    * committed NDJSON fixture (FIXTURES.md §4).
    */
  lazy val fhirSf: String = if (goldenPresent) sf else ingestFixture()

  /** A FHIR resource table as the FHIR keys see it over [[fhirSf]]. */
  def golden(name: String): DataFrame = Tables.golden(spark, name, fhirSf)

  /** Cancels the calling test unless the golden files are present: for
    * claims about the spec's own bytes, which no fixture stands in for.
    */
  def assumeGolden(): Unit = org.scalatest.Assertions.assume(goldenPresent,
    s"checks the spec's own golden files; Tables.goldenDir (${Tables.goldenDir}) is absent")

  /** A fresh dir under `java.io.tmpdir`, deleted at JVM exit without
    * following symlinks (the rule [[fhirSf]]'s fixture dir follows).
    */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    sys.addShutdownHook(deleteTree(d))
    d
  }

  /** The paths the golden files carry a `__<leaf>_numeric` twin on
    * (FIXTURES.md §1); they carry no range or canonical annotation.
    */
  private val numericPaths = Seq(
    "Patient" -> Seq("extension.valueDecimal", "address.extension.extension.valueDecimal"),
    "Observation" -> Seq("valueQuantity.value", "component.valueQuantity.value"),
    "ExplanationOfBenefit" -> Seq(
      "item.net.value", "item.adjudication.amount.value",
      "payment.amount.value", "total.amount.value"))

  /** Ingests the fixture through the program's own path (derive → encode →
    * annotate → write) and removes the dir when the JVM exits.
    */
  private def ingestFixture(): String = {
    val dir = Paths.get(sys.props("java.io.tmpdir"), s"graft_fhir_fixture_${ProcessHandle.current().pid()}")
    deleteTree(dir)
    sys.addShutdownHook(deleteTree(dir))
    Files.createDirectories(dir.resolve("fhir"))
    new java.io.File(sf).listFiles((_, n) => n.endsWith(".parquet")).foreach { f =>
      Files.createSymbolicLink(dir.resolve(f.getName), f.toPath.toAbsolutePath)
    }
    numericPaths.foreach { case (r, paths) =>
      val ndjson = Paths.get(getClass.getResource(s"/fhir/$r.ndjson").toURI).toString
      val text = spark.read.textFile(ndjson)
      val enc = FhirCodec.encode(spark, text, FhirSchema.deriveSchema(spark, text))
      FhirWriter.write(paths.foldLeft(enc)(FhirAnnotations.annotateNumeric), s"$dir/fhir/$r.parquet")
    }
    dir.toString
  }

  /** Deletes `root` and everything under it without following symlinks, so
    * the linked [[sf]] tables are never touched.
    */
  private def deleteTree(root: Path): Unit =
    if (Files.exists(root, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}
