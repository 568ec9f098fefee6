package graft.fhir

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** FHIR scale-rehearsal generator: replicates the reference's golden
  * resources K× so the fhir_* keys can run through the
  * same decade rehearsals as the relational/LLM keys — the reference's own
  * query-acceleration premise (README.md:301-309) otherwise never executes
  * above its 100-row examples.
  *
  * The GenScale discipline, adapted to string identity (the golden ids are
  * Synthea-shaped uuids, not integers): every resource id gets a `-<rep>`
  * suffix — which keeps the FHIR `id` value-format regex satisfied
  * ([A-Za-z0-9\-\.]{1,64}, so conformance counts stay zero) — and every
  * patient reference (`Observation.subject.reference`,
  * `ExplanationOfBenefit.patient.reference`, both of the form
  * 'Patient/<uuid>' per README.md:181-189) gets the same suffix, so
  * referential integrity and per-patient join fan-out are preserved
  * EXACTLY: each replica is a closed world. All other values (dates,
  * quantities, codings, extensions) repeat verbatim — value distributions
  * are the golden ones, only identity shifts.
  *
  * Layout: `<dst>/fhir/{Patient,Observation,ExplanationOfBenefit}.parquet`
  * (Spark-written, so scans parallelize across part files), plus symlinks
  * to every base table of `<base>` in `<dst>` so the bench anchors (and any
  * mixed key) resolve against the same dir. Never compare replicated-run
  * VALUES to the golden-path DuckDB oracles — the oracle paths are static
  * golden literals; FhirScaleSpec asserts the scale-invariants instead.
  */
object FhirGenScale {

  /** Replicate one resource table K×, suffixing `id` and, when present, the
    * given struct-typed reference columns' `reference` field.
    */
  private[fhir] def replicate(
      s: SparkSession, name: String, k: Int, refCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val df = Tables.golden(s, name)
    val reps = df.withColumn("__rep", explode(lit((0 until k).toArray)))
    val suffixed = refCols.foldLeft(
      reps.withColumn("id", concat(col("id"), lit("-"), col("__rep")))) { (acc, rc) =>
      acc.withColumn(rc, col(rc).withField("reference",
        concat(col(s"$rc.reference"), lit("-"), col("__rep"))))
    }
    suffixed.select(df.columns.map(col).toIndexedSeq: _*)
  }

  def writeScaled(s: SparkSession, dst: String, k: Int): Unit = {
    Seq(
      ("Patient", Seq.empty[String]),
      ("Observation", Seq("subject")),
      ("ExplanationOfBenefit", Seq("patient"))).foreach { case (name, refs) =>
      replicate(s, name, k, refs)
        .write.mode("overwrite").parquet(s"$dst/fhir/$name.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val dst = args.lift(0).getOrElse("target/testdata_fhir_a")
    val k = args.lift(1).map(_.toInt).getOrElse(100)
    val base = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session()
    writeScaled(spark, dst, k)
    // base-table symlinks: the bench anchors read lineitem/orders/customer/
    // nation from the same SF dir the fhir keys are pointed at
    val dstPath = java.nio.file.Paths.get(dst)
    new java.io.File(base).listFiles((_, n) => n.endsWith(".parquet")).foreach { f =>
      val link = dstPath.resolve(f.getName)
      if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
    }
    spark.stop()
    println(s"""{"gen":"fhir-ok","dst":"$dst","k":$k,"base":"$base"}""")
  }
}
