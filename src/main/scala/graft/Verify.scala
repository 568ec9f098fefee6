package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: run only these keys (local iteration; the driver
    // always passes exactly <sfDir> <outDir>).
    val only = args.drop(2).toSet
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes every control char, so a tab or CR in an oracle
    // cannot make the driver's json.load fail and zero the correctness result
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(oracleSql(spark, sfDir).asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** [[SparkEntry.oracleSql]] resolved for `sfDir`, so Spark and DuckDB
    * read the same files:
    *   - each FHIR table's golden path (the form `Tables.fhirScan` writes)
    *     becomes the table `Tables.fhirDir` resolves; where the golden files
    *     exist nothing changes;
    *   - each staged layout's dataset-free path (the form
    *     `Tables.stagedPath` writes) becomes its `Tables.stagingDir` for
    *     `sfDir`.
    * Both run in one pass over the declared SQL, which names no dataset, so
    * a resolved path is never rewritten again. A Spark-written table is a
    * dir of part files, which DuckDB reads through a glob.
    */
  def oracleSql(spark: SparkSession, sfDir: String): Map[String, String] = {
    val path = (java.util.regex.Pattern.quote(Tables.goldenDir) + """/(\w+)\.parquet|""" +
      Tables.stagedPathForm).r
    SparkEntry.oracleSql.map { case (k, sql) =>
      k -> path.replaceAllIn(sql, m => Regex.quoteReplacement(
        if (m.group(1) == null) s"${Tables.stagingDir(m.group(2), sfDir)}/"
        else {
          val p = s"${Tables.fhirDir(spark, sfDir, m.group(1))}/${m.group(1)}.parquet"
          if (Files.isDirectory(Paths.get(p))) s"$p/*.parquet" else p
        }))
    }
  }
}
