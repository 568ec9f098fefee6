package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins the read-cache eviction discipline — fingerprint-keyed entries for
  * a (session, dir, table), and staged-artifact entries for a (session,
  * dataDir), must be SUPERSEDED on regeneration, not accumulated, while
  * still serving fresh data — and the marker rule of `Tables.stage`.
  */
class CoreCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def entriesFor(pred: String => Boolean): Int = {
    import scala.jdk.CollectionConverters._
    Tables.readCache.keySet.asScala.count(k => pred(k._2))
  }

  test("Tables.t: in-place regeneration serves fresh data and evicts the stale entry") {
    val sp2 = spark
    import sp2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_spec").toString
    def regen(rows: Seq[Long]): Unit = {
      rows.toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$dir/tbl.parquet")
      // fingerprint uses (name, size, mtime); force a distinct mtime so a
      // same-millisecond rewrite cannot alias the previous generation
      val f = new java.io.File(s"$dir/tbl.parquet")
      f.listFiles().foreach(p => p.setLastModified(p.lastModified() + 2000))
    }
    regen(Seq(1L, 2L, 3L))
    assert(Tables.t(spark, dir, "tbl").count() == 3)
    val after1 = entriesFor(k => k.startsWith(dir + "|") && k.endsWith("#tbl"))
    regen(Seq(1L, 2L, 3L, 4L, 5L))
    assert(Tables.t(spark, dir, "tbl").count() == 5, "stale listing served after in-place regen")
    val after2 = entriesFor(k => k.startsWith(dir + "|") && k.endsWith("#tbl"))
    assert(after1 == 1 && after2 == 1,
      s"superseded fingerprint entry must be evicted, not accumulated: $after1 -> $after2")
  }

  test("Tables.staged: marker-fingerprint change evicts the superseded reader") {
    val sp2 = spark
    import sp2.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft_staged_spec").toString + "/data"
    Seq(10L).toDF("v").write.mode("overwrite").parquet(dataDir)
    assert(Tables.staged(spark, dataDir, "fpA").count() == 1)
    Seq(10L, 11L).toDF("v").write.mode("overwrite").parquet(dataDir)
    assert(Tables.staged(spark, dataDir, "fpB").count() == 2, "stale staged reader served")
    val n = entriesFor(k => k.startsWith(dataDir + "@"))
    assert(n == 1, s"superseded staged entry must be evicted: $n entries for $dataDir")
    // same fingerprint hits the cache (no re-read): the SAME DataFrame object
    assert(Tables.staged(spark, dataDir, "fpB") eq Tables.staged(spark, dataDir, "fpB"))
  }

  test("Tables.stage: a hit skips build; a new fp rebuilds clean; a failed build leaves no marker") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_stage_spec").toString + "/layout"
    val marker = Paths.get(dir, "_done")
    var builds = 0
    def stage(fp: String, file: String): String = Tables.stage(dir, fp) {
      builds += 1
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, file), fp)
    }
    assert(stage("fpA", "a.txt") == "fpA")
    assert(stage("fpA", "a.txt") == "fpA")
    assert(builds == 1, "a marker holding the same fp must skip build")
    assert(Files.readString(marker) == "fpA")

    stage("fpB", "b.txt")
    assert(builds == 2, "a changed fp must rebuild")
    assert(!Files.exists(Paths.get(dir, "a.txt")), "the superseded layout's files must be removed")
    assert(Files.exists(Paths.get(dir, "b.txt")) && Files.readString(marker) == "fpB")

    val err = intercept[IllegalStateException] {
      Tables.stage(dir, "fpC") {
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, "partial.txt"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage == "build failed")
    assert(!Files.exists(marker), "a failed build must leave no marker")
    stage("fpC", "c.txt")
    assert(builds == 3, "the call after a failed build must rebuild")
    assert(!Files.exists(Paths.get(dir, "partial.txt")) && Files.readString(marker) == "fpC")
  }
}
