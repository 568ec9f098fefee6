package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins the [[Memo]] lifecycle — a slot serves a hit as the same object,
  * holds one entry whatever the number of regenerations, serves fresh data
  * after one, and runs the replaced entry's release exactly once — and the
  * marker rule of `Tables.stage`.
  */
class CoreCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The entries the memo holds for this session under slots starting `prefix`. */
  private def entries(prefix: String): Map[String, String] =
    Memo.fingerprints(spark).filter(_._1.startsWith(prefix))

  test("Tables.t: in-place regeneration serves fresh data and evicts the stale entry") {
    val sp2 = spark
    import sp2.implicits._
    val dir = SparkTestBase.tempDir("graft_cache_spec").toString
    def regen(rows: Seq[Long]): Unit = {
      rows.toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$dir/tbl.parquet")
      // fingerprint uses (name, size, mtime); force a distinct mtime so a
      // same-millisecond rewrite cannot alias the previous generation
      val f = new java.io.File(s"$dir/tbl.parquet")
      f.listFiles().foreach(p => p.setLastModified(p.lastModified() + 2000))
    }
    regen(Seq(1L, 2L, 3L))
    assert(Tables.t(spark, dir, "tbl").count() == 3)
    val after1 = entries(dir)
    regen(Seq(1L, 2L, 3L, 4L, 5L))
    assert(Tables.t(spark, dir, "tbl").count() == 5, "stale listing served after in-place regen")
    val after2 = entries(dir)
    assert(after1.size == 1 && after2.size == 1,
      s"superseded fingerprint entry must be replaced, not accumulated: $after1 -> $after2")
    assert(after2.values.head == Tables.fingerprint(dir, "tbl") && after1 != after2)
    // same fingerprint hits the memo (no re-read): the SAME DataFrame object
    assert(Tables.t(spark, dir, "tbl") eq Tables.t(spark, dir, "tbl"))
  }

  test("Tables.staged: marker-fingerprint change evicts the superseded reader") {
    val sp2 = spark
    import sp2.implicits._
    val dataDir = SparkTestBase.tempDir("graft_staged_spec").toString + "/data"
    Seq(10L).toDF("v").write.mode("overwrite").parquet(dataDir)
    assert(Tables.staged(spark, dataDir, "fpA").count() == 1)
    Seq(10L, 11L).toDF("v").write.mode("overwrite").parquet(dataDir)
    assert(Tables.staged(spark, dataDir, "fpB").count() == 2, "stale staged reader served")
    val n = entries(dataDir)
    assert(n == Map(dataDir -> "fpB"), s"superseded staged entry must be replaced: $n")
    // same fingerprint hits the memo (no re-read): the SAME DataFrame object
    assert(Tables.staged(spark, dataDir, "fpB") eq Tables.staged(spark, dataDir, "fpB"))
  }

  test("Memo: get with a new fp and put each run the replaced entry's release exactly once") {
    val slot = "memo_spec:release"
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val release = (v: String) => { released += v; () }
    var builds = 0
    def get(fp: String): String = Memo.get(spark, slot, fp, release) { builds += 1; s"v-$fp" }
    assert(get("a") == "v-a" && get("a") == "v-a")
    assert(builds == 1 && released.isEmpty, "a hit must neither build nor release")
    assert(get("b") == "v-b")
    assert(builds == 2 && released.toSeq == Seq("v-a"), s"new fp: released $released")
    assert(Memo.put(spark, slot, "b", "v-put", release) == "v-put")
    assert(released.toSeq == Seq("v-a", "v-b"), s"put: released $released")
    assert(get("b") == "v-put" && builds == 2, "put's entry must serve a hit on its fp")
    assert(entries(slot) == Map(slot -> "b"))
  }

  test("Tables.stage: a hit skips build; a new fp rebuilds clean; a failed build leaves no marker") {
    import java.nio.file.{Files, Paths}
    val dir = SparkTestBase.tempDir("graft_stage_spec").toString + "/layout"
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
