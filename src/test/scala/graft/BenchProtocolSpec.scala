package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench protocol's pure estimator, and the guarantee that the suite
  * tests under the posture the bench times.
  */
class BenchProtocolSpec extends AnyFunSuite {

  test("medianOf: odd/even sizes; robust to one-sided edge stalls") {
    assert(Bench.medianOf(Seq(3.0)) === 3.0)
    assert(Bench.medianOf(Seq(1.0, 2.0)) === 1.5)
    assert(Bench.medianOf(Seq(2.0, 1.0, 3.0)) === 2.0)
    // a one-sided drift over the last probes of a run does not move the
    // median out of the band the rest of the run sat in
    val probes = Seq(0.801, 0.838, 0.864, 0.805, 0.861, 0.869, 0.882, 0.867, 0.737, 0.707, 0.759)
    assert(math.abs(Bench.medianOf(probes) - 0.838) < 1e-9)
    intercept[IllegalArgumentException](Bench.medianOf(Nil))
  }

  test("SparkTestBase runs the timed Session posture: width, initial partitions, AQE, extensions") {
    val spark = SparkTestBase.spark
    val cpus = Session.cpus
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cpus.toString)
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") ===
      (cpus * 16).toString)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    Session.confs.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    assert(spark.sessionState.analyzer.extendedResolutionRules
      .count(_ eq opt.AnnotationRewrite) === 1)
  }
}
