package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test run (one session per JVM keeps
  * `sbt test` near the JVM-startup floor), built by [[Session]] so specs
  * pin plans under the posture the bench times.
  */
object SparkTestBase {
  lazy val spark: SparkSession = Session()
  val sf: String = "/root/testdata/sf0.001"
}
