package graft

/** Ad-hoc plan inspector: `runMain graft.PlanDump <key> [<key>…]` prints
  * each key's EXECUTED physical plan (post-AQE, after one collect) under
  * the bench's [[Session]] posture — the fast loop for checking a new
  * operator's plan shape before pinning it in PlanSpec / PLANS.md (which
  * cover the curated headline set).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // GRAFT_PLANDUMP_DIR overrides the dataset (e.g. the GenScale sf1 dir —
    // AQE decisions are size-dependent, so a scale question needs the plan
    // AT scale)
    val dir = sys.env.getOrElse("GRAFT_PLANDUMP_DIR", "/root/testdata/sf0.01")
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_PLANDUMP_FORMATTED=1 prints explain("formatted") (the PLANS.md
    // style: numbered operators + per-operator detail) instead of the
    // executed-plan tree.
    val formatted = sys.env.get("GRAFT_PLANDUMP_FORMATTED").contains("1")
    for (k <- args) {
      println(s"======== $k ========")
      val df = SparkEntry.queries(k)(spark, dir)
      df.collect() // materialize so AQE finalizes every stage
      if (formatted)
        // wide plans (multi-join trees) need the room to reach the
        // per-operator details
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).take(60000))
      else
        println(df.queryExecution.executedPlan.toString.take(9000))
    }
    spark.stop()
  }
}
