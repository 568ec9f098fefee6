package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic main: runs one stream key repeatedly under the bench's
  * [[Session]] posture and prints each micro-batch's durationMs breakdown
  * from the StreamingQueryListener, so the fixed per-run cost can be
  * attributed (triggerExecution vs walCommit vs stateStore commit vs
  * addBatch) before touching any tuning knob. Usage:
  * `runMain graft.StreamProbe [<key> [<reps>]]`.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val key = args.lift(0).getOrElse("stream_tumbling_window")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Session(tmpfsScratch = true)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[probe] started ${e.id} at ${System.nanoTime() / 1000000}ms")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} durations=${p.durationMs}")
        if (p.stateOperators.nonEmpty)
          p.stateOperators.foreach(so => println(s"[probe]   state: commit=${so.commitTimeMs}ms rows=${so.numRowsTotal}"))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[probe] terminated at ${System.nanoTime() / 1000000}ms")
    })
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
        println(s"[probe] stage=${si.stageId} tasks=${si.numTasks} wall=${wall}ms " +
          s"name=${si.name.take(60)}")
      }
    })
    val fn = SparkEntry.queries(key)
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = fn(spark, d).count()
      println(f"[probe] run $i total=${(System.nanoTime() - t0) / 1e9}%.3fs rows=$n")
    }
    Session.stop(spark)
  }
}
