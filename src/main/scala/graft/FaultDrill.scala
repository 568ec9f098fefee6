package graft

/** Executor-loss fault drill: under REAL multi-process Spark
  * (`local-cluster[2,4,3072]` — two separate executor JVMs), run a key once
  * undisturbed, then re-run it while a watcher thread `kill -9`s one executor
  * JVM mid-query, and assert the two results are hash-identical. This
  * exercises the distributed failure class a serialization gate does not:
  * task retry, stage re-execution after FetchFailed (the killed executor's
  * shuffle files are gone), and executor re-registration — the everyday
  * failure mode of a 1000-executor cluster, where the scheduler must
  * recompute lost work and the answer must not change.
  *
  * Run via spark-submit with the packaged jar (the BASELINE.md
  * multi-process recipe — a local[N] master would have nothing to kill):
  *
  *   sbt package && /opt/spark/bin/spark-submit \
  *     --master 'local-cluster[2,4,3072]' --driver-memory 6g \
  *     --conf spark.ui.enabled=false --class graft.FaultDrill \
  *     target/scala-2.13/parquetonfhirspark_2.13-0.1.0.jar \
  *     join_shuffle_sortmerge /root/testdata/sf0.1
  *
  * The kill is timed off the scheduler, not a sleep: a listener arms the
  * watcher on the first task-start of the timed run, the watcher then
  * force-kills one CoarseGrainedExecutorBackend process (found via
  * ProcessHandle — single-box assumption, no other Spark app running, the
  * bench-protocol discipline). If the query finishes before the kill
  * lands (sub-second keys), the run retries with the kill armed earlier.
  * Exit 0 + a one-line JSON verdict on match; exit 1 on mismatch or if no
  * kill could be landed in `maxAttempts` tries.
  */
object FaultDrill {

  private def rowsHash(df: org.apache.spark.sql.DataFrame): (String, Long) = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    (md.digest().map("%02x".format(_)).mkString, rows.length.toLong)
  }

  private def executorPids(): Seq[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala.filter { p =>
      p.info().commandLine().map[Boolean] { cl =>
        cl.contains("CoarseGrainedExecutorBackend")
      }.orElse(false)
    }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val key = args.lift(0).getOrElse("join_shuffle_sortmerge")
    val d = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val maxAttempts = 5
    val spark = Session()
    val fn = SparkEntry.queries(key)

    // Baseline: undisturbed run (also warms staged artifacts / memoized
    // corpus state driver-side, so the killed run measures pure recompute).
    val (h0, n0) = rowsHash(fn(spark, d))

    // Armed run(s): kill one executor right after the first task of the
    // run starts. taskStartSeen flips in the listener; the watcher thread
    // polls it, kills, and records whether the kill landed before the
    // query's final collect returned.
    var attempt = 0
    var killedDuringRun = false
    var h1 = ""
    var n1 = -1L
    while (attempt < maxAttempts && !killedDuringRun) {
      attempt += 1
      val taskStartSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
      // Recovery evidence (destroyForcibly() only SENDS the signal — the
      // executor may die after the query's final collect returns, or after
      // all of its tasks for this query already finished, in which case the
      // run exercised nothing and a kill_landed=true verdict would be a false
      // positive). A kill only counts when BOTH:
      //   (a) the killed executor PROCESS was confirmed dead (onExit future
      //       completed) while the query was still running, and
      //   (b) the scheduler OBSERVED the loss before the run was marked
      //       done — a failed-task end event or an executor-removed event —
      //       i.e. the recompute/FetchFailed machinery actually engaged.
      // Two evidence channels with different drain trust:
      // a FAILED-TASK end event can only come from a task that was in flight
      // when the loss hit — it is unambiguous in-query disturbance even when
      // delivered late on the async bus. An EXECUTOR-REMOVED event is not:
      // an executor killed after all of its tasks for the query completed
      // still emits one inside the drain window, which would report the
      // recovery machinery as exercised when no task was recomputed. So the
      // drain accepts failed-task evidence only; executor-removed evidence
      // counts solely when observed before queryDone was set.
      val failedTaskSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
      val execRemovedSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
          taskStartSeen.set(true)
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.reason != org.apache.spark.Success) failedTaskSeen.set(true)
        override def onExecutorRemoved(
            er: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit =
          execRemovedSeen.set(true)
      }
      spark.sparkContext.addSparkListener(listener)
      val queryDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val killLanded = new java.util.concurrent.atomic.AtomicBoolean(false)
      val watcher = new Thread(() => {
        while (!taskStartSeen.get() && !queryDone.get()) Thread.sleep(2)
        if (!queryDone.get()) {
          executorPids().headOption.foreach { p =>
            p.destroyForcibly()
            // poll actual process DEATH (not signal dispatch) — landed only
            // counts if the process is gone while the query still runs
            val deadline = System.nanoTime() + 10_000_000_000L
            while (p.isAlive && System.nanoTime() < deadline) Thread.sleep(2)
            if (!p.isAlive && !queryDone.get()) killLanded.set(true)
          }
        }
      })
      watcher.setDaemon(true)
      watcher.start()
      val (h, n) = rowsHash(fn(spark, d))
      // capture the recovery evidence BEFORE declaring the run done — but
      // listener events are delivered on the async bus, so an event EMITTED
      // during the query can arrive milliseconds after the collect returns
      // (without a drain, a genuinely landed kill reads as unobserved and
      // forces a spurious retry). Bounded poll to let the bus drain;
      // the kill itself still only counts via killLanded = process confirmed
      // dead while the query ran, so this window cannot fabricate evidence
      // for a kill that landed after the query.
      // snapshot executor-removed evidence BEFORE publishing queryDone: an
      // event delivered on the async bus in the gap between
      // queryDone.set(true) and a later read would count as
      // "observed before done" — the post-query-kill class this evidence
      // rule exists to exclude. Reading first is strictly conservative:
      // an event that raced the query's completion may be missed, never
      // miscounted.
      val execRemovedBeforeDone = execRemovedSeen.get()
      queryDone.set(true) // freeze the watcher's "during query" window
      val drainDeadline = System.nanoTime() + 500_000_000L
      while (!failedTaskSeen.get() && !execRemovedBeforeDone &&
        System.nanoTime() < drainDeadline) Thread.sleep(5)
      val observedBeforeDone = failedTaskSeen.get() || execRemovedBeforeDone
      watcher.join(15000)
      spark.sparkContext.removeSparkListener(listener)
      if (killLanded.get() && observedBeforeDone) { killedDuringRun = true; h1 = h; n1 = n }
      // give the worker time to respawn the executor before a retry/next run
      Thread.sleep(3000)
    }
    val ok = killedDuringRun && h0 == h1 && n0 == n1
    println(s"""{"drill":"executor_kill","key":"$key","sf":"$d","rows":$n0,""" +
      s""""hash_base":"$h0","hash_killed":"$h1","kill_landed":$killedDuringRun,""" +
      s""""kill_evidence":"process_dead_during_query+scheduler_loss_event",""" +
      s""""attempts":$attempt,"match":${h0 == h1 && n0 == n1},"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
