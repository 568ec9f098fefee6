package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Headline bench: times every [[SparkEntry]] key (or only the keys named
  * on the command line) under the [[Session]] posture, writes the per-key
  * artifact and prints one short JSON line.
  */
object Bench {

  /** Box-speed probes: two FROZEN single-shape queries (a Q1-style agg and
    * a group + top-10) with frozen reference timings (steady-state min-of-3
    * at sf0.1 on local[4]). A shared host's speed drifts several-fold between
    * runs and stalls for minutes within one, so a raw total cannot tell
    * box drift from a plan regression. The probes are re-timed at suite
    * start, after every [[ProbeEvery]] keys and after the last key, each
    * time as summed measured / summed reference seconds; the median of
    * that series is the box-speed estimate every normalized number
    * divides by. Query texts and reference values must never change:
    * cross-run comparability rests on both.
    */
  private val probeDefs: Seq[(String, (SparkSession, String) => DataFrame, Double)] = Seq(
    ("anchor_q1_agg", (s: SparkSession, d: String) => Tables.t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), sum("l_extendedprice"), avg("l_discount"), count(lit(1))),
      0.193),
    ("anchor_group_topk", (s: SparkSession, d: String) => Tables.t(s, d, "lineitem")
      .groupBy("l_partkey").agg(sum("l_quantity").as("q"))
      .orderBy(col("q").desc, col("l_partkey")).limit(10),
      0.157))

  private val ProbeEvery = 25

  /** Median of the probe-ratio series — the headline denominator. Samples
    * spanning the whole run window make it robust to a one-sided stall at
    * either edge of it.
    */
  def medianOf(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of empty probe series")
    val sorted = xs.sorted
    val n = sorted.size
    if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Single-shot timings on a shared box swing ±30-60% with ambient load;
    // the per-key minimum over repeats is the steady-state number.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "3").toInt.max(1)
    // Keys whose minimum is still >= slowCutoff after the base repeats get
    // topped up to repeatSlow samples: for expensive keys the chance that
    // every base sample lands in a stall window is material, and those are
    // the keys per-key forensics reads. Cheap keys stay at the base repeat;
    // their absolute error is bounded by the cutoff.
    val repeatSlow = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT_SLOW", "5").toInt.max(repeat)
    val slowCutoff = 0.3
    val spark = Session(tmpfsScratch = true)
    // Peak per-TASK execution memory (hash tables, sort buffers, build
    // sides — what OOMs an executor core first) during each key's timed
    // window, so a scale rehearsal can rank which key OOMs first. Listener
    // delivery is async; reset/read sit outside the timed samples and a
    // drain wait bounds attribution error — adequate for ranking, not a
    // byte-exact account.
    val peakNow = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) { peakNow.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _)); () }
      }
    })
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => args.contains(k) }
    // Untimed warm-up of every selected key and probe: absorbs first-touch
    // page faults of a growing heap, classloading, codegen and parquet
    // footers, so timed runs measure the steady state a long-lived cluster
    // runs at. GRAFT_BENCH_NOWARM=1 skips it for scale rehearsals, where
    // 100+ s keys amortize the cold start and a second execution doubles a
    // multi-hour run; never for the headline bench.
    if (!sys.env.get("GRAFT_BENCH_NOWARM").contains("1"))
      (probeDefs.map(_._2) ++ selected.values).foreach { fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    // One sample: (seconds, ok, row count). Keys are timed by full-result
    // materialization (toRdd.count executes the key's own physical plan):
    // under Dataset.count() Catalyst prunes output columns, drops final
    // sorts and can remove cardinality-preserving joins, i.e. time a plan
    // that never runs the kernel. Probes keep count(), the action their
    // reference values were measured with.
    def time(fn: (SparkSession, String) => DataFrame,
        fullMat: Boolean = true): (Double, Boolean, Long) = {
      val t0 = System.nanoTime()
      var cnt = -1L
      val ok = try {
        cnt = if (fullMat) fn(spark, sfDir).queryExecution.toRdd.count()
              else fn(spark, sfDir).count()
        true
      } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok, cnt)
    }
    // A throwing probe's time-to-exception would become the min sample and
    // silently collapse the ratio, so failed samples are excluded, and a
    // probe with no good sample aborts the run: there is no denominator.
    def probeRatio(): Double =
      probeDefs.map { case (name, fn, _) =>
        val good = Seq.fill(3)(time(fn, fullMat = false)).filter(_._2)
        require(good.nonEmpty, s"bench probe $name: every sample threw — no valid timing denominator")
        good.map(_._1).min
      }.sum / probeDefs.map(_._3).sum
    val peaks = scala.collection.mutable.Map.empty[String, Double]
    val rowsOut = scala.collection.mutable.Map.empty[String, Long]
    val drainCapped = scala.collection.mutable.ArrayBuffer.empty[String]
    val probes = scala.collection.mutable.ArrayBuffer[Double](probeRatio())
    val orderedKeys = selected.toSeq
    // MINIMUM of repeats: stalls only ever ADD time, so the min is the
    // steady-state estimator and needs one clean repeat. A key with any
    // failed sample reports -1 and counts in "errors".
    val results = orderedKeys.zipWithIndex.map { case ((name, fn), idx) =>
      peakNow.set(0L)
      val base = Seq.fill(repeat)(time(fn))
      val samples =
        if (base.map(_._1).min >= slowCutoff && repeatSlow > repeat)
          base ++ Seq.fill(repeatSlow - repeat)(time(fn))
        else base
      rowsOut(name) = samples.find(_._2).map(_._3).getOrElse(-1L)
      // Drain the listener until the peak holds for 3 consecutive 15 ms
      // polls, so a slow key's late task-end events are not credited to the
      // next key; a drain that hits the cap is recorded, not hidden.
      var lastPeak = peakNow.get()
      var stable = 0
      var drainMs = 0
      while (drainMs < 300 && stable < 3) {
        Thread.sleep(15); drainMs += 15
        val cur = peakNow.get()
        if (cur == lastPeak) stable += 1 else { stable = 0; lastPeak = cur }
      }
      if (stable < 3) drainCapped += name
      peaks(name) = peakNow.get() / 1048576.0
      if ((idx + 1) % ProbeEvery == 0 || idx == orderedKeys.size - 1)
        probes += probeRatio()
      name -> (if (samples.forall(_._2)) samples.map(_._1).min else -1.0)
    }
    val probeMedian = medianOf(probes.toSeq)
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def obj[V](kvs: Seq[(String, V)])(f: V => String): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    def arr(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errors = results.count(_._2 < 0)
    // A crashing key must never make the total look BETTER than a working
    // build: each errored key adds max(30 s, slowest measured key).
    val penalty = math.max(30.0, results.map(_._2).filter(_ >= 0).maxOption.getOrElse(0.0))
    val total = results.map(_._2).filter(_ >= 0).sum + errors * penalty
    val valueNorm = total / probeMedian
    // "memoized" keys reuse a per-(session, dataset) artifact the warm-up
    // built, so their timed repeats measure post-artifact work; a timing
    // change that coincides with a memoization change is a measurement-
    // boundary change, not a plan change. "staged_oracle" keys have an
    // oracle that reads an artifact the Spark kernel under test computed.
    // "protocol" versions estimator + warm-up + memoization as a unit.
    val protocolName = "v6-probe-median"
    val full = s"""{"metric":"total","value":${r3(total)},"value_norm":${r3(valueNorm)},""" +
      s""""probe_median":${r3(probeMedian)},"probes":${probes.map(r3).mkString("[", ",", "]")},""" +
      s""""unit":"sec","n":${results.size},"repeat":$repeat,"repeat_slow":$repeatSlow,"agg":"min",""" +
      s""""errors":$errors,"protocol":"$protocolName","memoized":${arr(SparkEntry.memoized)},""" +
      s""""staged_oracle":${arr(SparkEntry.stagedOracle)},""" +
      s""""queries":${obj(results)(r3)},""" +
      s""""queries_norm":${obj(results)(v => r3(if (v < 0) v else v / probeMedian))},""" +
      // not normalized: memory does not drift with box speed
      s""""peak_mb":${obj(results.map { case (k, _) => k -> peaks.getOrElse(k, 0.0) })(r3)},""" +
      s""""peak_drain_capped":${arr(drainCapped.toSeq)},""" +
      s""""rows_out":${obj(results.map { case (k, _) => k -> rowsOut.getOrElse(k, -1L) })(_.toString)},""" +
      s""""sf":"$sfDir"}"""
    val totalOnly = s"""{"metric":"total","value":${r3(total)},"value_norm":${r3(valueNorm)},""" +
      s""""probe_median":${r3(probeMedian)},"unit":"sec","n":${results.size},"repeat":$repeat,""" +
      s""""agg":"min","errors":$errors,"protocol":"$protocolName","sf":"$sfDir"}"""
    // The per-key detail goes only to the artifact: a long stdout line
    // crowds the parseable one out of a captured stdout tail. Subset
    // runs write BENCH_subset.json so they never clobber the full-run
    // artifact; BENCH_total.json keeps the total on disk.
    val outFile = if (args.isEmpty) "BENCH_local.json" else "BENCH_subset.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), full)
    if (args.isEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_total.json"), totalOnly)
    Session.stop(spark)
    // Exactly one short JSON line, after spark.stop() so no shutdown log
    // follows it; build.sbt's StdoutOutput and showSuccess=false make it
    // the last line of the sbt process output.
    println(totalOnly)
  }
}
