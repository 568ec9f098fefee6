package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.fhir.{FhirAnnotations, FhirCodec, FhirSchema, FhirWriter}

/** Closed-loop, single-client benchmark harness for one workload.
  *
  * Runs in one JVM: set-up (session, set-up ingest, one warm-up pass that
  * also writes every key's output for the correctness gate), then whole
  * passes over the workload's keys in a seeded order until the time budget
  * is spent, then the round-trip check. Everything it measures goes into one
  * JSON dump that `perfbench/run.py` turns into metrics; this class only
  * records raw samples, spans and counters.
  *
  * Usage (normally through run.py):
  *   Harness workload=<w> data=<dir> fhir=<ndjson dir|-> results=<dir>
  *           work=<dir> out=<json> seconds=<n> seed=<n> trace=<0|1>
  *           keys=<module:key,...>
  */
object Harness {

  val Resources = Seq("Patient", "Observation", "ExplanationOfBenefit")

  /** Fewest timed passes per run; a traced run needs a traced and an
    * untraced one.
    */
  val MinPasses = 3

  /** Annotations written at ingest, per resource: (kind, path). */
  val Annotations: Map[String, Seq[(String, String)]] = Map(
    "Patient" -> Seq(
      "range" -> "birthDate",
      "numeric" -> "extension.valueDecimal",
      "numeric" -> "address.extension.extension.valueDecimal"),
    "Observation" -> Seq(
      "range" -> "effectiveDateTime",
      "numeric" -> "valueQuantity.value",
      "numeric" -> "component.valueQuantity.value",
      "canonical" -> "valueQuantity"),
    "ExplanationOfBenefit" -> Seq(
      "range" -> "billablePeriod.start",
      "numeric" -> "item.net.value",
      "numeric" -> "item.adjudication.amount.value",
      "numeric" -> "payment.amount.value",
      "numeric" -> "total.amount.value"))

  /** Operator module of each key, from the modules' public `defs`. */
  def modules: Seq[(String, Seq[String])] = Seq(
    "rel" -> (graft.rel.Scans.defs ++ graft.rel.Joins.defs ++ graft.rel.Aggs.defs ++
      graft.rel.Windows.defs ++ graft.rel.Funcs.defs ++ graft.rel.Scale.defs ++
      graft.rel.Formats.defs ++ graft.rel.Behavior.defs ++ graft.rel.Advanced.defs ++
      graft.rel.Analytics.defs),
    "udx" -> (graft.udx.Udx.defs ++ graft.udx.TypedOps.defs),
    "llm" -> (graft.llm.Llm.defs ++ graft.llm.Ivf.defs ++ graft.llm.Pca.defs ++
      graft.llm.Pipeline.defs ++ graft.llm.Corpus.defs ++ graft.llm.Multimodal.defs),
    "fhir" -> graft.fhir.FhirQueries.defs,
    "stream" -> graft.stream.Streams.defs).map { case (m, ds) => m -> ds.map(_.key) }

  // ------------------------------------------------------------ tracing

  final case class Span(id: Int, parent: Int, name: String, key: String, pass: Int,
      startNs: Long, endNs: Long)

  /** In-memory span recorder; a disabled tracer only runs the body. */
  final class Tracer(var enabled: Boolean) {
    val spans = new JList[Span]()
    private var stack: List[Int] = Nil
    private var next = 0
    def span[T](name: String, key: String = "", pass: Int = -1)(body: => T): T =
      if (!enabled) body
      else {
        val id = next
        next += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val t0 = System.nanoTime()
        try body
        finally {
          spans.add(Span(id, parent, name, key, pass, t0, System.nanoTime()))
          stack = stack.tail
        }
      }
  }

  // ------------------------------------------------- listener counters

  final class KeyExec {
    val jobs, stages, tasks, failedTasks = new AtomicLong
    val busyMs, waitMs, gcMs, shuffleWrite, shuffleRead, spill, peakMem = new AtomicLong
  }

  /** Task/stage/job counters attributed to (pass, key) through the local
    * properties the harness sets before each key. Only counts while
    * `enabled`, so untraced passes of a traced run pay next to nothing.
    */
  final class ExecListener extends SparkListener {
    @volatile var enabled = false
    val byKey = new java.util.concurrent.ConcurrentHashMap[String, KeyExec]()
    private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val stageStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val jobsOpen = new AtomicLong
    private def tag(p: java.util.Properties): String =
      if (p == null || p.getProperty("perfbench.key") == null) null
      else p.getProperty("perfbench.pass") + "/" + p.getProperty("perfbench.key")
    private def agg(t: String) = byKey.computeIfAbsent(t, _ => new KeyExec)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsOpen.incrementAndGet()
      val t = tag(e.properties)
      if (enabled && t != null) agg(t).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsOpen.decrementAndGet(); () }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t = tag(e.properties)
      if (enabled && t != null) {
        stageKey.put(e.stageInfo.stageId, t)
        val submitted: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stageStart.put(e.stageInfo.stageId, submitted)
        agg(t).stages.incrementAndGet()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = stageKey.get(e.stageId)
      if (enabled && t != null) {
        val a = agg(t)
        a.tasks.incrementAndGet()
        if (!e.taskInfo.successful) a.failedTasks.incrementAndGet()
        val st = stageStart.get(e.stageId)
        if (st != null) a.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - st))
        val m = e.taskMetrics
        if (m != null) {
          a.busyMs.addAndGet(m.executorRunTime)
          a.gcMs.addAndGet(m.jvmGCTime)
          a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          a.peakMem.accumulateAndGet(m.peakExecutionMemory, (x, y) => math.max(x, y))
        }
      }
    }
  }

  /** Micro-batch progress reports, kept raw; run.py attributes them to
    * keys and passes by their trigger timestamps.
    */
  final class StreamListener extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[JMap[String, Any]]()
    val lastEventMs = new AtomicLong(0L)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val m = new JMap[String, Any]()
      m.put("ts_ms", java.time.Instant.parse(p.timestamp).toEpochMilli)
      m.put("input_rows", p.numInputRows)
      val d = new JMap[String, Any]()
      p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue) }
      m.put("duration_ms", d)
      m.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      m.put("state_memory_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
      m.put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
      progress.add(m)
      lastEventMs.set(System.currentTimeMillis())
    }
  }

  // --------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val keyMods = a("keys").split(',').toSeq.map { km =>
      val Array(m, k) = km.split(':'); k -> m
    }
    val keys = keyMods.map(_._1)
    val fhirDir = a.get("fhir").filter(_ != "-")
    val work = a("work")
    val results = a("results")

    val declared = modules
    keyMods.foreach { case (k, m) =>
      val owners = declared.filter(_._2.contains(k)).map(_._1)
      require(owners == Seq(m), s"key $k belongs to modules $owners, declared $m")
    }

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(graft.opt.AnnotationRewrite.inject)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cpus * 16).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val execL = new ExecListener
    val streamL = new StreamListener
    sc.addSparkListener(execL)
    spark.streams.addListener(streamL)
    val tracer = new Tracer(traced)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val queries = graft.SparkEntry.queries
    val memoized = graft.SparkEntry.memoized.toSet
    // the FHIR keys read <dataDir>/fhir/<Resource>.parquet, written by the
    // set-up ingest below
    val dataDir = if (fhirDir.isDefined) s"$work/fhirq" else a("data")

    // --------------------------------------------------------- ingest
    val ingestRecs = new JList[JMap[String, Any]]()
    def ingest(dst: String, split: Boolean, pass: Int): JMap[String, Any] = {
      val rec = new JMap[String, Any]()
      val stage = new JMap[String, Double]()
      def timed[T](name: String)(body: => T): T = {
        val s0 = System.nanoTime()
        val r = tracer.span(name, "", pass)(body)
        stage.merge(name, (System.nanoTime() - s0) / 1e9, (x, y) => x + y)
        r
      }
      val w0 = System.nanoTime()
      tracer.span("ingest", "", pass) {
        Resources.foreach { r =>
          val text = spark.read.textFile(s"${fhirDir.get}/$r.ndjson")
          val schema = timed("derive")(FhirSchema.deriveSchema(spark, text))
          val enc = FhirCodec.encode(spark, text, schema)
          def annotate(df: DataFrame): DataFrame = Annotations(r).foldLeft(df) {
            case (d, ("range", p)) => FhirAnnotations.annotateRange(d, p)
            case (d, ("numeric", p)) => FhirAnnotations.annotateNumeric(d, p)
            case (d, (_, p)) => FhirAnnotations.canonicalize(d, p)
          }
          if (split) {
            // traced ingest: each stage materialised on its own
            val e = timed("encode") { val c = enc.persist(); c.count(); c }
            val an = timed("annotate") { val c = annotate(e).persist(); c.count(); c }
            timed("write")(FhirWriter.write(an, s"$dst/$r.parquet"))
            an.unpersist(true); e.unpersist(true)
          } else timed("write")(FhirWriter.write(annotate(enc), s"$dst/$r.parquet"))
        }
      }
      rec.put("pass", pass)
      rec.put("wall_s", (System.nanoTime() - w0) / 1e9)
      rec.put("stages_s", stage)
      rec.put("resources", Resources.map(r => spark.read.parquet(s"$dst/$r.parquet").count()).sum)
      rec.put("input_bytes", Resources.map(r => new java.io.File(s"${fhirDir.get}/$r.ndjson").length).sum)
      rec.put("written_bytes", dirBytes(new java.io.File(dst)))
      rec
    }

    // --------------------------------------------------------- set-up
    val ingestSetup = fhirDir.map(_ => ingest(s"$dataDir/fhir", split = false, pass = -1))
    // One more ingest, untimed: the JIT is still compiling the ingest path
    // after the first one, so the first timed ingest ran about 1.5x slower
    // than the next two and the median of three moved with it.
    fhirDir.foreach { _ =>
      val dst = s"$work/ingest-warm"
      ingest(dst, split = false, pass = -2)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
    }
    val gateRows = new JMap[String, Long]()
    val gateErrors = new JMap[String, String]()
    val warmS = new JMap[String, Double]()
    tracer.span("warmup") {
      keys.foreach { k =>
        val w0 = System.nanoTime()
        try {
          queries(k)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$results/$k")
          gateRows.put(k, spark.read.parquet(s"$results/$k").count())
        } catch { case e: Throwable => gateErrors.put(k, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
        warmS.put(k, (System.nanoTime() - w0) / 1e9)
      }
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    // --------------------------------------------------------- timed
    val samples = new JList[JMap[String, Any]]()
    val passes = new JList[JMap[String, Any]]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    val rng = new scala.util.Random(seed)
    // The JIT keeps speeding passes up for several passes after the
    // warm-up, so a run whose pass count varied (two here, three there)
    // reported medians from different points of that curve. Every run
    // makes at least MinPasses passes, which on this box also fills the
    // time budget.
    while (pass < MinPasses || System.nanoTime() < deadline) {
      // a traced run traces every other pass, starting with the second;
      // the gap between the two kinds is the tracing overhead
      val tracedPass = traced && pass % 2 == 1
      tracer.enabled = tracedPass
      execL.enabled = tracedPass
      if (fhirDir.isDefined) {
        val dst = s"$work/ingest-$pass"
        ingestRecs.add(ingest(dst, split = tracedPass, pass = pass))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
      }
      val order = rng.shuffle(keys)
      val p0 = System.nanoTime()
      val p0ms = System.currentTimeMillis()
      tracer.span("pass", "", pass) {
        order.foreach { k =>
          sc.setLocalProperty("perfbench.key", k)
          sc.setLocalProperty("perfbench.pass", pass.toString)
          val s = new JMap[String, Any]()
          s.put("key", k); s.put("pass", pass)
          s.put("start_ms", System.currentTimeMillis())
          val k0 = System.nanoTime()
          try {
            tracer.span("key", k, pass) {
              val df = tracer.span("build", k, pass)(queries(k)(spark, dataDir))
              val b1 = System.nanoTime()
              val rows = tracer.span("exec", k, pass)(df.queryExecution.toRdd.count())
              s.put("build_s", (b1 - k0) / 1e9)
              s.put("exec_s", (System.nanoTime() - b1) / 1e9)
              s.put("rows", rows)
              s.put("ok", gateRows.get(k) == rows)
              if (tracedPass) s.put("plan", planStats(df))
            }
          } catch {
            case e: Throwable =>
              s.put("ok", false)
              s.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
          }
          s.put("wall_s", (System.nanoTime() - k0) / 1e9)
          s.put("end_ms", System.currentTimeMillis())
          samples.add(s)
        }
      }
      sc.setLocalProperty("perfbench.key", null)
      sc.setLocalProperty("perfbench.pass", null)
      val pr = new JMap[String, Any]()
      pr.put("pass", pass); pr.put("traced", tracedPass)
      pr.put("wall_s", (System.nanoTime() - p0) / 1e9)
      pr.put("start_ms", p0ms); pr.put("end_ms", System.currentTimeMillis())
      passes.add(pr)
      pass += 1
    }
    tracer.enabled = false
    execL.enabled = false

    // ----------------------------------------------------------- gate
    val roundtrip = new JMap[String, Any]()
    fhirDir.foreach { nd =>
      tracer.enabled = traced
      var mismatches = 0L
      var decodeS = 0.0
      val counts = new JMap[String, Long]()
      // multiset fingerprint of the lines: (count, sum of 64-bit hashes);
      // the exact line difference is counted only when they disagree
      def fp(ds: Dataset[String]) = {
        import org.apache.spark.sql.functions._
        val r = ds.toDF("v").agg(count(lit(1)), sum(xxhash64(col("v")).cast("decimal(38,0)"))).head()
        (r.getLong(0), r.getDecimal(1))
      }
      tracer.span("roundtrip") {
        Resources.foreach { r =>
          val input = spark.read.textFile(s"$nd/$r.ndjson")
          val back: Dataset[String] =
            FhirCodec.decode(spark.read.parquet(s"$dataDir/fhir/$r.parquet"))
          val b0 = System.nanoTime()
          val (n, h) = tracer.span("decode")(fp(back))
          decodeS += (System.nanoTime() - b0) / 1e9
          if ((n, h) != fp(input))
            mismatches += input.exceptAll(back).count() + back.exceptAll(input).count()
          counts.put(r, n)
        }
      }
      tracer.enabled = false
      roundtrip.put("mismatches", mismatches)
      roundtrip.put("decode_s", decodeS)
      roundtrip.put("counts", counts)
    }

    // ------------------------------------------------------------ end
    val persisted = sc.getPersistentRDDs.size
    val drain0 = System.nanoTime()
    drain(execL, streamL)
    val drainS = (System.nanoTime() - drain0) / 1e9
    val heapMb = retainedHeapMb()

    val out = new JMap[String, Any]()
    out.put("workload", workload)
    out.put("cpus", cpus)
    out.put("golden_dir", graft.Tables.goldenDir)
    out.put("data_dir", dataDir)
    val oracles = new JMap[String, String]()
    val allOracles = graft.SparkEntry.oracleSql
    keys.foreach(k => allOracles.get(k).foreach(sql => oracles.put(k, sql)))
    out.put("oracle", oracles)
    out.put("traced", traced)
    out.put("session_s", sessionS)
    out.put("setup_s", setupS)
    out.put("modules", keyMods.toMap.asJava)
    out.put("memoized", keys.filter(memoized).asJava)
    out.put("warm_s", warmS)
    out.put("gate_rows", gateRows)
    out.put("gate_errors", gateErrors)
    ingestSetup.foreach(r => out.put("ingest_setup", r))
    out.put("ingest", ingestRecs)
    out.put("samples", samples)
    out.put("passes", passes)
    out.put("roundtrip", roundtrip)
    out.put("persisted_rdds_end", persisted)
    out.put("retained_heap_mb", heapMb)
    out.put("drain_s", drainS)
    out.put("main_s", (System.nanoTime() - t0) / 1e9)
    out.put("stream_progress", new JList[JMap[String, Any]](streamL.progress))
    val ex = new JMap[String, Any]()
    execL.byKey.asScala.foreach { case (t, e) =>
      val m = new JMap[String, Any]()
      Seq("jobs" -> e.jobs, "stages" -> e.stages, "tasks" -> e.tasks,
        "failed_tasks" -> e.failedTasks, "busy_ms" -> e.busyMs, "wait_ms" -> e.waitMs,
        "gc_ms" -> e.gcMs, "shuffle_write_bytes" -> e.shuffleWrite,
        "shuffle_read_bytes" -> e.shuffleRead, "spill_bytes" -> e.spill,
        "peak_task_mem_bytes" -> e.peakMem).foreach { case (n, v) => m.put(n, v.get) }
      ex.put(t, m)
    }
    out.put("exec", ex)
    val sp = new JList[JMap[String, Any]]()
    tracer.spans.asScala.foreach { s =>
      val m = new JMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
      m.put("key", s.key); m.put("pass", s.pass)
      m.put("start_ns", s.startNs); m.put("end_ns", s.endNs)
      sp.add(m)
    }
    out.put("spans", sp)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(out)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
    spark.stop()
  }

  /** Spark planning phase times and scan statistics of one executed key. */
  private def planStats(df: DataFrame): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    val qe = df.queryExecution
    qe.tracker.phases.foreach { case (ph, s) => m.put(s"${ph}_ms", s.durationMs) }
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collect(qe.executedPlan) { case f: FileSourceScanExec => f }
    val Annot = """__\w*_(start|end|numeric)""".r
    m.put("annotation_filters", scans.map(_.dataFilters.count(f =>
      scala.util.Try(Annot.findFirstIn(f.sql).isDefined).getOrElse(false))).sum)
    m.put("scan_rows", scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
    m.put("scan_bytes", scans.flatMap(_.metrics.get("filesSize")).map(_.value).sum)
    m
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * shuffle and broadcast blocks only after a collection has cleared their
    * weak references, so the heap is collected again after it has run, and
    * the smallest reading is kept.
    */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length
    else 0L

  /** Waits until every job has ended and no stream progress arrived for a
    * quarter second, so asynchronous listener counters are complete.
    */
  private def drain(e: ExecListener, s: StreamListener): Unit = {
    val limit = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < limit &&
        (e.jobsOpen.get > 0 || System.currentTimeMillis() - s.lastEventMs.get < 250))
      Thread.sleep(50)
    Thread.sleep(200)
  }
}
