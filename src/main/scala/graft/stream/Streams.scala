package graft.stream

import graft.{Q, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, ValueState}

/** SURVEY §2.J — Structured Streaming over the events table, run as a
  * bounded stream with Trigger.AvailableNow so tumbling/sliding/session/
  * dedup/stateful results equal their batch equivalents (which is what makes
  * DuckDB oracles possible).
  *
  * Scale posture: all state is keyed (window × type, user) and bounded by
  * watermarks; sinks here are memory tables for the harness, but every plan
  * is the one you would run against a real source with a parquet/Kafka sink.
  */
object Streams {

  /** Spark 4 transformWithState processor: per-user running max (RocksDB
    * state store). Max is order-independent, so the result is exact.
    */
  class RunningMax extends StatefulProcessor[Long, (Long, Double), (Long, Double)] {
    @transient private var maxState: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      maxState = getHandle.getValueState[Double]("max", Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Double)] = {
      var mx = if (maxState.exists()) maxState.get() else Double.MinValue
      rows.foreach { case (_, v) => if (v > mx) mx = v }
      maxState.update(mx)
      Iterator((key, mx))
    }
  }

  /** Streaming-scoped shuffle-partition cap: every stateful operator keeps
    * one state-store instance per shuffle partition per micro-batch, so at
    * harness scale a cpu-wide shuffle means one store open/commit cycle per
    * partition for a few thousand rows — pure fixed overhead. At real scale
    * this number is sized to state volume; here it is scoped down for the
    * duration of one bounded query and restored after. 2, not 4: store
    * open/commit cycles are the dominant per-micro-batch cost at harness
    * state sizes, and halving the width measured 12-30% off the stateful
    * stream keys with no semantic change. And 2, not 1: width 1 measured
    * ~5% WORSE suite-wide (15.29 → 15.99 s over the 12 keys, back-to-back)
    * — at width 2 the two store commits overlap on separate cores. Do not
    * change without a paired measurement.
    */
  private val StreamShufflePartitions = "2"
  private def withStreamShuffle[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.getOption(key)
    try {
      s.conf.set(key, StreamShufflePartitions)
      body
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Sentinel timestamp (2090-01-01, typed per the events schema at stage
    * time) used to push the watermark past every real window in a bounded
    * append-mode run.
    */
  private val SentinelEpochSec = 3786825600L
  private val SentinelType = "__wm__"

  /** Stage a SPLIT copy of the events table (8 part files) once per
    * dataset: driver testdata ships events as ONE single-row-group parquet
    * file, so every micro-batch's scan ran as ONE task regardless of
    * executor width (parquet splits at row-group granularity — lowering
    * maxPartitionBytes just made empty splits; measured no-op). A real
    * stream source is a directory of many files; staging the same rows as
    * 8 files restores the scan/partial-agg parallelism a production
    * micro-batch has, changing no value anywhere (batch0 at sf0.1:
    * 356 ms → ~90 ms of stage wall). Memoized by content fingerprint;
    * callers bake the fingerprint into their own done-markers so a
    * re-staged split invalidates their symlinks.
    */
  private def splitEventsDir(s: SparkSession, dir: String): (String, String) = {
    import java.nio.file.{Files, Paths}
    val base = s"${sys.props("java.io.tmpdir")}/graft_events_split_" +
      s"${Integer.toHexString(dir.hashCode)}_${ProcessHandle.current().pid()}"
    val marker = Paths.get(base, "_dataset")
    val fp = Tables.fingerprint(dir, "events")
    if (!(Files.exists(marker) && Files.readString(marker) == fp)) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      Tables.t(s, dir, "events").repartition(8)
        .write.mode("overwrite").parquet(s"$base/data")
      Files.writeString(marker, fp)
    }
    (s"$base/data", fp)
  }

  /** Symlink every part file of the split events copy into `inDir`. */
  private def linkSplitEvents(inDir: java.nio.file.Path, splitDir: String): Unit = {
    val parts = new java.io.File(splitDir)
      .listFiles((_, n) => n.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.createSymbolicLink(inDir.resolve(s"ev$i.parquet"), f.toPath)
    }
  }

  /** Bounded append-mode run of a windowed aggregation — the SAME plan you
    * would run unbounded (watermark evicts window state; the full result is
    * never re-emitted), unlike `complete` mode where state grows forever.
    *
    * Append mode only emits a window once the watermark passes its end, so a
    * far-future sentinel row rides along with the bounded input to push the
    * watermark past every real window; the trigger's closing no-data
    * micro-batch then evicts and emits them all to the parquet sink.
    * Sentinel groups are filtered by their marker key
    * (`event_type='__wm__'` / `user_id=-1`).
    */
  private def runBoundedAppend(
      s: SparkSession, dir: String, name: String)(
      agg: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = s"${sys.props("java.io.tmpdir")}/graft_append_${name}_" +
      s"${Integer.toHexString(dir.hashCode)}_${ProcessHandle.current().pid()}"
    val sch = Tables.t(s, dir, "events").schema
    // Input staging (events symlink + the sentinel parquet write — a Spark
    // job) is IMMUTABLE per (name, dir): stage it once behind a done-marker
    // and let bench repeats / warm-up reuse it. Only the checkpoint and the
    // output sink must be fresh per run (AvailableNow over a reused
    // checkpoint sees no new files and emits nothing), so those live under
    // a per-run subdir; the previous run's subdir is deleted first to keep
    // residue O(1). The marker sits at base level — the source glob is
    // `in/*` and must never see a non-parquet marker file.
    val done = Paths.get(base, "_in_done")
    val (splitDir, splitFp) = splitEventsDir(s, dir)
    if (!(Files.exists(done) && Files.readString(done) == splitFp)) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val inDir = Paths.get(base, "in")
      Files.createDirectories(inDir)
      linkSplitEvents(inDir, splitDir)
      import org.apache.spark.sql.Row
      val row = Row(-1L, Tables.tsSentinel(sch("ts").dataType, SentinelEpochSec),
        -1L, SentinelType, 0.0, "{}")
      s.createDataFrame(s.sparkContext.parallelize(Seq(row), 1), sch)
        .write.parquet(s"$base/in/s1")
      Files.writeString(done, splitFp)
    }
    new java.io.File(base).listFiles((_, n) => n.startsWith("run_")).toSeq
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    val run = s"$base/run_${System.nanoTime()}"
    // One AvailableNow run: the data batch advances the watermark past every
    // real window (thanks to the sentinel), and Spark's no-data micro-batch
    // (spark.sql.streaming.noDataMicroBatches.enabled, default on) then
    // evicts + emits the closed windows before the trigger terminates —
    // verified empirically, so no second run is needed.
    val src = Tables.withEventTime(
      s.readStream.schema(sch).parquet(s"$base/in/*"))
    val q = agg(src).writeStream.outputMode("append").format("parquet")
      .option("path", s"$run/out")
      .option("checkpointLocation", s"$run/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(s"$run/out")
  }

  private def streamEvents(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The file stream source requires a directory; expose the split copy
    // (see splitEventsDir — 8 files, so the batch scan parallelizes) through
    // symlinks in a scratch dir, re-linked when the dataset fingerprint moves.
    // Pid-keyed like graft_append_/graft_sent_: the split
    // dir the symlinks point INTO is pid-suffixed, so under a persistent
    // shared tmpdir a later JVM whose fingerprint matches the marker would
    // otherwise reuse links into an earlier process's reaped dir — dangling
    // targets breaking every stream key.
    val streamDir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_stream_${Integer.toHexString(dir.hashCode)}_${ProcessHandle.current().pid()}")
    // marker lives BESIDE the `in/` glob target, never inside it (the
    // source glob must only ever see parquet files)
    val (splitDir, splitFp) = splitEventsDir(s, dir)
    val done = streamDir.resolve("_in_done")
    if (!(java.nio.file.Files.exists(done) &&
          java.nio.file.Files.readString(done) == splitFp)) {
      org.apache.commons.io.FileUtils.deleteQuietly(streamDir.toFile)
      val inDir = streamDir.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      linkSplitEvents(inDir, splitDir)
      java.nio.file.Files.writeString(done, splitFp)
    }
    val sch = Tables.t(s, dir, "events").schema
    // The source path MUST be a glob (`dir/*`), not the bare dir: the
    // events table is a single FILE in driver testdata but a DIRECTORY of
    // part-files in Spark-written rehearsal data, and a non-glob listing
    // skips nested directories — the bounded stream then sees ZERO files
    // and every downstream result is silently empty (found by the sf1
    // rehearsal: the foreach-batch upsert NPE'd on its never-created state
    // dir). The glob expands to the symlinks and lists through them either way.
    Tables.withEventTime(s.readStream.schema(sch).parquet(s"$streamDir/in/*"))
  }

  /** Scratch file-stream source: events.parquet symlinked beside sentinel
    * rows carrying REAL event types (user_id = -1, year-2090 timestamps) —
    * unlike the `__wm__` sentinel, these survive per-side `event_type`
    * filters (which Catalyst pushes below the watermark node), so they
    * advance BOTH sides' watermarks past every real row. That is what lets
    * a bounded outer stream-stream join emit its unmatched-row nulls: an
    * outer join only releases an unmatched buffered row once the watermark
    * proves no future match can arrive. Callers filter `user_id = -1`
    * artifacts from the sink.
    */
  private def streamEventsWithTypedSentinels(
      s: SparkSession, dir: String, name: String, types: Seq[String]): () => DataFrame = {
    import java.nio.file.{Files, Paths}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = s"${sys.props("java.io.tmpdir")}/graft_sent_${name}_" +
      s"${Integer.toHexString(dir.hashCode)}_${ProcessHandle.current().pid()}"
    val sch = Tables.t(s, dir, "events").schema
    // Staged input is immutable per (name, dir, types — encoded in `name`):
    // reuse it across invocations behind a done-marker (see
    // runBoundedAppend); the sink-side checkpoint is the caller's and is
    // always fresh.
    val done = Paths.get(base, "_in_done")
    val (splitDir, splitFp) = splitEventsDir(s, dir)
    if (!(Files.exists(done) && Files.readString(done) == splitFp)) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val inDir = Paths.get(base, "in")
      Files.createDirectories(inDir)
      linkSplitEvents(inDir, splitDir)
      val sentTs = Tables.tsSentinel(sch("ts").dataType, SentinelEpochSec)
      val rows = types.map(t =>
        org.apache.spark.sql.Row(-1L, sentTs, -1L, t, 0.0, "{}"))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), sch)
        .write.parquet(s"$base/in/sentinels")
      Files.writeString(done, splitFp)
    }
    () => Tables.withEventTime(s.readStream.schema(sch).parquet(s"$base/in/*"))
  }

  /** Run a bounded streaming query into a memory sink and return the table. */
  private def runToTable(df: DataFrame, name: String, mode: String): DataFrame = {
    val s = df.sparkSession
    s.catalog.dropTempView(name)
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
  }

  val defs: Seq[QueryDef] = Seq(
    // J0 — source rate limiting (ingest backpressure): maxFilesPerTrigger
    // caps each micro-batch at one file, so a backlog of K files drains in
    // K bounded batches instead of one giant catch-up batch that OOMs the
    // state store — the knob that makes restarting a 100 TB file-fed
    // pipeline after downtime survivable. The events table is split into 4
    // deterministic user-hash files; the oracle's group count IS the
    // expected batch count, so equality proves the limiter actually split
    // the run (without it, AvailableNow drains everything in one batch).
    QueryDef(
      "stream_rate_limited_ingest",
      Some(
        "WITH g AS (SELECT user_id % 4 AS grp, count(*) AS n FROM events GROUP BY grp) " +
          "SELECT CAST(count(*) AS BIGINT) AS n_batches, CAST(sum(n) AS BIGINT) AS total_rows, " +
          "CAST(max(n) AS BIGINT) AS max_batch_rows FROM g ORDER BY n_batches"),
      (s, d) => withStreamShuffle(s) {
        import java.nio.file.{Files, Paths}
        val base = s"${sys.props("java.io.tmpdir")}/graft_ratelimit_" +
          s"${Integer.toHexString(d.hashCode)}"
        val done = Paths.get(s"$base/_done")
        if (!Files.exists(done)) {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
          Files.createDirectories(Paths.get(s"$base/in"))
          (0 until 4).foreach { g =>
            val stage = s"$base/stage$g"
            Tables.events(s, d).drop("ts_ts")
              .where(pmod(col("user_id"), lit(4)) === g)
              .coalesce(1).write.mode("overwrite").parquet(stage)
            val part = {
              import scala.jdk.CollectionConverters._
              Files.list(Paths.get(stage)).iterator().asScala
                .find(_.getFileName.toString.endsWith(".parquet")).get
            }
            Files.move(part, Paths.get(s"$base/in/f$g.parquet"))
          }
          Files.writeString(done, "ok")
        }
        val sch = s.read.parquet(s"$base/in").schema
        val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val q = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val n = df.count(); if (n > 0) batches.add(n); ()
          }
          .option("checkpointLocation", s"$base/ckpt_${System.nanoTime()}")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val counts = { import scala.jdk.CollectionConverters._; batches.asScala.toSeq }
        val sp = s
        import sp.implicits._
        // maxOption: an empty/corrupt staged layout must surface as an oracle
        // mismatch (0 batches), not an UnsupportedOperationException.
        Seq((counts.size.toLong, counts.sum, counts.maxOption.getOrElse(0L)))
          .toDF("n_batches", "total_rows", "max_batch_rows")
          .orderBy("n_batches")
      }),

    // J1 — tumbling 1-hour windows with a 10-minute watermark.
    QueryDef(
      "stream_tumbling_window",
      Some(
        "SELECT ws, event_type, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(CAST(value AS ${Q.D4})) AS ${Q.D6})::DOUBLE AS sum_val " +
          "FROM (SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS ws, " +
          "event_type, value FROM events) GROUP BY ws, event_type ORDER BY ws, event_type"),
      (s, d) => withStreamShuffle(s) {
        runBoundedAppend(s, d, "j1") { src =>
          src.withWatermark("ts_ts", "10 minutes")
            .groupBy(window(col("ts_ts"), "1 hour").as("w"), col("event_type"))
            .agg(count(lit(1)).as("n"), Q.out6(sum(Q.dec4(col("value")))).as("sum_val"))
            .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_val"))
        }
          .where(col("event_type") =!= SentinelType)
          .orderBy("ws", "event_type")
      }),

    // J2 — 1-hour windows sliding every 30 minutes (each event lands in 2).
    QueryDef(
      "stream_sliding_window",
      Some(
        "SELECT ws, event_type, CAST(count(*) AS BIGINT) AS n FROM " +
          "(SELECT event_type, unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)), " +
          "time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE]) AS ws " +
          "FROM events) GROUP BY ws, event_type ORDER BY ws, event_type"),
      (s, d) => withStreamShuffle(s) {
        runBoundedAppend(s, d, "j2") { src =>
          src.withWatermark("ts_ts", "10 minutes")
            .groupBy(window(col("ts_ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(col("w.start").as("ws"), col("event_type"), col("n"))
        }
          .where(col("event_type") =!= SentinelType)
          .orderBy("ws", "event_type")
      }),

    // J3 — per-user session windows with a 5-minute gap. Oracle is the
    // classic gaps-and-islands rewrite; session end = last event + gap.
    QueryDef(
      "stream_session_window",
      Some(
        "WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events), " +
          "m AS (SELECT user_id, t, CASE WHEN lag(t) OVER w IS NULL " +
          "OR t - lag(t) OVER w > INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS brk " +
          "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)), " +
          "g AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM m) " +
          "SELECT user_id, min(t) AS s_start, max(t) + INTERVAL 5 MINUTE AS s_end, " +
          "CAST(count(*) AS BIGINT) AS n FROM g GROUP BY user_id, sess " +
          "ORDER BY user_id, s_start"),
      (s, d) => withStreamShuffle(s) {
        runBoundedAppend(s, d, "j3") { src =>
          src.withWatermark("ts_ts", "10 minutes")
            .groupBy(session_window(col("ts_ts"), "5 minutes").as("w"), col("user_id"))
            .agg(count(lit(1)).as("n"))
            .select(col("user_id"), col("w.start").as("s_start"),
              col("w.end").as("s_end"), col("n"))
        }
          .where(col("user_id") >= 0)
          .orderBy("user_id", "s_start")
      }),

    // J4 — exactly-once dedup: the stream unioned with itself (every event
    // twice) collapses back to one row per event_id within the watermark.
    QueryDef(
      "stream_stateful_dedup",
      Some(
        "SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_type, value " +
          "FROM events ORDER BY event_id"),
      (s, d) => withStreamShuffle(s) {
        val once = streamEvents(s, d)
        val twice = once.union(streamEvents(s, d))
          .withWatermark("ts_ts", "10 minutes")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("ts_ms"),
            col("event_type"), col("value"))
        runToTable(twice, "graft_j4", "append").orderBy("event_id")
      }),

    // J5 — watermark late-data drop, observable end-to-end: two
    // AvailableNow runs over a shared checkpoint. Run 1 sets the watermark
    // to 10:20 (from the 10:30 row); run 2 delivers a 09:10 row for the
    // already-past-watermark 09:00 window — it must be dropped, leaving the
    // window's count at 1 when it closes.
    QueryDef(
      "stream_late_data_drop",
      Some("SELECT TIMESTAMP '2024-01-01 09:00:00' AS ws, CAST(1 AS BIGINT) AS n"),
      (s, d) => withStreamShuffle(s) {
        import java.nio.file.{Files, Paths}
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
        // The two input files are IMMUTABLE constants: stage them ONCE per
        // JVM behind a done-marker, so no timed repeat pays two parquet
        // write jobs plus a recursive delete; only the checkpoint and sink
        // must be fresh per run (the same split as runBoundedAppend). Each
        // invocation gets a fresh run
        // dir whose in/ is populated by SYMLINKS — f1 before run 1, f2
        // added before run 2 — preserving the two-stage file visibility the
        // late-drop semantics depend on at zero Spark-job cost.
        val stage = s"${sys.props("java.io.tmpdir")}/graft_late_stage_${ProcessHandle.current().pid()}"
        val done = Paths.get(stage, "_done")
        if (!Files.exists(done)) {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
          def mk(name: String, rows: Seq[String]): Unit =
            s.createDataFrame(
                s.sparkContext.parallelize(
                  rows.map(t => Row(java.sql.Timestamp.valueOf(t))), 1),
                StructType(Seq(StructField("t", TimestampType))))
              .write.parquet(s"$stage/$name")
          mk("f1", Seq("2024-01-01 09:05:00", "2024-01-01 10:30:00"))
          mk("f2", Seq("2024-01-01 09:10:00", "2024-01-01 11:30:00", "2024-01-01 13:00:00"))
          Files.writeString(done, "ok")
        }
        val base = s"${sys.props("java.io.tmpdir")}/graft_late_${ProcessHandle.current().pid()}"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
        val inDir = Paths.get(base, "in")
        Files.createDirectories(inDir)
        def link(name: String): Unit = {
          val parts = new java.io.File(s"$stage/$name")
            .listFiles((_, n) => n.endsWith(".parquet")).sortBy(_.getName)
          parts.zipWithIndex.foreach { case (f, i) =>
            Files.createSymbolicLink(inDir.resolve(s"$name-$i.parquet"), f.toPath)
          }
        }
        def runOnce(): Unit = {
          // memory sink cannot recover a checkpoint; the parquet sink can
          val q = s.readStream.schema("t TIMESTAMP").parquet(s"$base/in/*")
            .withWatermark("t", "10 minutes")
            .groupBy(window(col("t"), "1 hour").as("w"))
            .agg(count(lit(1)).as("n"))
            .select(col("w.start").as("ws"), col("n"))
            .writeStream.outputMode("append").format("parquet")
            .option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ckpt")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        link("f1")
        runOnce() // watermark now durably 10:20
        link("f2")
        runOnce() // 09:10 is late → dropped; 09:00 window closes with n=1
        s.read.parquet(s"$base/out")
          .where(col("ws") === lit("2024-01-01 09:00:00").cast("timestamp"))
          .orderBy("ws")
      }),

    // Stream-stream interval join: clicks attributed to a purchase by the
    // same user within the preceding 2 hours, both sides watermarked (the
    // watermark + time bound is what lets Spark expire join state — without
    // it a stream-stream join buffers forever). Inner join emits matches as
    // found, so the bounded run equals the batch interval join.
    QueryDef(
      "stream_stream_join",
      Some(
        "SELECT p.event_id AS p_id, c.event_id AS c_id, CAST(epoch_ms(p.ts) AS BIGINT) AS p_ms " +
          "FROM events p JOIN events c ON p.event_type = 'purchase' AND c.event_type = 'click' " +
          "AND c.user_id = p.user_id AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts " +
          "ORDER BY p_id, c_id"),
      (s, d) => withStreamShuffle(s) {
        val purchases = streamEvents(s, d).where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts_ts").as("p_ts"), col("ts_ms").as("p_ms"))
          .withWatermark("p_ts", "1 hour")
        val clicks = streamEvents(s, d).where(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts_ts").as("c_ts"))
          .withWatermark("c_ts", "3 hours")
        val joined = purchases.join(clicks,
          col("c_user") === col("p_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 2 HOURS") &&
            col("c_ts") <= col("p_ts"))
          .select(col("p_id"), col("c_id"), col("p_ms"))
        runToTable(joined, "graft_jss", "append").orderBy("p_id", "c_id")
      }),

    // LEFT OUTER stream-stream join: purchases with no qualifying click in
    // the trailing 2-hour window must still emit — with a null click id —
    // and in streaming that emission is a WATERMARK EVENT, not a join event:
    // Spark holds the unmatched purchase in state until the watermark proves
    // no matching click can still arrive, then releases it with nulls.
    // Typed sentinel rows on both sides push the watermarks past every real
    // row so the bounded run surfaces exactly the batch LEFT JOIN (the
    // oracle); state stays bounded by the same eviction at 100 TB/day.
    QueryDef(
      "stream_outer_join_nulls",
      Some(
        "SELECT p.event_id AS p_id, c.event_id AS c_id, CAST(epoch_ms(p.ts) AS BIGINT) AS p_ms " +
          "FROM events p LEFT JOIN events c ON c.event_type = 'click' " +
          "AND c.user_id = p.user_id AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts " +
          "WHERE p.event_type = 'purchase' ORDER BY p_id, c_id"),
      (s, d) => withStreamShuffle(s) {
        val src = streamEventsWithTypedSentinels(
          s, d, "lojoin", Seq("purchase", "click"))
        val purchases = src().where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts_ts").as("p_ts"), col("ts_ms").as("p_ms"))
          .withWatermark("p_ts", "1 hour")
        val clicks = src().where(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts_ts").as("c_ts"))
          .withWatermark("c_ts", "3 hours")
        val joined = purchases.join(clicks,
          col("c_user") === col("p_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 2 HOURS") &&
            col("c_ts") <= col("p_ts"),
          "left_outer")
          .select(col("p_id"), col("c_id"), col("p_ms"))
        // drop the sentinel-pair artifact (sentinel purchase × sentinel click)
        runToTable(joined, "graft_jslo", "append")
          .where(col("p_id") =!= -1L)
          .orderBy("p_id", "c_id")
      }),

    // Spark 4 transformWithState (successor of flatMapGroupsWithState):
    // per-user running max through a StatefulProcessor with a RocksDB-backed
    // ValueState. Single bounded batch ⇒ final state == batch max.
    QueryDef(
      "stream_transform_with_state",
      Some(
        "SELECT user_id, max(value) AS max_val FROM events GROUP BY user_id ORDER BY user_id"),
      (s, d) => withStreamShuffle(s) {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        try {
          s.conf.set(key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          val sp = s
          import sp.implicits._
          val updated = streamEvents(s, d)
            .select(col("user_id"), col("value"))
            .as[(Long, Double)]
            .groupByKey(_._1)
            .transformWithState(new RunningMax, TimeMode.None(), OutputMode.Append())
            .toDF("user_id", "max_val")
          runToTable(updated, "graft_tws", "append").orderBy("user_id")
        } finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }),

    // J6 — arbitrary stateful aggregation: per-user running (count, sum)
    // via flatMapGroupsWithState. Sum kept in exact 1e-4 units (Long) so
    // state merge order cannot perturb the result.
    QueryDef(
      "stream_stateful_count",
      Some(
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_e4 " +
          "FROM events GROUP BY user_id ORDER BY user_id"),
      (s, d) => withStreamShuffle(s) {
        val sp = s
        import sp.implicits._
        val updated = streamEvents(s, d)
          .select(col("user_id"), col("value"))
          .as[(Long, Double)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Long)]) =>
              val (n0, s0) = state.getOption.getOrElse((0L, 0L))
              var n = n0
              var sum = s0
              rows.foreach { case (_, v) => n += 1; sum += math.round(v * 10000) }
              state.update((n, sum))
              Iterator((user, n, sum))
          }
          .toDF("user_id", "n", "sum_e4")
        runToTable(updated, "graft_j6", "append").orderBy("user_id")
      }),

    // J7 — foreachBatch upsert sink: the production pattern for
    // exactly-once-ish materialized state over an append stream. Each
    // micro-batch merges into a VERSIONED parquet state (read v(n-1) ∪
    // batch → latest-per-key → write v(n)): versioning makes replays
    // idempotent (a re-run of batch n rewrites v(n) identically) — the
    // same shape as a Delta/Iceberg MERGE without a table format. The
    // final state must equal the batch latest-per-key collapse.
    QueryDef(
      "stream_foreach_batch_upsert",
      Some(
        "SELECT user_id, event_type, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value " +
          "FROM events QUALIFY row_number() OVER (PARTITION BY user_id, event_type " +
          "ORDER BY ts DESC, event_id DESC) = 1 ORDER BY user_id, event_type"),
      (s, d) => {
        val stateBase = s"${sys.props("java.io.tmpdir")}/graft_upsert_${Integer.toHexString(d.hashCode)}_${ProcessHandle.current().pid()}"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateBase))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val q = streamEvents(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
            col("ts_ms"), col("value"))
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val prev = new java.io.File(s"$stateBase/v${batchId - 1}")
            val base =
              if (prev.exists()) batch.sparkSession.read.parquet(prev.getPath).unionByName(batch)
              else batch
            base
              .withColumn("rn", row_number().over(w))
              .where(col("rn") === 1).drop("rn")
              .write.mode("overwrite").parquet(s"$stateBase/v$batchId")
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // listFiles() is null when NO micro-batch ran (source saw zero
        // files) — surface that as a diagnosis, not an opaque NPE.
        val versions = Option(new java.io.File(stateBase).listFiles())
          .getOrElse(throw new IllegalStateException(
            s"no upsert state written — the bounded source processed zero batches ($stateBase)"))
        val latest = versions
          .filter(_.getName.startsWith("v")).map(_.getName.drop(1).toLong).max
        s.read.parquet(s"$stateBase/v$latest")
          .select(col("user_id"), col("event_type"), col("event_id"), col("ts_ms"), col("value"))
          .orderBy("user_id", "event_type")
      }),

    // J11 — checkpoint crash-recovery: the
    // property every production stream relies on and no other key
    // exercised — a query KILLED mid-stream resumes from its checkpoint
    // and still produces the exactly-once result. Two-phase run over a
    // 4-file staged input with maxFilesPerTrigger=1 (4 micro-batches —
    // the minimum that commits two batches before the crash AND leaves
    // two to drain after it; measured cost is dominated by the two-query
    // checkpoint/state machinery, not batch count, so fewer files only
    // trims the tail): phase 1 carries a deterministic foreachBatch bomb at
    // batch 2, so batches 0-1 commit (offsets + state store v2 + sink)
    // and the query dies; phase 2 restarts the SAME plan from the SAME
    // checkpoint without the bomb and drains batches 2-3. The running (n, sum)
    // state must survive the crash: per-user totals emitted after resume
    // continue from phase-1 state, and the oracle equality over the
    // max-n collapse proves no batch was lost or double-counted. The
    // bomb throws BEFORE the sink write, and the collapse key (n) is
    // monotone per user, so even a replayed batch (committed state, lost
    // sink write — the at-least-once sink window) re-emits identical
    // rows that max() absorbs. Input staging is done-marker memoized;
    // checkpoint + sink are fresh per invocation (recovery IS the
    // operator under test).
    QueryDef(
      "stream_checkpoint_recovery",
      Some(
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_e4 " +
          "FROM events GROUP BY user_id ORDER BY user_id"),
      (s, d) => withStreamShuffle(s) {
        import java.nio.file.{Files, Paths}
        val sp = s
        import sp.implicits._
        val base = s"${sys.props("java.io.tmpdir")}/graft_ckptrec4_" +
          s"${Integer.toHexString(d.hashCode)}"
        val done = Paths.get(s"$base/_done")
        if (!Files.exists(done)) {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
          Files.createDirectories(Paths.get(s"$base/in"))
          (0 until 4).foreach { g =>
            val stage = s"$base/stage$g"
            Tables.events(s, d).drop("ts_ts")
              .where(pmod(col("user_id"), lit(4)) === g)
              .coalesce(1).write.mode("overwrite").parquet(stage)
            val part = {
              import scala.jdk.CollectionConverters._
              val listing = Files.list(Paths.get(stage))
              try listing.iterator().asScala
                .find(_.getFileName.toString.endsWith(".parquet")).get
              finally listing.close()
            }
            Files.move(part, Paths.get(s"$base/in/f$g.parquet"))
          }
          Files.writeString(done, "ok")
        }
        val run = s"$base/run_${System.nanoTime()}"
        val sch = s.read.parquet(s"$base/in").schema
        def phase(bombAt: Long) = {
          val counts = s.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
            .select(col("user_id"), col("value"))
            .as[(Long, Double)]
            .groupByKey(_._1)
            .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
              OutputMode.Append, GroupStateTimeout.NoTimeout) {
              (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Long)]) =>
                val (n0, s0) = state.getOption.getOrElse((0L, 0L))
                var n = n0
                var sum = s0
                rows.foreach { case (_, v) => n += 1; sum += math.round(v * 10000) }
                state.update((n, sum))
                Iterator((user, n, sum))
            }
            .toDF("user_id", "n", "sum_e4")
          counts.writeStream
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              if (batchId == bombAt)
                throw new IllegalStateException("graft-injected-crash")
              batch.write.mode("append").parquet(s"$run/out")
            }
            .option("checkpointLocation", s"$run/ckpt")
            .trigger(Trigger.AvailableNow()).start()
        }
        val crashed =
          try { phase(2L).awaitTermination(); false }
          catch {
            case e: org.apache.spark.sql.streaming.StreamingQueryException
              if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
                .exists(c => Option(c.getMessage).exists(_.contains("graft-injected-crash"))) =>
              true
          }
        require(crashed, "phase 1 must die on the injected crash at batch 2")
        phase(-1L).awaitTermination()
        s.read.parquet(s"$run/out")
          .groupBy("user_id")
          .agg(max(struct(col("n"), col("sum_e4"))).as("m"))
          .select(col("user_id"), col("m.n").as("n"), col("m.sum_e4").as("sum_e4"))
          .orderBy("user_id")
      }),

    // J10 — CHAINED stateful aggregations in one streaming query (Spark
    // 3.4+ multiple-stateful-operator support): hourly counts roll up into
    // 4-hour counts inside the same plan, no intermediate sink. The outer
    // groupBy keys on window(window_time(w)) so event time — and with it
    // watermark eviction — propagates through both state stores; each
    // operator's state stays watermark-bounded exactly as it would running
    // unbounded (the alternative people actually deploy is two jobs with a
    // kafka/delta hop between them — this is the plan that removes the hop).
    // Eviction cascades one micro-batch per stage, so the bounded run needs
    // the sentinel watermark push + the no-data batches AvailableNow already
    // executes.
    QueryDef(
      "stream_chained_agg",
      Some(
        "WITH h AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hw, " +
          "event_type, count(*) AS hn FROM events GROUP BY 1, 2) " +
          "SELECT time_bucket(INTERVAL '4 hours', hw) AS ws4, event_type, " +
          "CAST(sum(hn) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_hours " +
          "FROM h GROUP BY 1, 2 ORDER BY ws4, event_type"),
      (s, d) => withStreamShuffle(s) {
        runBoundedAppend(s, d, "jchain") { src =>
          src.withWatermark("ts_ts", "10 minutes")
            .groupBy(window(col("ts_ts"), "1 hour").as("w"), col("event_type"))
            .agg(count(lit(1)).as("hn"))
            .groupBy(window(window_time(col("w")), "4 hours").as("w4"), col("event_type"))
            .agg(sum(col("hn")).cast("long").as("n"),
              count(lit(1)).cast("long").as("n_hours"))
            .select(col("w4.start").as("ws4"), col("event_type"), col("n"), col("n_hours"))
        }
          .where(col("event_type") =!= SentinelType)
          .orderBy("ws4", "event_type")
      })
  )
}
