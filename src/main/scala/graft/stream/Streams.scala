package graft.stream

import graft.{Q, QueryDef, Session, Tables}
import java.nio.file.{Files, Path, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
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
  *
  * Scratch: every file a stream key writes lives under one [[root]] per
  * (dataset, JVM) — the staged inputs ([[eventSource]], [[userHashSource]],
  * the late-data rows), each under its own `Tables.stage` marker, and one
  * [[runDir]] per key for its checkpoint, sink or state.
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

  /** Per-user running `(n, sum_e4)` through flatMapGroupsWithState, emitted
    * as `(user_id, n, sum_e4)` after every batch. The sum is kept in exact
    * 1e-4 units (Long), so state merge order cannot perturb the result.
    */
  private def runningCountSum(src: DataFrame): DataFrame = {
    val sp = src.sparkSession
    import sp.implicits._
    src.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Long)]) =>
          var (n, sum) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { case (_, v) => n += 1; sum += math.round(v * 10000) }
          state.update((n, sum))
          Iterator((user, n, sum))
      }
      .toDF("user_id", "n", "sum_e4")
  }

  /** Streaming-scoped shuffle-partition cap: every stateful operator keeps
    * one state-store instance per shuffle partition per micro-batch, so at
    * harness scale a cpu-wide shuffle means one store open/commit cycle per
    * partition for a few thousand rows — pure fixed overhead. At real scale
    * this number is sized to state volume; here it is scoped down for the
    * duration of one bounded query and restored after. 2, not the session
    * width (4 cores): even with store commits free of process spawns
    * (LocalFs.scala), the session width lost 6 of 8 paired
    * `stream_replay` runs, median `items_per_s` 18.1k → 16.0k (-11%),
    * `pass_s` 1.68 → 1.88 s. And 2, not 1: width 1 measured ~5% WORSE
    * suite-wide (15.29 → 15.99 s over the 12 keys, back-to-back, measured
    * while commits still spawned processes) — at width 2 the two store
    * commits overlap on separate cores. Do not change without a paired
    * measurement.
    */
  private val StreamShufflePartitions = "2"
  private def withStreamShuffle[T](s: SparkSession)(body: => T): T =
    Session.withConf(s, "spark.sql.shuffle.partitions" -> StreamShufflePartitions)(body)

  /** Sentinel timestamp (2090-01-01, typed per the events schema at stage
    * time) used to push the watermark past every real window in a bounded
    * append-mode run.
    */
  private val SentinelEpochSec = 3786825600L
  private val SentinelType = "__wm__"

  private val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The one scratch root of the stream keys for dataset `dir` in this JVM,
    * deleted at JVM exit. It is pid-keyed because the sources symlink into
    * the split copy below it: a root shared with another process could hold
    * links into that process's copy, which dangle once it exits. The root is
    * a plain parent; each staged child keeps its own marker.
    */
  private def root(dir: String): String = {
    val r = s"${Tables.stagingDir("graft_stream", dir)}_${ProcessHandle.current().pid()}"
    if (roots.add(r)) sys.addShutdownHook(FileUtils.deleteQuietly(new java.io.File(r)))
    r
  }

  /** A fresh path for one run of `key`, after deleting the key's previous
    * run dir: a stream over a reused checkpoint sees no new files and emits
    * nothing, so each run needs an empty checkpoint, sink and state dir, and
    * the delete keeps one per key. The path is new per run, so a state-store
    * maintenance write of an earlier run never lands in a later run's
    * checkpoint.
    */
  private def runDir(dir: String, key: String): String = {
    val r = root(dir)
    Option(new java.io.File(r).listFiles((_, n) => n.startsWith(s"run_${key}_")))
      .foreach(_.foreach(FileUtils.deleteQuietly))
    s"$r/run_${key}_${System.nanoTime()}"
  }

  /** Symlinks every part file of `from` into `to` as `<prefix><i>.parquet`. */
  private def link(from: String, to: Path, prefix: String): Unit = {
    Files.createDirectories(to)
    new java.io.File(from).listFiles((_, n) => n.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        Files.createSymbolicLink(to.resolve(s"$prefix$i.parquet"), f.toPath)
      }
  }

  /** The file-stream source over `events`, plus one sentinel row (user_id
    * -1, 2090-01-01) per type in `sentinels`.
    *
    * The events table is staged once per root as a SPLIT copy of 8 part
    * files: driver testdata ships events as ONE single-row-group parquet
    * file, so every micro-batch's scan would run as ONE task regardless of
    * executor width (parquet splits at row-group granularity, and lowering
    * maxPartitionBytes only makes empty splits). A real stream source is a
    * directory of many files; the split copy restores the scan and
    * partial-agg parallelism a production micro-batch has and changes no
    * value (batch0 at sf0.1: 356 ms → ~90 ms of stage wall). Each source dir
    * symlinks the split copy's files and holds its sentinel file, staged
    * under the split's fingerprint, so a re-staged split re-links it.
    *
    * A `__wm__` sentinel pushes the watermark of a bounded append-mode run
    * past every real window. Sentinels with REAL event types survive
    * per-side `event_type` filters (which Catalyst pushes below the
    * watermark node), so they advance both sides' watermarks of a
    * stream-stream join. Callers drop sentinel rows from their results.
    *
    * The source path is a glob over the entries of `in/`, not the bare
    * dir: a non-glob listing skips nested directories such as the sentinel
    * file's. The `_done` marker sits beside `in/`, never inside the glob.
    */
  private def eventSource(s: SparkSession, dir: String, sentinels: Seq[String]): DataFrame = {
    val r = root(dir)
    val ev = Tables.t(s, dir, "events")
    val split = s"$r/split"
    val splitFp = Tables.stage(split, Tables.fingerprint(dir, "events")) {
      ev.repartition(8).write.parquet(s"$split/data")
    }
    val src = s"$r/src" + sentinels.map("_" + _).mkString
    Tables.stage(src, splitFp) {
      link(s"$split/data", Paths.get(src, "in"), "ev")
      val ts = Tables.tsSentinel(ev.schema("ts").dataType, SentinelEpochSec)
      if (sentinels.nonEmpty)
        s.createDataFrame(s.sparkContext.parallelize(
            sentinels.map(t => Row(-1L, ts, -1L, t, 0.0, "{}")), 1), ev.schema)
          .write.parquet(s"$src/in/sentinels")
    }
    Tables.withEventTime(s.readStream.schema(ev.schema).parquet(s"$src/in/*"))
  }

  /** The events table as 4 files by `user_id % 4`, read one file per
    * micro-batch (`maxFilesPerTrigger` 1): a deterministic 4-batch stream.
    * Staged once per root under the events fingerprint.
    */
  private def userHashSource(s: SparkSession, dir: String): DataFrame = {
    val base = s"${root(dir)}/byuser"
    Tables.stage(base, Tables.fingerprint(dir, "events")) {
      Files.createDirectories(Paths.get(s"$base/in"))
      (0 until 4).foreach { g =>
        Tables.events(s, dir).drop("ts_ts")
          .where(pmod(col("user_id"), lit(4)) === g)
          .coalesce(1).write.parquet(s"$base/stage$g")
        val part = new java.io.File(s"$base/stage$g").listFiles((_, n) => n.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(s"$base/in/f$g.parquet"))
      }
    }
    s.readStream.schema(s.read.parquet(s"$base/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
  }

  /** Bounded append-mode run of a windowed aggregation — the SAME plan you
    * would run unbounded (watermark evicts window state; the full result is
    * never re-emitted), unlike `complete` mode where state grows forever.
    *
    * Append mode only emits a window once the watermark passes its end, so
    * the `__wm__` sentinel rides along with the bounded input to push the
    * watermark past every real window. One AvailableNow run suffices: the
    * data batch advances the watermark, and the trigger's closing no-data
    * micro-batch (`spark.sql.streaming.noDataMicroBatches.enabled`, on by
    * default) evicts and emits every closed window to the parquet sink.
    * Callers filter the sentinel groups by their marker key
    * (`event_type='__wm__'` / `user_id=-1`).
    */
  private def runBoundedAppend(
      s: SparkSession, dir: String, key: String)(
      agg: DataFrame => DataFrame): DataFrame = {
    val run = runDir(dir, key)
    agg(eventSource(s, dir, Seq(SentinelType)))
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$run/out")
      .option("checkpointLocation", s"$run/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.read.parquet(s"$run/out")
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
    // pipeline after downtime survivable. The oracle's group count IS the
    // expected batch count, so equality proves the limiter actually split
    // the run (without it, AvailableNow drains everything in one batch).
    QueryDef(
      "stream_rate_limited_ingest",
      Some(
        "WITH g AS (SELECT user_id % 4 AS grp, count(*) AS n FROM events GROUP BY grp) " +
          "SELECT CAST(count(*) AS BIGINT) AS n_batches, CAST(sum(n) AS BIGINT) AS total_rows, " +
          "CAST(max(n) AS BIGINT) AS max_batch_rows FROM g ORDER BY n_batches"),
      (s, d) => withStreamShuffle(s) {
        val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        userHashSource(s, d).writeStream
          .foreachBatch { (df: Dataset[Row], _: Long) =>
            val n = df.count(); if (n > 0) batches.add(n); ()
          }
          .option("checkpointLocation", runDir(d, "stream_rate_limited_ingest"))
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
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
        runBoundedAppend(s, d, "stream_tumbling_window") { src =>
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
        runBoundedAppend(s, d, "stream_sliding_window") { src =>
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
        runBoundedAppend(s, d, "stream_session_window") { src =>
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
        val twice = eventSource(s, d, Nil).union(eventSource(s, d, Nil))
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
        import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
        // The two input files are constants read from no table, so they are
        // staged once per root under a constant tag; the run dir's `in/`
        // gains symlinks to f1 before run 1 and to f2 before run 2, which
        // gives the two-stage file visibility the late-drop semantics need
        // without a Spark job per run.
        val rows = s"${root(d)}/late_rows"
        Tables.stage(rows, "late-rows1") {
          def mk(name: String, ts: String*): Unit =
            s.createDataFrame(
                s.sparkContext.parallelize(ts.map(t => Row(java.sql.Timestamp.valueOf(t))), 1),
                StructType(Seq(StructField("t", TimestampType))))
              .write.parquet(s"$rows/$name")
          mk("f1", "2024-01-01 09:05:00", "2024-01-01 10:30:00")
          mk("f2", "2024-01-01 09:10:00", "2024-01-01 11:30:00", "2024-01-01 13:00:00")
        }
        val run = runDir(d, "stream_late_data_drop")
        // memory sink cannot recover a checkpoint; the parquet sink can
        def runWith(file: String): Unit = {
          link(s"$rows/$file", Paths.get(run, "in"), s"$file-")
          s.readStream.schema("t TIMESTAMP").parquet(s"$run/in/*")
            .withWatermark("t", "10 minutes")
            .groupBy(window(col("t"), "1 hour").as("w"))
            .agg(count(lit(1)).as("n"))
            .select(col("w.start").as("ws"), col("n"))
            .writeStream.outputMode("append").format("parquet")
            .option("path", s"$run/out")
            .option("checkpointLocation", s"$run/ckpt")
            .trigger(Trigger.AvailableNow()).start().awaitTermination()
        }
        runWith("f1") // watermark now durably 10:20
        runWith("f2") // 09:10 is late → dropped; 09:00 window closes with n=1
        s.read.parquet(s"$run/out")
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
        val purchases = eventSource(s, d, Nil).where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts_ts").as("p_ts"), col("ts_ms").as("p_ms"))
          .withWatermark("p_ts", "1 hour")
        val clicks = eventSource(s, d, Nil).where(col("event_type") === "click")
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
        val sentinels = Seq("purchase", "click")
        val purchases = eventSource(s, d, sentinels).where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts_ts").as("p_ts"), col("ts_ms").as("p_ms"))
          .withWatermark("p_ts", "1 hour")
        val clicks = eventSource(s, d, sentinels).where(col("event_type") === "click")
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
        Session.withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          val sp = s
          import sp.implicits._
          val updated = eventSource(s, d, Nil)
            .select(col("user_id"), col("value"))
            .as[(Long, Double)]
            .groupByKey(_._1)
            .transformWithState(new RunningMax, TimeMode.None(), OutputMode.Append())
            .toDF("user_id", "max_val")
          runToTable(updated, "graft_tws", "append").orderBy("user_id")
        }
      }),

    // J6 — arbitrary stateful aggregation: per-user running (count, sum)
    // via flatMapGroupsWithState.
    QueryDef(
      "stream_stateful_count",
      Some(
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_e4 " +
          "FROM events GROUP BY user_id ORDER BY user_id"),
      (s, d) => withStreamShuffle(s) {
        runToTable(runningCountSum(eventSource(s, d, Nil)), "graft_j6", "append")
          .orderBy("user_id")
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
        val stateBase = runDir(d, "stream_foreach_batch_upsert")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        eventSource(s, d, Nil)
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
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
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

    // J11 — checkpoint crash-recovery: a query KILLED mid-stream resumes
    // from its checkpoint and still produces the exactly-once result. Two
    // phases over the 4-batch user-hash source (the minimum that commits
    // two batches before the crash AND leaves two to drain after it; the
    // cost is the two-query checkpoint/state machinery, not batch count):
    // phase 1 carries a deterministic foreachBatch bomb at batch 2, so
    // batches 0-1 commit (offsets + state store v2 + sink) and the query
    // dies; phase 2 restarts the SAME plan from the SAME checkpoint without
    // the bomb and drains batches 2-3. The running (n, sum) state must
    // survive the crash: per-user totals emitted after resume continue from
    // phase-1 state, and the oracle equality over the max-n collapse proves
    // no batch was lost or double-counted. The bomb throws BEFORE the sink
    // write, and the collapse key (n) is monotone per user, so even a
    // replayed batch (committed state, lost sink write — the at-least-once
    // sink window) re-emits identical rows that max() absorbs. The
    // checkpoint and sink are fresh per invocation: recovery IS the
    // operator under test.
    QueryDef(
      "stream_checkpoint_recovery",
      Some(
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_e4 " +
          "FROM events GROUP BY user_id ORDER BY user_id"),
      (s, d) => withStreamShuffle(s) {
        val counts = runningCountSum(userHashSource(s, d))
        val run = runDir(d, "stream_checkpoint_recovery")
        def phase(bombAt: Long) = counts.writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            if (batchId == bombAt)
              throw new IllegalStateException("graft-injected-crash")
            batch.write.mode("append").parquet(s"$run/out")
          }
          .option("checkpointLocation", s"$run/ckpt")
          .trigger(Trigger.AvailableNow()).start()
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
        runBoundedAppend(s, d, "stream_chained_agg") { src =>
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
