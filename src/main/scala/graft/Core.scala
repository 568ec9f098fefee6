package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared operator from SURVEY.md §2: a stable key, the Spark-side
  * implementation, and (where SQL-expressible) an equivalent DuckDB oracle.
  *
  * Contract (SparkEntry.scala): the driver runs `run(spark, sfDir)`, writes
  * the result to parquet, runs `oracle` in DuckDB over the same tables, and
  * hash-compares. Column names/types must line up on both sides; every
  * oracle query ends in a total ORDER BY (SURVEY §7.4).
  */
/** @param memoized this key's timed bench repeats reuse an artifact built
  *   once per (session, dataset) — a memoized corpus artifact (IVF index,
  *   bigram LM, top-pair set, near-dup pairs/labels) or a done-marker-staged
  *   input layout (bucketed tables, manifest dirs, stream input staging).
  *   Warm-up populates it, so repeats measure post-artifact (probe/read)
  *   work — the production posture for dataset-level artifacts, but a
  *   MEASUREMENT-BOUNDARY property a cross-round per-key comparison must
  *   know about: the bench artifact lists these keys under "memoized" so a
  *   timing drop caused by moving work behind an artifact is never mistaken
  *   for a plan improvement.
  */
final case class QueryDef(
    key: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame,
    memoized: Boolean = false)

/** Loaders for the driver's synthetic star schema (TESTDATA.md) and the
  * reference's golden FHIR files (/root/reference/examples).
  */
object Tables {
  val goldenDir = "/root/reference/examples"

  /** Session-scoped table catalog: `spark.read.parquet` re-lists files and
    * re-reads footers on every call, which at ~2 reads/query × ~100 queries
    * is pure fixed overhead. A DataFrame is an immutable plan, so caching
    * the reader result per (session, path) is safe. (Plans stay lazy — this
    * caches file listing + schema, never data.)
    */
  // private[graft] so CoreCacheSpec can assert the supersede-eviction
  // discipline (fingerprint-keyed entries must not leak one stale
  // DataFrame per in-place regeneration)
  private[graft] val readCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  // Keyed on the CONTENT fingerprint, not the bare path (the
  // invalidate-together discipline): a DataFrame's file index snapshots
  // names+sizes at creation, so in-place regeneration at the same path
  // within one JVM would otherwise serve a stale listing (FileNotFound at
  // best, wrong byte ranges at worst) while every fingerprint-keyed memo
  // above it correctly re-derives. The fingerprint is one stat per table
  // file (shallow, local-FS metadata) — the cache still avoids the footer
  // read + schema inference that it exists for.
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val fp = fingerprint(dir, name) + "#" + name
    val key = (spark, fp)
    val cached = readCache.get(key)
    if (cached != null) cached
    else {
      // Evict superseded fingerprints of the same (session, dir, table) on
      // miss: fingerprint-keyed entries otherwise leak one stale
      // DataFrame per in-place regeneration within a JVM. fingerprint
      // strings start "dir|"; golden()'s plain-path keys contain no "|" so
      // they can never match. Residual accepted bound: a same-size
      // regeneration inside one lastModified millisecond still fingerprints
      // identically — sub-ms in-place rewrites are not a flow any entrypoint
      // performs (GenScale writes fresh files over seconds).
      val prefix = dir + "|"
      val suffix = "#" + name
      readCache.keySet.removeIf { k =>
        (k._1 eq spark) && k._2.startsWith(prefix) && k._2.endsWith(suffix) && k._2 != fp
      }
      readCache.computeIfAbsent(key, { case (s, _) => s.read.parquet(s"$dir/$name.parquet") })
    }
  }

  /** Cached reader for staged-artifact dirs (the `_dataset`-marker tables
    * the memoized keys build in warm-up), keyed by the same content
    * fingerprint the staging marker carries so a re-stage invalidates.
    * Without this every timed repeat of a memoized key re-listed the
    * staged dir, re-read footers, and — via Tables.spread's
    * `df.rdd.getNumPartitions` on a FRESH Dataset each call — re-ran
    * physical planning of the read (Dataset.rdd is lazy per OBJECT) —
    * a fixed cost inside the timed window that measured 0.29→0.51 norm s
    * on sim_mrl_rerank. Same eviction
    * discipline as t(): a superseded fingerprint's entry is dropped on
    * miss.
    */
  def staged(spark: SparkSession, dataDir: String, markerFp: String): DataFrame = {
    val fp = dataDir + "@" + markerFp
    val key = (spark, fp)
    val cached = readCache.get(key)
    if (cached != null) cached
    else {
      val prefix = dataDir + "@"
      readCache.keySet.removeIf { k =>
        (k._1 eq spark) && k._2.startsWith(prefix) && k._2 != fp
      }
      readCache.computeIfAbsent(key, { case (s, _) => s.read.parquet(dataDir) })
    }
  }

  /** Parallelize an under-partitioned scan before a per-row compute kernel
    * (JVM mapPartitions, interpreted HOFs): local testdata tables are
    * single small parquet files — one row-group, one task — so without
    * this every per-document/per-vector kernel runs on ONE core no matter
    * the executor count (measured: the corpus-gram and minhash keys spent
    * 80%+ of their time single-threaded). A numeric round-robin
    * repartition spreads the rows and is exempt from AQE coalescing, so
    * the tiny byte size cannot collapse it back to one partition. At
    * production scale a 100 TB scan already carries far more partitions
    * than defaultParallelism and this is a NO-OP (no shuffle node is ever
    * added) — the shuffle only exists in the under-parallel small-file
    * case, where it moves kilobytes. Only worth it when downstream
    * per-row work dominates the scan; plain scans/aggs stay un-spread.
    */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** events.ts has shipped in three physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (readable only as int64 nanos
    * under `spark.sql.legacy.parquet.nanosAsLong`), naive µs TIMESTAMP_NTZ,
    * and µs instant TIMESTAMP. All three map to the same derived columns —
    * naive values are interpreted at UTC, which is exactly what DuckDB's
    * `epoch_ms(ts)` computes on its side of the oracle, so the mapping is
    * session-timezone-proof:
    *   ts_ms — epoch millis (BIGINT)
    *   ts_ts — TimestampType instant at µs precision
    */
  def withEventTime(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => // legacy nanos-as-long
      df.withColumn("ts_ms", expr("ts div 1000000"))
        .withColumn("ts_ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType =>
      // epoch micros of the naive value AT UTC, independent of the session
      // timezone (a cast to TIMESTAMP would silently shift with it)
      val us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
      df.withColumn("ts_ms", expr(s"$us div 1000"))
        .withColumn("ts_ts", expr(s"timestamp_micros($us)"))
    case TimestampType =>
      df.withColumn("ts_ms", expr("unix_millis(ts)"))
        .withColumn("ts_ts", col("ts"))
    case other =>
      throw new IllegalStateException(s"unsupported events.ts type: $other")
  }

  /** A synthetic `ts` value (for sentinel rows staged beside events.parquet)
    * typed to match whatever the current generation's schema declares.
    */
  def tsSentinel(dt: DataType, epochSeconds: Long): Any = dt match {
    case LongType => epochSeconds * 1000000000L
    case TimestampNTZType =>
      java.time.LocalDateTime.ofEpochSecond(epochSeconds, 0, java.time.ZoneOffset.UTC)
    case _ => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epochSeconds))
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    withEventTime(t(spark, dir, "events"))
  }

  // Golden FHIR files are immutable; cache their readers like the sf tables
  // (a dozen FHIR keys each re-listed + re-footer-read these 3 files).
  def golden(spark: SparkSession, name: String): DataFrame =
    readCache.computeIfAbsent(
      (spark, s"$goldenDir/$name.parquet"),
      { case (s, p) => s.read.parquet(p) })

  /** Dataset-aware golden resolution (FHIR scale rehearsals): a
    * dataset dir may carry a `fhir/` subdir of FhirGenScale-replicated
    * resources — prefer it so every fhir_* key runs at the replicated
    * volume when benched against such a dir. The driver's sf dirs have no
    * `fhir/`, so the correctness gate keeps reading the reference golden
    * files (whose paths the static DuckDB oracles embed).
    */
  def golden(spark: SparkSession, name: String, dir: String): DataFrame = {
    if (dir == null) return golden(spark, name)
    val scaled = s"$dir/fhir/$name.parquet"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(scaled)))
      readCache.computeIfAbsent((spark, scaled), { case (s, p) => s.read.parquet(p) })
    else golden(spark, name)
  }

  /** Content fingerprint of one or more dataset table files — the marker
    * value for done-marker-staged artifacts (`_dataset` files). Combines
    * the dataset path with each source file's name/size/mtime stamp
    * (recursively for directories), so regenerating data IN PLACE at the
    * same path (the GenScale rehearsal flow) changes the fingerprint and
    * forces a re-stage — a bare-path marker silently keeps the stale
    * staged artifact and lets BOTH engines agree on the wrong data.
    * Missing files stamp as "absent" rather
    * than throwing, so probing a marker never fails before the staging
    * code's own error surfaces.
    */
  def fingerprint(d: String, tables: String*): String = {
    // listFiles() returns null on I/O or permission errors — treat like
    // "absent" so marker probing never throws before staging's own error
    // surfaces; the directory's own name joins its stamp so renaming a
    // subdirectory (same file names/sizes/mtimes inside) still changes the
    // fingerprint.
    def stamp(f: java.io.File): String =
      if (!f.exists) s"${f.getName}:absent"
      else if (f.isDirectory)
        Option(f.listFiles()) match {
          case Some(fs) =>
            fs.sortBy(_.getName).map(stamp).mkString(s"${f.getName}[", ",", "]")
          case None => s"${f.getName}:unlistable"
        }
      else s"${f.getName}:${f.length}:${f.lastModified}"
    val body = tables.map(t => stamp(new java.io.File(s"$d/$t.parquet"))).mkString(";")
    d + "|" + java.lang.Long.toHexString(
      body.foldLeft(0xcbf29ce484222325L)((h, c) => (h ^ c) * 0x100000001b3L))
  }

  /** Per-dataset staging dir `<java.io.tmpdir>/<name>_<hex hash of d>` for
    * layouts a key writes once and then reads. Specs and oracle SQL compute
    * the same path, so its form is part of the key's contract.
    */
  def stagingDir(name: String, d: String): String =
    s"${sys.props("java.io.tmpdir")}/${name}_${Integer.toHexString(d.hashCode)}"
}

/** Hash-match helpers (SURVEY §7.4): double measures are cast to
  * DECIMAL(18,4) before aggregation (exact, order-independent sums), decimal
  * results rounded at DECIMAL(38,6), and every FINAL output column emitted
  * as DOUBLE. The driver's pandas hasher sees different representations for
  * Spark-parquet vs DuckDB decimals (CORRECTNESS_r01: 27 hash-fails with
  * rows+schema matching), while an identical decimal value cast to DOUBLE is
  * bit-identical in both engines. Oracle SQL mirrors this with
  * `CAST(x AS DECIMAL(38,6))::DOUBLE`.
  */
object Q {
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Final-output normalizer: exact decimal rounded to 6 dp, then DOUBLE. */
  def out6(c: Column): Column = c.cast(DecimalType(38, 6)).cast(DoubleType)
  /** Final-output form of a raw measure rounded at 4 dp. */
  def out4(c: Column): Column = c.cast(DecimalType(18, 4)).cast(DoubleType)
  val one4: Column = lit(1).cast(DecimalType(18, 4))
  /** DuckDB-side equivalents, for readability of oracle SQL strings. */
  final val D4 = "DECIMAL(18,4)"
  final val D6 = "DECIMAL(38,6)"
}
