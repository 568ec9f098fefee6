package graft

import graft.fhir.{FhirAnnotations, FhirCodec, FhirSchema, FhirWriter}
import java.nio.file.{Files, Paths}
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
  *   once per (session, dataset fingerprint) — a [[Memo]] entry (IVF index,
  *   bigram LM, top-pair set, near-dup pairs/labels, median cuts, the
  *   bucketed catalog tables) or a staged input layout (`Tables.stage`
  *   dirs). Warm-up populates it, so repeats measure post-artifact
  *   (probe/read) work — the production posture for dataset-level
  *   artifacts, but a MEASUREMENT-BOUNDARY property a per-key comparison
  *   across commits must know about: the bench artifact lists these keys under
  *   "memoized" so a timing drop caused by moving work behind an artifact
  *   is never mistaken for a plan improvement.
  */
final case class QueryDef(
    key: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame,
    memoized: Boolean = false)

/** Loaders for the driver's synthetic star schema (TESTDATA.md) and the
  * FHIR resource tables ([[Tables.fhirDir]]).
  */
object Tables {
  val goldenDir = "/root/reference/examples"

  /** Session-scoped table reader: `spark.read.parquet` re-lists files and
    * re-reads footers on every call, a fixed cost paid by every query. A
    * DataFrame is an immutable plan that snapshots the file listing, so the
    * reader is memoized per (session, path) under the table's [[fingerprint]]:
    * an in-place regeneration re-reads instead of serving the stale listing.
    * The fingerprint is one stat per table file; the footer read and schema
    * inference are what the memo saves. Plans stay lazy, so no data is held.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Memo.get(spark, path, fingerprint(dir, name))(spark.read.parquet(path))
  }

  /** Write-once staging of a derived layout under `dir` — the one marker
    * rule every staged artifact follows. If `dir/_done` already holds `fp`
    * the layout is current and `build` is skipped. Otherwise `dir` is
    * deleted, `build` writes it afresh, and `fp` goes to `dir/_done` LAST,
    * so a build that throws leaves no marker and the next call rebuilds.
    * `fp` is the [[fingerprint]] of every table the build reads, prefixed
    * with a kernel tag where the staging code's output can change on
    * unchanged data: in-place regeneration or a kernel change then
    * re-stages instead of serving the stale layout. Spark listings and
    * `*.parquet` globs both skip the underscore-prefixed marker, so it may
    * sit inside a table dir. Returns `fp`, for a [[staged]] reader to key
    * on. Query bodies run serially on the driver, so there is no lock.
    */
  def stage(dir: String, fp: String)(build: => Unit): String = {
    val marker = Paths.get(dir, "_done")
    if (!(Files.exists(marker) && Files.readString(marker) == fp)) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      build
      Files.createDirectories(marker.getParent)
      Files.writeString(marker, fp)
    }
    fp
  }

  /** Memoized reader for a layout written by [[stage]], keyed by the `fp`
    * that stage returned so a re-stage re-reads. It keeps the timed repeats
    * of a memoized key from re-listing the staged dir, re-reading footers
    * and, through [[spread]]'s `df.rdd.getNumPartitions` on a fresh Dataset,
    * re-planning the read.
    */
  def staged(spark: SparkSession, dataDir: String, markerFp: String): DataFrame =
    Memo.get(spark, dataDir, markerFp)(spark.read.parquet(dataDir))

  /** Table `name` of dataset `d`: `build` written once to
    * `<`[[stagingDir]]`(name, d)>/data` under `fp` ([[stage]]), read
    * through [[staged]].
    */
  def stagedTable(spark: SparkSession, name: String, d: String, fp: String)(build: => DataFrame): DataFrame = {
    val dir = stagingDir(name, d)
    staged(spark, s"$dir/data", stage(dir, fp)(build.write.mode("overwrite").parquet(s"$dir/data")))
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

  /** `events` with its derived event-time columns. A TIMESTAMP(NANOS) `ts`
    * reads as int64 nanos under the posture's
    * `spark.sql.legacy.parquet.nanosAsLong` ([[Session.confs]]).
    */
  def events(spark: SparkSession, dir: String): DataFrame = withEventTime(t(spark, dir, "events"))

  /** The one form of a SQL-text key: registers each of `tables` of dataset
    * `d` as a temp view of its own name, runs `text` (binding the named
    * parameters `args`, if any) and drops the views again, so no view
    * outlives the call or binds a later query to this dataset. `spark.sql`
    * analyzes eagerly, so the returned plan already holds the resolved
    * relations and no longer needs the views. A temp view of the caller's
    * that bears one of these table names is replaced, then dropped.
    */
  def sql(spark: SparkSession, d: String, tables: String*)(text: String, args: Map[String, Any] = Map.empty): DataFrame =
    try {
      tables.foreach(name => t(spark, d, name).createOrReplaceTempView(name))
      if (args.isEmpty) spark.sql(text) else spark.sql(text, args)
    } finally tables.foreach(spark.catalog.dropTempView)

  /** FHIR resource table `r` as every FHIR key reads it for dataset `d`,
    * from where [[fhirDir]] resolves it.
    */
  def fhir(spark: SparkSession, r: String, d: String): DataFrame = t(spark, fhirDir(spark, d, r), r)

  /** The dir FHIR resource table `r` lives in for dataset `d` — the one
    * rule every FHIR reader, Verify's oracle file and the tests follow:
    *   1. `<d>/fhir` when it holds `r`: FhirGenScale rehearsals and the
    *      perfbench ingest write their resources there;
    *   2. else the spec's golden files, when present;
    *   3. else the committed NDJSON fixture, staged once ([[fhirFixture]]).
    * Oracle SQL always names the golden file ([[fhirScan]]); Verify and
    * perfbench's gate rewrite that path to the resolved one.
    */
  def fhirDir(spark: SparkSession, d: String, r: String): String = fhirDir(spark, d, r, goldenDir)

  private[graft] def fhirDir(spark: SparkSession, d: String, r: String, golden: String): String =
    if (d != null && Files.exists(Paths.get(s"$d/fhir/$r.parquet"))) s"$d/fhir"
    else if (Files.isDirectory(Paths.get(golden))) golden
    else fhirFixture(spark)

  /** `read_parquet` of FHIR table `r` as oracle SQL names it: the golden
    * file, whatever [[fhirDir]] resolves to. perfbench's gate and Verify
    * rewrite exactly this form.
    */
  def fhirScan(r: String): String = s"read_parquet('$goldenDir/$r.parquet')"

  /** (resource, its NDJSON fixture lines, the paths the golden files carry
    * a `__<leaf>_numeric` twin on (FIXTURES.md §1)); the golden files carry
    * no range or canonical annotation.
    */
  private lazy val fixture: Seq[(String, List[String], Seq[String])] = Seq(
    "Patient" -> Seq("extension.valueDecimal", "address.extension.extension.valueDecimal"),
    "Observation" -> Seq("valueQuantity.value", "component.valueQuantity.value"),
    "ExplanationOfBenefit" -> Seq(
      "item.net.value", "item.adjudication.amount.value",
      "payment.amount.value", "total.amount.value")).map { case (r, paths) =>
    val in = getClass.getResourceAsStream(s"/fhir/$r.ndjson")
    try (r, scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList, paths) finally in.close()
  }

  /** The golden layout ingested from the NDJSON fixture in
    * `src/main/resources/fhir/` (FIXTURES.md §4) through the program's own
    * path: derive → encode → annotate the golden files' numeric paths →
    * write. Staged under a kernel tag plus the fixture's content, so every
    * JVM after the first reuses it. It outlives the JVM, because
    * `tools/check.py` reads it after Verify exits.
    */
  private[graft] def fhirFixture(spark: SparkSession): String = {
    import spark.implicits._
    val dir = s"$tmp/graft_fhir_fixture"
    stage(dir, s"fhir-fixture-v1|${fixture.hashCode.toHexString}") {
      fixture.foreach { case (r, lines, paths) =>
        val text = spark.createDataset(lines)
        val enc = FhirCodec.encode(spark, text, FhirSchema.deriveSchema(spark, text))
        FhirWriter.write(paths.foldLeft(enc)(FhirAnnotations.annotateNumeric), s"$dir/$r.parquet")
      }
    }
    dir
  }

  /** Content fingerprint of one or more dataset table files — the marker
    * value [[stage]] compares. Combines the dataset path with each source
    * file's name/size/mtime stamp (recursively for directories), so
    * regenerating data IN PLACE at the same path (the GenScale rehearsal
    * flow) changes the fingerprint and forces a re-stage — a bare-path
    * marker silently keeps the stale staged artifact and lets BOTH engines
    * agree on the wrong data. Missing files stamp as "absent" rather than
    * throwing, so probing a marker never fails before the staging code's
    * own error surfaces. A same-size rewrite inside one mtime tick
    * fingerprints identically; no entry point rewrites a table that fast.
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

  private def tmp: String = sys.props("java.io.tmpdir")

  /** Per-dataset staging dir `<java.io.tmpdir>/<name>_<hex hash of d>`: the
    * one place a layout a key writes once ([[stage]]) and then reads lives,
    * so layouts of two datasets never share a path. Specs ask for the same
    * path; oracle SQL names it through [[stagedPath]].
    */
  def stagingDir(name: String, d: String): String =
    s"$tmp/${name}_${Integer.toHexString(d.hashCode)}"

  /** File `rel` of the layout staged in [[stagingDir]]`(name, _)` as oracle
    * SQL names it: `<java.io.tmpdir>/<name>/<rel>`, free of the dataset
    * because oracle SQL is written before a dataset is known. Verify
    * resolves exactly this form for its dataset ([[stagedPathForm]]).
    */
  def stagedPath(name: String, rel: String): String = s"$tmp/$name/$rel"

  /** Regex of the [[stagedPath]] form up to its layout dir; group 1 is the
    * layout's name.
    */
  private[graft] def stagedPathForm: String = java.util.regex.Pattern.quote(s"$tmp/") + """(\w+)/"""

  /** A fresh dir under `java.io.tmpdir`, deleted at JVM exit (symlinks in
    * it are removed, not followed).
    */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.toString
  }
}

/** The one in-memory memo registry: every session-scoped value built
  * from a dataset (table readers, trained models, learned cuts, checkpoint
  * pins) lives here, keyed (session, slot). A slot names what is memoized
  * and for which path; it holds exactly one entry, the `fp` the value was
  * built for, the value and its release action. `fp` is the
  * [[Tables.fingerprint]] of every table the build reads, so an in-place
  * regeneration misses and rebuilds instead of serving a result computed
  * from the old data, and the replaced entry's release runs at once, so a
  * slot never holds more than one generation. Query bodies run serially on
  * the driver, so there is no lock; a race can at worst build twice.
  */
object Memo {
  private final case class Entry(fp: String, value: Any, release: () => Unit)
  private val slots = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Entry]()
  private val keep: Any => Unit = _ => ()

  /** The value stored under (`s`, `slot`) if it was built for `fp`;
    * otherwise `build`'s value, which replaces the entry (see [[put]]).
    * `build` runs outside any map call, so it may itself use the memo.
    */
  def get[T](s: SparkSession, slot: String, fp: String, release: T => Unit)(build: => T): T = {
    val e = slots.get((s, slot))
    if (e != null && e.fp == fp) e.value.asInstanceOf[T]
    else put(s, slot, fp, build, release)
  }

  /** [[get]] for a value that holds nothing to release. */
  def get[T](s: SparkSession, slot: String, fp: String)(build: => T): T =
    get[T](s, slot, fp, keep)(build)

  /** Stores `value` under (`s`, `slot`) whatever the slot held, then runs
    * the release action of the entry it replaced; `release` runs in turn
    * when this entry is replaced.
    */
  def put[T](s: SparkSession, slot: String, fp: String, value: T, release: T => Unit): T = {
    Option(slots.put((s, slot), Entry(fp, value, () => release(value)))).foreach(_.release())
    value
  }

  /** Removes every entry held for `s`, running each one's release: for a
    * session nothing uses again, such as a replaced [[Session.child]].
    */
  private[graft] def drop(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    slots.keySet.asScala.filter(_._1 eq s).foreach(k => Option(slots.remove(k)).foreach(_.release()))
  }

  /** Test view: the sessions the memo holds entries for. */
  private[graft] def sessions: Set[SparkSession] = {
    import scala.jdk.CollectionConverters._
    slots.keySet.asScala.map(_._1).toSet
  }

  /** Test view: slot -> fp of the entries held for `s`. */
  private[graft] def fingerprints(s: SparkSession): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    slots.asScala.collect { case ((ss, slot), e) if ss eq s => slot -> e.fp }.toMap
  }
}

/** Hash-match helpers (SURVEY §7.4): double measures are cast to
  * DECIMAL(18,4) before aggregation (exact, order-independent sums), decimal
  * results rounded at DECIMAL(38,6), and every FINAL output column emitted
  * as DOUBLE. The driver's pandas hasher sees different representations for
  * Spark-parquet vs DuckDB decimals (the hash fails while rows and schema
  * match), while an identical decimal value cast to DOUBLE is
  * bit-identical in both engines. Oracle SQL mirrors this with
  * `CAST(x AS DECIMAL(38,6))::DOUBLE`.
  */
object Q {
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Final-output normalizer: exact decimal rounded to 6 dp, then DOUBLE. */
  def out6(c: Column): Column = c.cast(DecimalType(38, 6)).cast(DoubleType)
  /** Final-output mean of a DECIMAL(18,4) measure: the exact sum over the
    * count, rounded HALF_UP to 6 dp in one step, then DOUBLE.
    * `out6(avg(x))` rounds twice — avg keeps 8 places, the cast then 6 —
    * so 253491 / 9942 = 25.49698249849… became 25.496983. Here the
    * rounded mean·10⁶ is the truncated integer quotient of
    * 2·10⁶·sum ± count over 2·count, exact in decimal and long arithmetic.
    */
  def mean6(x: Column): Column = {
    val (s, n) = (sum(x), count(x))
    call_function("div", s * 2000000 + when(s < 0, -n).otherwise(n), n * 2) / 1e6
  }
  /** Final-output form of a raw measure rounded at 4 dp. */
  def out4(c: Column): Column = c.cast(DecimalType(18, 4)).cast(DoubleType)
  val one4: Column = lit(1).cast(DecimalType(18, 4))
  /** DuckDB-side equivalents, for readability of oracle SQL strings. */
  final val D4 = "DECIMAL(18,4)"
  final val D6 = "DECIMAL(38,6)"
}
