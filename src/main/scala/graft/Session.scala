package graft

import org.apache.spark.sql.SparkSession

/** The one Spark posture every graft entry point and the test suite run
  * under, so a plan pinned in a spec is the plan the bench times.
  *
  * Master: `SPARK_GRAFT_MASTER`, else a master `spark-submit` already set
  * (the `local-cluster` gate and FaultDrill launch that way), else
  * `local[cpus]`. cpus: `SPARK_GRAFT_CPUS`, else the JVM's available
  * processors.
  */
object Session {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def master: String = sys.env.get("SPARK_GRAFT_MASTER")
    .orElse(sys.props.get("spark.master"))
    .getOrElse(s"local[$cpus]")

  /** Session confs of the posture (the extension and master are set by
    * [[apply]]).
    */
  def confs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // Shuffle width scales with data, not cores: with shuffle partitions
    // pinned to cpus, a 10× larger input puts 10× the bytes into each
    // reduce partition and join/agg keys go superlinear from spill alone.
    // A high initial count that AQE coalesces back keeps small-input plans
    // unchanged and reduce partitions bounded as input grows.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cpus * 16).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet may carry TIMESTAMP(NANOS), unreadable without this
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // lets the ContextCleaner free superseded reliable-checkpoint trees
    // (Ckpt.scala); a no-op under a local[...] master, which checkpoints
    // locally
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  /** Build (or join) the session. `tmpfsScratch` puts all scratch IO —
    * shuffle files, stream checkpoints, staged layouts — on a tmpfs dir
    * owned by this process, so the timing mains grade plan quality and
    * not the page cache of a disk shared with other processes. The fixed
    * cost per written file was never the disk (a 4 KB write + fsync takes
    * about 0.7 ms): it was Hadoop's local filesystem starting `chmod` and
    * `readlink` processes, which `LocalFs.scala` removes for every session.
    */
  def apply(tmpfsScratch: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(graft.opt.AnnotationRewrite.inject)
    confs.foreach { case (k, v) => b.config(k, v) }
    if (tmpfsScratch) b.config("spark.local.dir", scratch())
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with each `(key, value)` set on `s`, then restores each
    * key, or unsets it when the session had no explicit entry (`conf.get`
    * would return the default, and setting that back would leave an
    * explicit entry behind). It scopes only the work that runs inside
    * `body`: a lazy DataFrame returned from `body` executes later, under
    * the restored conf, which is why a loop that must plan under its own
    * confs runs in a child session instead.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = s.conf.getAll
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally kvs.foreach { case (k, _) =>
      prev.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      }
    }
  }

  /** Stop the session, then delete this process's tmpfs scratch dir (if
    * [[apply]] made one): tmpfs is memory, and every staged layout of the
    * run sits in it.
    */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratchDir))
  }

  private val prefix = "graft_bench_scratch_"
  private def scratchDir = s"/dev/shm/$prefix${ProcessHandle.current().pid()}"

  /** Pid-keyed so a concurrent timing process never deletes this one's
    * live shuffle files; dirs of dead pids are reaped here so crashed runs
    * do not leak tmpfs. Also becomes `java.io.tmpdir`, where the operators
    * stage their layouts.
    */
  private def scratch(): String = {
    Option(new java.io.File("/dev/shm").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
      .foreach { f =>
        val alive = f.getName.stripPrefix(prefix).toLongOption
          .exists(p => ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
        if (!alive) org.apache.commons.io.FileUtils.deleteQuietly(f)
      }
    val dir = scratchDir
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    sys.props("java.io.tmpdir") = dir
    dir
  }
}
