package graft.stream

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2 J5 — watermark late-data semantics, driven with MemoryStream
  * so batch boundaries (and therefore watermark advancement) are explicit.
  */
class StreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("J5: rows older than the watermark are dropped from closed windows") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Timestamp, String)]
    val agg = ms.toDF().toDF("t", "v")
      .withWatermark("t", "10 minutes")
      .groupBy(window(col("t"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
    spark.catalog.dropTempView("graft_j5")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("graft_j5").start()
    try {
      // batch 1: one on-time row in the 09:00 window, one at 10:30 that
      // advances the watermark to 10:20 — past the 09:00 window's end.
      ms.addData((ts("2024-01-01 09:05:00"), "a"), (ts("2024-01-01 10:30:00"), "b"))
      q.processAllAvailable()
      // batch 2: a late row for the already-closed 09:00 window (dropped)
      // plus a row that advances time further so emission is observable.
      ms.addData((ts("2024-01-01 09:10:00"), "late"), (ts("2024-01-01 11:30:00"), "c"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 13:00:00"), "d"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("graft_j5")
      .select(col("w.start").cast("string").as("ws"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the 09:00 window closed with exactly the one on-time row — the late
    // arrival did not resurrect or increment it
    assert(out("2024-01-01 09:00:00") == 1L, s"late row leaked into closed window: $out")
  }

  test("streaming windowed counts equal the batch equivalent (J1 ≡ batch)") {
    val sf = SparkTestBase.sf
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val streamed = graft.SparkEntry.queries("stream_tumbling_window")(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // the stream-scoped shuffle width must not leak into the session
    assert(spark.conf.get("spark.sql.shuffle.partitions") == width)
    val ev = graft.Tables.events(spark, sf)
    val batch = ev.groupBy(date_trunc("hour", col("ts_ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }
}
