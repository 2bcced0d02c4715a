package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Append-mode watermark semantics — the reference's lateness flush (T2):
  * a window is emitted exactly once, only after the watermark passes its
  * end; in-bound late data lands in its window first. */
class StreamAppendSpec extends SparkFunSuite {
  import spark.implicits._

  private def writeBatch(dir: String, name: String,
                         rows: Seq[(Long, String, Long, String, Double, String)]): Unit = {
    rows.toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("tss").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/.stage-$name")
    // move the part file in as ONE new visible file (atomic arrival)
    val part = new java.io.File(s"$dir/.stage-$name").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dir, s"$name.parquet"))
  }

  test("append mode emits a window once, when the watermark passes it") {
    val src = SparkSpec.tmpDir("stream-src")
    val out = SparkSpec.tmpDir("stream-out")
    val ckp = SparkSpec.tmpDir("stream-ckp")

    // batch 1: hours 00 and 01 (max ts 01:10 -> watermark 00:10: nothing closes)
    writeBatch(src, "b1", Seq(
      (1L, "2026-01-01 00:05:00", 1L, "click", 1.0, "{}"),
      (2L, "2026-01-01 00:20:00", 2L, "click", 2.0, "{}"),
      (3L, "2026-01-01 01:10:00", 1L, "view", 3.0, "{}")))
    val q = EventStream.hourlyAppendToParquet(spark, src, out, ckp)
    try {
      q.processAllAvailable()
      val after1 = spark.read.schema("hour STRING, event_type STRING, n BIGINT, sum_value DOUBLE")
        .parquet(out).collect()
      assert(after1.isEmpty, "no window may close before the watermark passes it")

      // batch 2: a LATE-but-in-bound row for hour 00, plus hour 03 data that
      // pushes the watermark to 02:10 -> hours 00 and 01 finalize WITH the
      // late row included
      writeBatch(src, "b2", Seq(
        (4L, "2026-01-01 00:40:00", 3L, "click", 4.0, "{}"), // late, in bound
        (5L, "2026-01-01 03:10:00", 1L, "view", 5.0, "{}")))
      q.processAllAvailable()
      val after2 = spark.read.parquet(out)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(after2 == Set(
        ("2026-01-01 00:00:00", "click", 3L, 7.0), // late row counted
        ("2026-01-01 01:00:00", "view", 1L, 3.0)))

      // batch 3: beyond-bound late row for hour 00 is DROPPED (window closed)
      writeBatch(src, "b3", Seq(
        (6L, "2026-01-01 00:50:00", 4L, "click", 100.0, "{}"),
        (7L, "2026-01-01 05:10:00", 1L, "view", 6.0, "{}")))
      q.processAllAvailable()
      val after3 = spark.read.parquet(out)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(!after3.exists(r => r._1 == "2026-01-01 00:00:00" && r._3 != 3L),
        "closed window must not re-emit with the dropped late row")
      assert(after3.contains(("2026-01-01 03:00:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("append gate staging drops null-ts events from both batches") {
    val stage = SparkSpec.tmpDir("stream-stage") + "/stage"
    val ev = Seq[(Long, String)](
      (1L, "2026-01-01 00:05:00"), (2L, null), (3L, "2026-01-01 02:10:00"))
      .toDF("event_id", "tss")
      .select(col("event_id"), col("tss").cast("timestamp").as("ts"))
    val boundary = java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T01:00:00Z"))
    EventStream.stageBatches(ev, boundary, stage)
    val staged = spark.read.parquet(stage).select("event_id", "b").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(staged == Set((1L, "b1"), (3L, "b2")), s"staged: $staged")
  }
}
