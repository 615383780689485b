package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Fixtures
import graft.streaming.Incremental

/** Streaming semantics: exactly-once-per-file incremental load, watermarked
  * windowed aggregation, and custom keyed state across micro-batches. */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("AvailableNow staging load is incremental: rerun ingests nothing new") {
    val base = Files.createTempDirectory("graft_stream_").toString
    val raw = Fixtures.writeRaw(base)
    val wh = s"$base/wh"
    val ckpt = s"$base/ckpt"
    Incremental.stagingLoad(spark, raw, wh, ckpt)
    val afterFirst = spark.read.parquet(s"$wh/staging/videos").count()
    assert(afterFirst >= 12) // all fixture video rows (+1 corrupt row)
    Incremental.stagingLoad(spark, raw, wh, ckpt)
    assert(spark.read.parquet(s"$wh/staging/videos").count() === afterFirst)
  }

  test("q_streaming_window drain equals the batch tumbling window q_time_window") {
    val sfDir = "/root/testdata/sf0.001"
    val streamed = Incremental.streamingWindowQ(spark, sfDir).collect()
    val batch = graft.operators.Stats.timeWindowQ(spark, sfDir).collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming dedup emits only the first occurrence per key across batches") {
    val ms = MemoryStream[(Timestamp, Long, String)](spark, 3)
    val deduped = Incremental.streamingDedup(
      ms.toDF().toDF("ts", "user_id", "event_type"), Seq("user_id", "event_type"))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .start()
    ms.addData(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click"),
      (Timestamp.valueOf("2024-01-01 00:01:00"), 1L, "click"), // dup in batch
      (Timestamp.valueOf("2024-01-01 00:02:00"), 2L, "view"))
    q.processAllAvailable()
    ms.addData(
      (Timestamp.valueOf("2024-01-01 00:10:00"), 1L, "click"), // dup across batch
      (Timestamp.valueOf("2024-01-01 00:11:00"), 2L, "click")) // new key pair
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out")
      .collect().map(r => (r.getLong(1), r.getString(2))).toSeq.sorted
    assert(got === Seq(1L -> "click", 2L -> "click", 2L -> "view"))
  }

  test("session_window merges events exactly gap apart (oracle uses > gap)") {
    // Pins the exact-gap semantics q_streaming_sessions' oracle depends
    // on: Spark's merge condition is newSessionStart <= currentSessionEnd
    // (currentEnd = lastEvent + gap), so a pair exactly gap apart MERGES —
    // the batch sessionizer's `> gap` split rule, NOT an end-exclusive
    // split. Batch session_window runs the same UpdatingSessionsIterator.
    import org.apache.spark.sql.functions.{col, count, lit, session_window, timestamp_seconds}
    import spark.implicits._
    val df = Seq(0L, 10L, 21L).toDF("s") // gaps: exactly 10s, then 11s
      .select(lit(1L).as("user_id"), timestamp_seconds(col("s")).as("ts"))
    val sessions = df
      .groupBy(col("user_id"), session_window(col("ts"), "10 seconds"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(sessions.length === 2,
      s"expected [0,10] merged and 21 separate, got ${sessions.length} sessions")
    assert(sessions.map(_.getLong(2)).sorted.toSeq === Seq(1L, 2L))
  }

  test("mapGroupsWithState keeps per-user counts across micro-batches") {
    val ms = MemoryStream[Incremental.UserEvent](spark, 2)
    val counts = Incremental.runningUserCounts(ms.toDS())
    val q = counts.writeStream
      .format("memory").queryName("user_counts").outputMode("update")
      .start()
    ms.addData(Incremental.UserEvent(1, "a"), Incremental.UserEvent(1, "b"),
      Incremental.UserEvent(2, "a"))
    q.processAllAvailable()
    ms.addData(Incremental.UserEvent(1, "c"))
    q.processAllAvailable()
    q.stop()
    // latest update per user reflects accumulated state
    val latest = spark.table("user_counts")
      .groupBy("user_id").agg(max("n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(latest === Map(1L -> 3L, 2L -> 1L))
  }

  test("upsert merge algebra: any batch split folds to the single-batch table") {
    // the gated q_stream_upsert run exercises bootstrap + ONE micro-batch;
    // this pins the associativity claim the oracle relies on — folding
    // arbitrary splits through upsertMerge equals the one-shot aggregate
    // (including a key appearing in several batches and ts ties broken by
    // event_id)
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), 1L, 10L, "view"),
      (ts("2024-01-02 09:00:00"), 1L, 11L, "purchase"),
      (ts("2024-01-02 09:00:00"), 1L, 12L, "view"), // ts tie → event_id wins
      (ts("2024-01-03 08:00:00"), 2L, 13L, "view"),
      (ts("2024-01-01 07:00:00"), 3L, 14L, "click"))
      .toDF("ts", "user_id", "event_id", "event_type")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("n_events"),
          col("last.ts"), col("last.event_id"), col("last.event_type"))
        .collect().map(_.toSeq).toSet
    val oneShot = Incremental.upsertKeyAgg(rows)
    for (split <- Seq(Seq(2, 3), Seq(1, 1, 3), Seq(4, 1))) {
      var parts = rows.collect().toSeq
      var folded: Option[org.apache.spark.sql.DataFrame] = None
      for (n <- split) {
        val (h, t) = parts.splitAt(n)
        parts = t
        val batch = spark.createDataFrame(
          spark.sparkContext.parallelize(h), rows.schema)
        val agg = Incremental.upsertKeyAgg(batch)
        folded = Some(folded.fold(agg)(f => Incremental.upsertMerge(f, agg)))
      }
      assert(canon(folded.get) === canon(oneShot), s"split $split diverged")
    }
  }

  test("streaming left-outer join: watermark expiry emits the no-conversion rows") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = Incremental.streamingLeftJoinQ(spark, sfDir).collect()
    val (unmatched, matched) = rows.partition(_.getLong(2) == -1L)
    // both behaviors must actually occur in the drained region: matches
    // emitted eagerly AND expiry-driven null (sentinel) rows
    assert(matched.nonEmpty, "no matched conversions in the final region")
    assert(unmatched.nonEmpty,
      "no expiry rows — the outer half of the join never fired")
    // the matched half must agree with the inner join on the same region
    val innerKeys = Incremental.streamingJoinQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    matched.foreach { r =>
      val k = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(innerKeys.contains(k), s"left-join match $k absent from inner join")
    }
    // a view is either matched or expired, never both
    val matchedViews = matched.map(r => (r.getLong(0), r.getLong(1))).toSet
    unmatched.foreach { r =>
      val v = (r.getLong(0), r.getLong(1))
      assert(!matchedViews.contains(v), s"view $v both matched and expired")
    }
  }

  test("txn sink survives the crash-replay window: committed-but-unacked batch is not double-applied (X271)") {
    import graft.engine.TableCommit
    val base = Files.createTempDirectory("graft_txnsink_").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"; val tbl = s"$base/t"
    // three single-row files → three micro-batches at maxFilesPerTrigger=1
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val crashArm = new java.io.File(s"$base/crash_armed")
    crashArm.createNewFile()
    def run(): Unit = {
      val q = spark.readStream
        .schema("k LONG, v STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          TableCommit.commitAppend(batch, tbl, txnId = Some(id), retain = 8)
          // die AFTER the table committed but BEFORE Spark records the
          // batch in its checkpoint — the exact window where a ledgered
          // sink double-applies on restart
          if (id >= 1 && crashArm.exists())
            throw new RuntimeException(s"simulated crash at txn sink batch $id")
          ()
        }
        .start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    val mid = TableCommit.read(spark, tbl,
      org.apache.spark.sql.types.StructType.fromDDL("k LONG, v STRING")).count()
    assert(mid >= 2L, s"crash fired before the batch committed (rows=$mid)")
    crashArm.delete()
    run() // restart: Spark replays the unacked batch id — must be a no-op
    val rows = TableCommit.read(spark, tbl,
      org.apache.spark.sql.types.StructType.fromDDL("k LONG, v STRING"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.sorted === Seq((0L, "v0"), (1L, "v1"), (2L, "v2")),
      s"replayed batch double-applied or lost: $rows")
  }
}
