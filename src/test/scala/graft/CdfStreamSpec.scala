package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** X267/X268 `graft-cdf`: the commit log as a Structured Streaming
  * source. Contracts under test: version-per-trigger admission and
  * exact `_commit_version` tagging, exactly-once across a kill/resume
  * (offsets ride Spark's checkpoint), the append-only mode's LOUD
  * rejection of rewrites and DV deltas, and mode=full streaming the
  * batch [[TableCommit.readChangesFull]] semantics — insert/delete
  * rows across appends, row-level deletes, and compactions. */
class CdfStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val appendSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType),
    StructField("_commit_version", LongType)))
  private val fullSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType),
    StructField("_commit_version", LongType),
    StructField("_change_type", StringType)))

  private def root(): String =
    Files.createTempDirectory("graft_cdfs_").toString + "/t"

  private def batch(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") * 10L).as("v")).coalesce(1)

  /** Drain the source under AvailableNow into a memory sink; return
    * the collected rows and drop the sink view. */
  private def drain(r: String, schema: StructType,
      opts: Map[String, String], checkpoint: Option[String] = None)
      : Seq[org.apache.spark.sql.Row] = {
    val sink = "cdfspec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    var reader = spark.readStream.format("graft-cdf").schema(schema)
      .option("root", r)
    opts.foreach { case (k, v) => reader = reader.option(k, v) }
    var writer = reader.load().writeStream.outputMode("append")
      .format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow())
    checkpoint.foreach(c => writer = writer.option("checkpointLocation", c))
    val q = writer.start()
    try q.awaitTermination()
    finally if (q.isActive) q.stop()
    val rows = spark.table(sink).collect().toIndexedSeq
    spark.catalog.dropTempView(sink)
    rows
  }

  test("append stream drains one version per trigger with exact tagging") {
    val r = root()
    (0 until 3).foreach(i =>
      TableCommit.commitAppend(batch(i * 10L, i * 10L + 10L), r,
        retain = 6))
    val rows = drain(r, appendSchema,
      Map("maxversionspertrigger" -> "1"))
    assert(rows.size === 30)
    val byVersion = rows.groupBy(_.getLong(2)).view
      .mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byVersion === Map(
      1L -> (0L until 10L).toSet,
      2L -> (10L until 20L).toSet,
      3L -> (20L until 30L).toSet))
  }

  test("kill mid-drain, resume from the checkpoint: exactly once (X206 pattern)") {
    val r = root()
    (0 until 4).foreach(i =>
      TableCommit.commitAppend(batch(i * 10L, i * 10L + 10L), r,
        retain = 8))
    val work = Files.createTempDirectory("graft_cdfs_ck_").toString
    val ck = s"$work/ck"; val out = s"$work/out"
    def run(crashAt: Option[Long]): Unit = {
      var reader = spark.readStream.format("graft-cdf")
        .schema(appendSchema).option("root", r)
        .option("maxversionspertrigger", "1")
      crashAt.foreach(v =>
        reader = reader.option("simulatecrashatversion", v.toString))
      val q = reader.load().writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
    }
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(crashAt = Some(2L))
    }
    assert(ex.getMessage.contains("simulated crash"))
    // restart WITHOUT the crash seam, same checkpoint: the committed
    // prefix must not re-emit, the rest must drain — exactly once
    run(crashAt = None)
    val got = spark.read.schema(appendSchema).parquet(out).collect()
    assert(got.length === 40, "each row exactly once across the resume")
    assert(got.map(_.getLong(0)).toSet === (0L until 40L).toSet)
    assert(got.groupBy(_.getLong(2)).view.mapValues(_.length).toMap ===
      (1L to 4L).map(_ -> 10).toMap)
  }

  test("append stream loudly rejects a rewrite version and a DV delta") {
    val r = root()
    val schemaKV = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    TableCommit.commitAppend(batch(0L, 10L), r, retain = 8)
    TableCommit.commitOverwrite(batch(0L, 5L), r, retain = 8)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(r, appendSchema, Map.empty)
    }
    assert(ex.getMessage.contains("non-append"))
    val r2 = root()
    TableCommit.commitAppend(batch(0L, 10L), r2, retain = 8)
    TableCommit.commitDeleteRows(spark, r2, schemaKV, col("k") < 3L,
      retain = 8)
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(r2, appendSchema, Map.empty)
    }
    assert(ex2.getMessage.contains("deletion-vector delta"))
  }

  test("mode=full streams the batch full-feed semantics across delete + rewrite") {
    val r = root()
    val schemaKV = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    TableCommit.commitAppend(batch(0L, 20L), r, retain = 8)          // v1
    TableCommit.commitAppend(batch(20L, 40L), r, retain = 8)         // v2
    TableCommit.commitDeleteRows(spark, r, schemaKV,                 // v3
      pmod(col("k"), lit(4L)) === 1L, retain = 8)
    val vLast = TableCommit.commitCompact(spark, r, targetFiles = 2, // v4
      sortCol = Some("k"), retain = 8)
    def key(row: org.apache.spark.sql.Row): (Long, Long, Long, String) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getString(3))
    val streamed = drain(r, fullSchema,
      Map("mode" -> "full", "maxversionspertrigger" -> "1"))
      .map(key).sorted
    val batchFeed = TableCommit.readChangesFull(spark, r, schemaKV,
      0L, vLast).collect().toIndexedSeq.map(key).sorted
    assert(streamed === batchFeed,
      "the streamed full feed must equal the batch full feed row-for-row")
    // sanity on the shape: v3 emits exactly the newly-dead rows as
    // deletes; v4 (compaction) emits delete+insert of the same live set
    val v3del = streamed.filter(t => t._3 == 3L)
    assert(v3del.forall(_._4 == "delete"))
    assert(v3del.map(_._1).toSet ===
      (0L until 40L).filter(_ % 4 == 1).toSet)
    val v4 = streamed.filter(t => t._3 == 4L)
    val live = (0L until 40L).filterNot(_ % 4 == 1).toSet
    assert(v4.filter(_._4 == "delete").map(_._1).toSet === live)
    assert(v4.filter(_._4 == "insert").map(_._1).toSet === live)
  }

  test("mode=full resumes from its checkpoint without re-emitting (kill at a delete version)") {
    val r = root()
    val schemaKV = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    TableCommit.commitAppend(batch(0L, 10L), r, retain = 8)
    TableCommit.commitAppend(batch(10L, 20L), r, retain = 8)
    val v3 = TableCommit.commitDeleteRows(spark, r, schemaKV,
      col("k") < 5L, retain = 8)
    val work = Files.createTempDirectory("graft_cdfs_fck_").toString
    val ck = s"$work/ck"; val out = s"$work/out"
    def run(crashAt: Option[Long]): Unit = {
      var reader = spark.readStream.format("graft-cdf")
        .schema(fullSchema).option("root", r)
        .option("mode", "full").option("maxversionspertrigger", "1")
      crashAt.foreach(v =>
        reader = reader.option("simulatecrashatversion", v.toString))
      val q = reader.load().writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(crashAt = Some(1L))
    }
    run(crashAt = None)
    val got = spark.read.schema(fullSchema).parquet(out).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(2), r0.getString(3)))
    val batchFeed = TableCommit.readChangesFull(spark, r, schemaKV,
      0L, v3).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(2), r0.getString(3)))
    assert(got.sorted.toSeq === batchFeed.sorted.toSeq,
      "resume must neither drop nor duplicate full-feed rows")
  }

  test("mode=full refuses an append-mode schema loudly") {
    val r = root()
    TableCommit.commitAppend(batch(0L, 5L), r, retain = 4)
    val ex = intercept[Exception] {
      drain(r, appendSchema, Map("mode" -> "full"))
    }
    assert(ex.getMessage.contains("_change_type"))
  }

  test("executor reader round-trips the full Spark-written type surface (VERDICT r11 #6)") {
    val r = root()
    val df = spark.range(0L, 7L).select(
      col("id").as("k"),
      (col("id") % 2 === 0).as("flag"),
      col("id").cast("int").as("i32"),
      col("id").cast("short").as("i16"),
      col("id").cast("byte").as("i8"),
      (col("id") * 1.5).cast("float").as("f32"),
      (col("id") * 2.5).as("f64"),
      concat(lit("s"), col("id")).as("s"),
      encode(concat(lit("b"), col("id")), "UTF-8").as("bin"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        col("id").cast("int")).as("d"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
      when(col("id") === 3L, lit(null)).otherwise(col("id")).as("nullable")
    ).coalesce(1)
    TableCommit.commitAppend(df, r, retain = 4)
    val schema = StructType(df.schema.fields :+
      StructField("_commit_version", LongType))
    val got = drain(r, schema, Map.empty)
      .map(x => x.toSeq.init.map {
        case b: Array[Byte] => new String(b, "UTF-8")
        case o => o
      })
      .sortBy(_.head.asInstanceOf[Long])
    val want = df.collect().toIndexedSeq
      .map(x => x.toSeq.map {
        case b: Array[Byte] => new String(b, "UTF-8")
        case o => o
      })
      .sortBy(_.head.asInstanceOf[Long])
    assert(got === want,
      "streamed rows must equal the Spark batch read, type for type")
  }

  private val idsSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType),
    StructField(TableCommit.RowIdCol, LongType),
    StructField("_commit_version", LongType),
    StructField("_change_type", StringType)))

  test("withrowids streams the identity feed: stream == batch across delete, update and compaction (X280)") {
    val r = root()
    val schemaKV = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    TableCommit.commitAppend(batch(0L, 10L), r, retain = 8, trackRowIds = true)  // v1
    TableCommit.commitAppend(batch(10L, 20L), r, retain = 8, trackRowIds = true) // v2
    TableCommit.commitDeleteRows(spark, r, schemaKV,                // v3
      pmod(col("k"), lit(5L)) === 0L, retain = 8)
    TableCommit.commitUpdateRows(spark, r, schemaKV,                // v4
      col("k") === 7L, Seq("v" -> lit(777L)), retain = 8,
      preserveRowIds = true)
    val vLast = TableCommit.commitCompact(spark, r, targetFiles = 2,// v5
      sortCol = Some("k"), retain = 8, preserveRowIds = true)
    def key(row: org.apache.spark.sql.Row)
        : (Long, Long, Long, Long, String) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getString(4))
    val streamed = drain(r, idsSchema, Map("mode" -> "full",
      "withrowids" -> "true", "maxversionspertrigger" -> "1"))
      .map(key).sorted
    val batchFeed = TableCommit.readChangesFullIds(spark, r, schemaKV,
      0L, vLast).collect().toIndexedSeq.map(key).sorted
    assert(streamed === batchFeed,
      "the streamed identity feed must equal readChangesFullIds " +
        "row-for-row")
    // the update is a delete+insert PAIR sharing one id (k=7 was born
    // at position 7 of the first file → id 7)
    val v4 = streamed.filter(_._4 == 4L)
    assert(v4.map(t => (t._5, t._1, t._2, t._3)).sorted === Seq(
      ("delete", 7L, 70L, 7L), ("insert", 7L, 777L, 7L)))
    // the compaction re-emits every live row under its UNCHANGED id
    val v5 = streamed.filter(_._4 == 5L)
    val liveIds = (0L until 20L).filter(_ % 5 != 0).toSet // id == k here
    assert(v5.filter(_._5 == "delete").map(_._3).toSet === liveIds)
    assert(v5.filter(_._5 == "insert").map(_._3).toSet === liveIds)
    // materialized leg reads the _row_id COLUMN: post-compact ids for
    // the updated row still 7
    assert(v5.filter(t => t._5 == "insert" && t._1 == 7L)
      .map(t => (t._2, t._3)) === Seq((777L, 7L)))
  }

  test("withrowids resumes from its checkpoint without re-emitting") {
    val r = root()
    val schemaKV = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    TableCommit.commitAppend(batch(0L, 10L), r, retain = 8, trackRowIds = true)
    TableCommit.commitAppend(batch(10L, 20L), r, retain = 8, trackRowIds = true)
    val v3 = TableCommit.commitDeleteRows(spark, r, schemaKV,
      col("k") < 5L, retain = 8)
    val work = Files.createTempDirectory("graft_cdfs_idck_").toString
    val ck = s"$work/ck"; val out = s"$work/out"
    def run(crashAt: Option[Long]): Unit = {
      var reader = spark.readStream.format("graft-cdf")
        .schema(idsSchema).option("root", r)
        .option("mode", "full").option("withrowids", "true")
        .option("maxversionspertrigger", "1")
      crashAt.foreach(v =>
        reader = reader.option("simulatecrashatversion", v.toString))
      val q = reader.load().writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(crashAt = Some(1L))
    }
    run(crashAt = None)
    val got = spark.read.schema(idsSchema).parquet(out).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(2), r0.getLong(3),
        r0.getString(4)))
    val batchFeed = TableCommit.readChangesFullIds(spark, r, schemaKV,
      0L, v3).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(2), r0.getLong(3),
        r0.getString(4)))
    assert(got.sorted.toSeq === batchFeed.sorted.toSeq,
      "resume must neither drop nor duplicate identity-feed rows")
  }

  test("decimal, array, date and timestamp columns: mode=full and withrowids streams equal the batch feeds across DV deltas, a restore and compaction") {
    val r = root()
    def rows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).select(
      col("id").as("k"),
      when(col("id") % 7L === 3L, lit(null))
        .otherwise(expr("cast(id * 1.25 as decimal(18,2))")).as("d"),
      array(col("id"), col("id") * 2L).as("a"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        col("id").cast("int")).as("dt"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("ts")
    ).coalesce(1)
    val sch = rows(0L, 1L).schema
    TableCommit.commitAppend(rows(0L, 30L), r, retain = 12, trackRowIds = true)  // v1
    val v2 = TableCommit.commitAppend(rows(30L, 60L), r,
      retain = 12, trackRowIds = true)                  // v2
    TableCommit.commitDeleteRows(spark, r, sch,                     // v3
      pmod(col("k"), lit(4L)) === 1L, retain = 12)
    TableCommit.commitRestore(r, v2, retain = 12)   // v4: DV shrink
    TableCommit.commitDeleteRows(spark, r, sch,                     // v5
      pmod(col("k"), lit(3L)) === 0L, retain = 12)
    TableCommit.commitCompact(spark, r, targetFiles = 1,            // v6
      sortCol = Some("k"), retain = 12, preserveRowIds = true)
    val vLast = TableCommit.commitDeleteRows(spark, r, sch,         // v7
      col("k") < 5L, retain = 12) // a DV delta on the rewritten file
    def canon(rs: Seq[org.apache.spark.sql.Row]): Seq[String] =
      rs.map(_.toString).sorted
    val meta = Seq(StructField("_commit_version", LongType),
      StructField("_change_type", StringType))
    val full = drain(r, StructType(sch.fields ++ meta),
      Map("mode" -> "full"))
    assert(canon(full) === canon(TableCommit.readChangesFull(spark, r,
      sch, 0L, vLast).collect().toIndexedSeq),
      "the streamed full feed must equal readChangesFull")
    assert(full.exists(x => x.getLong(5) == 4L &&
      x.getString(6) == "insert"), "the restore's DV shrink streams")
    val ids = drain(r, StructType(sch.fields ++
      (StructField(TableCommit.RowIdCol, LongType) +: meta)),
      Map("mode" -> "full", "withrowids" -> "true"))
    assert(canon(ids) === canon(TableCommit.readChangesFullIds(spark, r,
      sch, 0L, vLast).collect().toIndexedSeq),
      "the streamed identity feed must equal readChangesFullIds")
  }

  test("the full feed of every version is read(v) minus read(v-1)") {
    val r = root()
    val schemaKV = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    // live row ids after each commit, read from the table, not the feed
    val liveIds = scala.collection.mutable.Map(0L -> Set.empty[Long])
    def note(v: Long): Long = {
      liveIds(v) = TableCommit.readWithRowIds(spark, r, schemaKV)
        .collect().map(_.getLong(2)).toSet
      v
    }
    def sorted(lo: Long, hi: Long) = batch(lo, hi).sortWithinPartitions("k")
    note(TableCommit.commitAppend(sorted(0L, 20L), r, retain = 16,
      trackRowIds = true))                                             // v1
    note(TableCommit.commitAppend(sorted(20L, 40L), r, retain = 16,
      trackRowIds = true))                                             // v2
    note(TableCommit.commitUpdateRows(spark, r, schemaKV,              // v3
      col("k") === 5L, Seq("v" -> lit(555L)), retain = 16,
      preserveRowIds = true))
    val v4 = note(TableCommit.commitMergeRows(spark, r, schemaKV,      // v4
      Seq((10L, 1010L), (100L, 1000L)).toDF("k", "v"), Seq("k"),
      retain = 16, preserveRowIds = true))
    note(TableCommit.commitDeleteRows(spark, r, schemaKV,              // v5
      pmod(col("k"), lit(3L)) === 0L, retain = 16)) // inline DVs
    val v6 = note(TableCommit.commitDeleteRows(spark, r, schemaKV,     // v6
      pmod(col("k"), lit(5L)) === 1L, retain = 16, inlineDvMax = 1))
    assert(TableCommit.entriesAtVersion(r, v6).exists(
      _.stats.get(TableCommit.DvKey).exists(_.min.startsWith("@"))),
      "v6 must write sidecar DVs")
    note(TableCommit.commitRestore(r, v4, retain = 16))                // v7
    val vLast = note(TableCommit.commitCompact(spark, r,               // v8
      targetFiles = 1, sortCol = Some("k"), retain = 16,
      preserveRowIds = true))
    type Bag = Map[(Long, Long), Int]
    def bag(rows: Seq[(Long, Long)]): Bag =
      rows.groupBy(identity).map { case (x, xs) => x -> xs.size }
    def minus(a: Bag, b: Bag): Bag = (a.keySet ++ b.keySet).toSeq
      .map(x => x -> (a.getOrElse(x, 0) - b.getOrElse(x, 0)))
      .filter(_._2 != 0).toMap
    def snap(v: Long): Bag =
      if (v == 0L) Map.empty
      else bag(TableCommit.readAt(spark, r, schemaKV, v).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq)
    val expected = (1L to vLast).map(v => v -> minus(snap(v), snap(v - 1L)))
    def kv(rs: Seq[org.apache.spark.sql.Row], tpe: String) =
      rs.filter(_.getAs[String]("_change_type") == tpe)
        .map(x => (x.getLong(0), x.getLong(1)))
    def check(what: String, feed: Seq[org.apache.spark.sql.Row]): Unit = {
      val byV = feed.groupBy(_.getAs[Long]("_commit_version"))
      assert(byV.keySet.forall(v => v >= 1L && v <= vLast), what)
      expected.foreach { case (v, want) =>
        val rs = byV.getOrElse(v, Seq.empty)
        assert(minus(bag(kv(rs, "insert")), bag(kv(rs, "delete"))) === want,
          s"$what feed at v$v")
      }
    }
    // each delete id was live before its version, each insert id after
    def checkIds(what: String, feed: Seq[org.apache.spark.sql.Row]): Unit =
      feed.foreach { x =>
        val v = x.getAs[Long]("_commit_version")
        val at = if (x.getAs[String]("_change_type") == "delete") v - 1L
          else v
        assert(liveIds(at).contains(x.getAs[Long](TableCommit.RowIdCol)),
          s"$what: $x's id is not live at v$at")
      }
    check("batch", TableCommit.readChangesFull(spark, r, schemaKV, 0L,
      vLast).collect().toIndexedSeq)
    check("stream", drain(r, fullSchema, Map("mode" -> "full")))
    val batchIds = TableCommit.readChangesFullIds(spark, r, schemaKV, 0L,
      vLast).collect().toIndexedSeq
    check("batch ids", batchIds)
    checkIds("batch", batchIds)
    val streamIds = drain(r, idsSchema,
      Map("mode" -> "full", "withrowids" -> "true"))
    check("stream ids", streamIds)
    checkIds("stream", streamIds)
  }

  test("withrowids refuses append mode and untracked tables loudly") {
    val r = root()
    TableCommit.commitAppend(batch(0L, 5L), r, retain = 4) // untracked
    val exMode = intercept[Exception] {
      drain(r, idsSchema, Map("withrowids" -> "true"))
    }
    assert(exMode.getMessage.contains("mode=full"))
    val exTracked = intercept[Exception] {
      drain(r, idsSchema,
        Map("mode" -> "full", "withrowids" -> "true"))
    }
    assert(exTracked.getMessage.contains("no row lineage"))
  }
}
