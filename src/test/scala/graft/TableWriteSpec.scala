package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** The DSv2 write facet (X239, `graft-table`): Spark's two-phase commit
  * protocol driven into the TableCommit log — version arithmetic,
  * truncate-overwrite, task-failure atomicity, staged-file cleanup. */
class TableWriteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** X325 reports real manifest statistics, so Spark rightly
    * auto-broadcasts these small fixtures — which replaces the SPJ
    * plan these tests pin. Disable auto-broadcast (as Spark's own
    * KeyGroupedPartitioningSuite does): at the 100 TB scale SPJ
    * exists for, neither side fits a broadcast. */
  private def noBroadcast[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def root(): String =
    Files.createTempDirectory("graft_tw_spec_").toString + "/t"

  private def write(df: org.apache.spark.sql.DataFrame, r: String,
      mode: String, opts: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("graft-table").option("root", r).mode(mode)
    opts.foreach { case (k, v) => w.option(k, v) }
    w.save()
  }

  test("append commits bump one version each and accumulate rows") {
    val r = root()
    write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), r, "append")
    assert(TableCommit.currentVersion(r) === Some(1L))
    write(Seq((3L, "c")).toDF("k", "v"), r, "append")
    assert(TableCommit.currentVersion(r) === Some(2L))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // row counts rode the commit messages into the manifest (X218)
    assert(TableCommit.entries(r).flatMap(_.rows).sum === 3L)
  }

  test("overwrite truncate-replaces the whole table in one swap") {
    val r = root()
    write(Seq((1L, "junk")).toDF("k", "v"), r, "append")
    write(Seq((7L, "x"), (8L, "y")).toDF("k", "v"), r, "overwrite")
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(7L, 8L))
    assert(TableCommit.currentVersion(r) === Some(2L))
  }

  test("a failing task aborts the whole job: no version, no visible rows, no staged debris") {
    val r = root()
    write(Seq((1L, "a")).toDF("k", "v"), r, "append")
    val before = TableCommit.entries(r).map(_.path).toSet
    intercept[Exception] {
      write(Seq((2L, "b"), (3L, "c")).toDF("k", "v").repartition(2), r,
        "append", Map("failatpartition" -> "1"))
    }
    // table unchanged — the failed job never published
    assert(TableCommit.currentVersion(r) === Some(1L))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L))
    assert(TableCommit.entries(r).map(_.path).toSet === before)
    // and the aborted attempts' files are gone (task+job abort cleanup);
    // only the committed batch's directory remains under data/
    val dataDir = Paths.get(r, "data")
    val stray = {
      val s = Files.walk(dataDir)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]
        while (it.hasNext) buf += it.next()
        buf.toList
      } finally s.close()
    }
    val live = before.map(p => Paths.get(r, p).toAbsolutePath)
    val strayFiles = stray.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet") &&
      !live.contains(p.toAbsolutePath))
    assert(strayFiles.isEmpty, s"aborted staged files survived: $strayFiles")
  }

  test("written files round-trip through Spark's parquet reader with full fidelity") {
    val r = root()
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("k", "v")
    write(df, r, "append")
    val got = TableCommit.read(spark, r, schema).collect()
      .map(row => (row.getLong(0),
        Option(row.getString(1)))).toSet
    assert(got === Set((1L, Some("a")), (2L, None), (3L, Some("c"))))
  }

  test("append-mode write with conflictretries rebases over a racing commit; overwrite stays strict (X273)") {
    val r = root()
    write(Seq((1L, "a")).toDF("k", "v"), r, "append")
    // the racing append lands inside the DSv2 commit's publish window
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitAppend(Seq((50L, "z")).toDF("k", "v"), r,
        retain = 8)
      ()
    }
    try write(Seq((2L, "b")).toDF("k", "v"), r, "append",
      Map("conflictretries" -> "4", "retain" -> "8"))
    finally TableCommit.publishRaceHook = () => ()
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 50L),
      "the rebased write must keep BOTH the racing and its own rows")
    assert(TableCommit.currentVersion(r) === Some(3L))
    // overwrite NEVER rebases — "become exactly this batch" read the
    // old state by definition
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitAppend(Seq((60L, "w")).toDF("k", "v"), r,
        retain = 8)
      ()
    }
    try {
      val e = intercept[Exception] {
        write(Seq((9L, "o")).toDF("k", "v"), r, "overwrite",
          Map("conflictretries" -> "4", "retain" -> "8"))
      }
      def hasConflict(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[TableCommit.ConcurrentCommitException]
          || hasConflict(t.getCause))
      assert(hasConflict(e), s"expected a commit conflict, got $e")
    } finally TableCommit.publishRaceHook = () => ()
  }

  test("batch read facet serves live rows, prunes files by stats, is SQL-able (X289)") {
    val r = root()
    val src = spark.range(200L).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(4, col("k"))
    TableCommit.commitAppend(src, r, retain = 8, statsCols = Seq("k"))
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(10L)) === 0L, retain = 8)
    def read() = spark.read.format("graft-table").schema(schema)
      .option("root", r).load()
    // live rows only: the DV anti-applies in the reader task
    assert(read().count() === 180L)
    assert(read().filter(col("k") === 50L).count() === 0L)
    // SQL-able through Spark's own planner
    read().createOrReplaceTempView("graft_read_facet")
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft_read_facet WHERE k >= 100").collect()(0)
      .getLong(0) === 90L)
    spark.catalog.dropTempView("graft_read_facet")
    // manifest-stat FILE pruning: k >= 150 lives in 1 of 4
    // range-partitioned files; the scan must plan only that one
    val pruned = read().filter(col("k") >= 150L)
    assert(pruned.rdd.getNumPartitions === 1,
      s"expected 1 surviving file partition, got " +
        s"${pruned.rdd.getNumPartitions}")
    assert(pruned.count() === 45L)
    // column pruning survives the narrow projection
    assert(read().select(col("v")).filter(col("v") === "v123").count()
      === 1L)
  }

  test("aggregate pushdown answers COUNT/MIN/MAX from the manifest alone (X290)") {
    val r = root()
    val src = spark.range(100L).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(4, col("k"))
    TableCommit.commitAppend(src, r, retain = 8, statsCols = Seq("k"))
    def view(): String = {
      val name = "graft_agg_facet"
      spark.read.format("graft-table").schema(schema)
        .option("root", r).load().createOrReplaceTempView(name)
      name
    }
    def one(sql: String): org.apache.spark.sql.Row =
      spark.sql(sql).collect()(0)
    val v = view()
    assert(one(s"SELECT COUNT(*), MIN(k), MAX(k) FROM $v") ===
      org.apache.spark.sql.Row(100L, 0L, 99L))
    // the proof it never touches data: delete EVERY data file — the
    // manifest keeps answering
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(r, "data"))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(Files.delete)
    finally s.close()
    assert(one(s"SELECT COUNT(*), MIN(k), MAX(k) FROM ${view()}") ===
      org.apache.spark.sql.Row(100L, 0L, 99L))
    // a filtered or grouped aggregate does NOT push (rows must be
    // read) — with the files gone it fails rather than lying
    intercept[Exception] {
      one(s"SELECT COUNT(*) FROM ${view()} WHERE k > 10")
    }
    // a DV makes COUNT subtract exactly, and DISABLES min/max
    // pushdown (stats are stale-superset after a delete)
    val r2 = root()
    TableCommit.commitAppend(
      spark.range(50L).select(col("id").as("k"),
        lit("x").as("v")).coalesce(1), r2, retain = 8,
      statsCols = Seq("k"))
    TableCommit.commitDeleteRows(spark, r2, schema,
      col("k") >= 40L, retain = 8) // kills the max
    spark.read.format("graft-table").schema(schema)
      .option("root", r2).load().createOrReplaceTempView("graft_agg_dv")
    assert(one("SELECT COUNT(*), MAX(k) FROM graft_agg_dv") ===
      org.apache.spark.sql.Row(40L, 39L),
      "COUNT must subtract the DV; MAX must come from data, not stats")
    spark.catalog.dropTempView(v)
    spark.catalog.dropTempView("graft_agg_dv")
  }

  test("batch write with txnid is idempotent: a replayed job lands zero rows (X288)") {
    val r = root()
    val batch = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    write(batch, r, "append", Map("txnid" -> "7", "retain" -> "8"))
    assert(TableCommit.currentVersion(r) === Some(1L))
    // the orchestrator retry: same logical job, same txn id
    write(batch, r, "append", Map("txnid" -> "7", "retain" -> "8"))
    assert(TableCommit.currentVersion(r) === Some(1L),
      "a replayed txn id must not mint a new version")
    assert(TableCommit.read(spark, r, schema).count() === 2L)
    // the replay's re-staged files are swept as debris
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(r, "data"))
    val files = try s.iterator().asScala.filter(p =>
      Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".")).size
    finally s.close()
    assert(files === TableCommit.entries(r).size)
    // the NEXT id applies normally
    write(Seq((3L, "c")).toDF("k", "v"), r, "append",
      Map("txnid" -> "8", "retain" -> "8"))
    assert(TableCommit.read(spark, r, schema).count() === 3L)
    assert(TableCommit.lastTxnId(r) === Some(8L))
  }

  test("facet scan is COLUMNAR when DV-free, row-view when DV'd; both exact (X295)") {
    import org.apache.spark.sql.types.{BooleanType, DateType, DoubleType, TimestampType}
    val r = root()
    val src = spark.range(500L).select(
      col("id").as("k"),
      concat(lit("s"), col("id")).as("s"),
      (col("id") * 1.5).as("d"),
      (col("id") % 2 === 0).as("b"),
      to_date(lit("2024-03-01")).as("dt"),
      to_timestamp(lit("2024-03-01 10:30:00")).as("ts"))
      .repartitionByRange(4, col("k"))
    val wide = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("d", DoubleType),
      StructField("b", BooleanType), StructField("dt", DateType),
      StructField("ts", TimestampType)))
    TableCommit.commitAppend(src, r, retain = 8, statsCols = Seq("k"))
    def facet() = spark.read.format("graft-table").schema(wide)
      .option("root", r).load()
    // CLEAN table: the scan reports columnar and Spark plans its
    // codegen'd ColumnarToRow on top — the spark.read.parquet shape
    val plan = facet().queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"DV-free facet scan must serve ColumnarBatches, plan was:\n$plan")
    // every type round-trips identically to the engine read
    val viaFacet = facet().collect().map(_.toSeq).toSet
    val viaEngine = TableCommit.read(spark, r, wide).collect()
      .map(_.toSeq).toSet
    assert(viaFacet === viaEngine && viaFacet.size === 500)
    // a DV demotes the scan to the vectorized ROW view (no columnar
    // batches — one partition's skip decision is row-granular) and
    // anti-applies exactly
    TableCommit.commitDeleteRows(spark, r, wide,
      pmod(col("k"), lit(7L)) === 0L, retain = 8)
    val planDv = facet().queryExecution.executedPlan.toString
    assert(!planDv.contains("ColumnarToRow"),
      "a DV'd file must demote the whole scan to row view")
    assert(facet().collect().map(_.getLong(0)).toSet ===
      (0L until 500L).filter(_ % 7L != 0L).toSet)
    // file pruning composes with the vectorized path: one range file
    val pruned = facet().filter(col("k") >= 400L)
    assert(pruned.rdd.getNumPartitions === 1)
  }

  test("facet scan fills a column absent from older files with NULL (X295 evolution)") {
    val r = root()
    TableCommit.commitAppend(
      spark.range(10L).select(col("id").as("k")), r, retain = 8)
    val evolved = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    val rows = spark.read.format("graft-table").schema(evolved)
      .option("root", r).load().collect()
    assert(rows.length === 10 && rows.forall(_.isNullAt(1)),
      "a column missing from the file must read NULL (the schema-" +
        "evolution contract Spark's own parquet scans honor)")
  }

  test("batch txnappid namespaces the idempotence watermark (ADVICE r13)") {
    val r = root()
    // another writer (a legacy stream epoch) advances the GLOBAL
    // scalar slot far past this pipeline's ids
    TableCommit.commitAppend(Seq((1L, "s")).toDF("k", "v"), r,
      txnId = Some(100L), retain = 8)
    // a namespaced batch with a SMALLER id is NOT a replay of that
    // foreign sequence — it must apply
    write(Seq((2L, "a")).toDF("k", "v"), r, "append",
      Map("txnid" -> "7", "txnappid" -> "pipeA", "retain" -> "8"))
    assert(TableCommit.read(spark, r, schema).count() === 2L,
      "a fresh app-namespaced batch must not be swallowed by the " +
        "scalar watermark")
    assert(TableCommit.lastTxnIdFor(r, "pipeA") === Some(7L))
    // the scalar high-water is untouched by the namespaced write
    assert(TableCommit.lastTxnId(r) === Some(100L))
    // a true replay WITHIN the namespace lands zero rows
    write(Seq((2L, "a")).toDF("k", "v"), r, "append",
      Map("txnid" -> "7", "txnappid" -> "pipeA", "retain" -> "8"))
    assert(TableCommit.read(spark, r, schema).count() === 2L)
    // an independent pipeline's namespace is its own sequence
    write(Seq((3L, "b")).toDF("k", "v"), r, "append",
      Map("txnid" -> "7", "txnappid" -> "pipeB", "retain" -> "8"))
    assert(TableCommit.read(spark, r, schema).count() === 3L)
    // txnappid without txnid is a contract error, said loudly
    val ex = intercept[Exception] {
      write(Seq((4L, "c")).toDF("k", "v"), r, "append",
        Map("txnappid" -> "pipeA", "retain" -> "8"))
    }
    assert(ex.getMessage.contains("txnid") ||
      Option(ex.getCause).exists(_.getMessage.contains("txnid")))
  }

  test("native streaming sink is exactly-once across the crash-replay window (X285)") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_tw_stream_").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val tbl = s"$base/t"
    // three single-row files → three micro-batch epochs
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(src)
    }
    def run(crashAfter: Option[Long]): Unit = {
      val w = spark.readStream
        .schema("k LONG, v STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .format("graft-table")
        .option("root", tbl)
        .option("retain", "8")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
      crashAfter.foreach(e => w.option("crashafterepoch", e.toString))
      val q = w.start()
      q.awaitTermination()
    }
    // run 1 publishes epochs 0 and 1, then dies AFTER epoch 1's table
    // commit but BEFORE Spark acks it — the double-apply window
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(crashAfter = Some(1L))
    }
    assert(TableCommit.read(spark, tbl, schema).count() === 2L)
    // X291: the watermark is NAMESPACED by the query's stable id
    assert(TableCommit.txnHighWaters(tbl).values.toSeq === Seq(1L))
    // the restart REPLAYS epoch 1 (must land zero rows) then runs 2
    run(crashAfter = None)
    val got = TableCommit.read(spark, tbl, schema)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    assert(got === Seq((0L, "v0"), (1L, "v1"), (2L, "v2")),
      "each source row must land exactly once across the replay")
    assert(TableCommit.txnHighWaters(tbl).values.toSeq === Seq(2L),
      "one namespace (the stable query id), watermark at epoch 2")
    // no staged debris: every file under data/ is a published entry
    // (the replayed epoch's re-written files were swept)
    import scala.jdk.CollectionConverters._
    val onDisk = {
      val s = Files.walk(Paths.get(tbl, "data"))
      // hadoop's local FS writes a .crc sibling per file — not debris
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".")).toSeq
      finally s.close()
    }
    assert(onDisk.size === TableCommit.entries(tbl).size,
      s"replay/abort debris must be swept from the staged batch dirs; " +
        s"on disk: ${onDisk.mkString(", ")}; published: " +
        s"${TableCommit.entries(tbl).map(_.path).mkString(", ")}")
  }

  test("checkpoint reset is a NEW txn namespace: fresh epochs apply, never mistaken for replays (X291)") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_tw_reset_").toString
    val src = s"$base/src"; val tbl = s"$base/t"
    (0 until 2).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(src)
    }
    def run(ckpt: String): Unit = {
      val q = spark.readStream.schema("k LONG, v STRING")
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.format("graft-table")
        .option("root", tbl).option("retain", "8")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run(s"$base/ckpt1")
    assert(TableCommit.read(spark, tbl, schema).count() === 2L)
    // checkpoint "lost" (routine ops move): a FRESH checkpoint means a
    // fresh stable query id → fresh namespace. Epochs restart at 0 but
    // must APPLY (the table legitimately receives the source again) —
    // a single scalar watermark would silently drop all of them.
    run(s"$base/ckpt2")
    assert(TableCommit.read(spark, tbl, schema).count() === 4L,
      "a reset stream's epochs must land, not be dropped as replays")
    assert(TableCommit.txnHighWaters(tbl).size === 2,
      "two stream lives = two independent namespaces")
  }

  test("scalar-to-namespace txn migration is explicit: ambiguous tables demand txnmigrate") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_tw_migrate_").toString
    val src = s"$base/src"
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(src)
    def legacy(tbl: String): Unit =
      TableCommit.commitAppend(
        Seq((100L, "legacy")).toDF("k", "v"), tbl, txnId = Some(5L),
        retain = 8)
    def run(tbl: String, ckpt: String, migrate: Option[String]): Unit = {
      val w = spark.readStream.schema("k LONG, v STRING").parquet(src)
        .writeStream.format("graft-table")
        .option("root", tbl).option("retain", "8")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
      migrate.foreach(m => w.option("txnmigrate", m))
      val q = w.start(); q.awaitTermination()
    }
    // (a) undecidable without the option on a never-namespaced table
    val t1 = s"$base/t1"; legacy(t1)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(t1, s"$base/ck_a", None)
    }
    def msg(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msg(t.getCause)
    assert(msg(e).contains("txnmigrate"))
    assert(TableCommit.read(spark, t1, schema).count() === 1L,
      "the refused epoch must land nothing")
    // (b) "scalar": the ids were this stream's pre-upgrade life —
    // the epoch is a replay, and the namespace SEEDS at the scalar
    // watermark so the option never silently fires again
    run(t1, s"$base/ck_b", Some("scalar"))
    assert(TableCommit.read(spark, t1, schema).count() === 1L,
      "a scalar-migrated replay must land zero rows")
    assert(TableCommit.txnHighWaters(t1).values.toSeq === Seq(5L),
      "migration seeds the namespace at the scalar watermark")
    // (c) a LATER checkpoint reset with the stale option still in the
    // config must APPLY (the table is namespaced now — the reset is a
    // new life, not the old scalar era)
    run(t1, s"$base/ck_c", Some("scalar"))
    assert(TableCommit.read(spark, t1, schema).count() === 2L,
      "a stale txnmigrate option must never swallow a reset's epochs")
    // (d) "fresh" on a separate never-namespaced table: the scalar
    // ids belong to another writer, the epoch applies
    val t2 = s"$base/t2"; legacy(t2)
    run(t2, s"$base/ck_d", Some("fresh"))
    assert(TableCommit.read(spark, t2, schema).count() === 2L)
  }

  test("native streaming sink refuses per-epoch truncate (complete mode)") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_tw_complete_").toString
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$base/src")
    val e = intercept[Exception] {
      val q = spark.readStream.schema("k LONG, v STRING")
        .parquet(s"$base/src")
        .groupBy(col("v")).count()
        .writeStream
        .format("graft-table")
        .option("root", s"$base/t")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def hasMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage)
        .exists(_.contains("outputMode(\"append\") only")) ||
        hasMsg(t.getCause))
    assert(hasMsg(e), s"expected the append-only refusal, got $e")
  }

  test("a broadcast join runtime-filters whole files out of the facet scan (X313)") {
    // DPP for a manifest-planned table: the build side of a broadcast
    // join resolves to few keys at EXECUTION time, and the scan's
    // SupportsRuntimeV2Filtering hands those keys to the manifest
    // pruner — whole files drop against [min, max] before any byte is
    // read. The dim filter is on a NON-key attribute, so no static
    // rewrite can reach the fact side: only the runtime IN-set prunes.
    graft.sources.GraftScanProbe.lastRuntimeKept = None
    val r = root()
    val src = spark.range(600L).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(6, col("k"))
    TableCommit.commitAppend(src, r, retain = 8, statsCols = Seq("k"))
    assert(TableCommit.entries(r).size === 6)
    val fact = spark.read.format("graft-table").schema(schema)
      .option("root", r).load()
    // RDD-backed dim (a LocalRelation folds the filter away before the
    // pruning rule sees it) with a selective non-key predicate
    val dim = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(250L, 1), org.apache.spark.sql.Row(251L, 1),
        org.apache.spark.sql.Row(555L, 2))),
      StructType(Seq(StructField("dk", LongType),
        StructField("grp", IntegerType))))
      .filter(col("grp") === 1)
    val joined = fact.join(broadcast(dim), col("k") === col("dk"))
    assert(joined.count() === 2L)
    assert(graft.sources.GraftScanProbe.lastRuntimeKept === Some(1),
      "runtime filter did not prune to the single file holding the keys")
    // losslessness downstream of the prune: the surviving rows are right
    assert(joined.select("v").as[String].collect().sorted.toSeq ===
      Seq("v250", "v251"))
  }

  test("IN-list pruning consults [min,max] AND bloom sidecars (X313)") {
    val r = root()
    // two files with IDENTICAL key envelopes [0,90] — range stats alone
    // cannot separate them; only the bloom knows which holds which keys
    val a = Seq.tabulate(10)(i => (i * 10L, s"a$i")).toDF("k", "v")
      .coalesce(1)
    val b = Seq.tabulate(10)(i => (i * 10L + (if (i == 0) 1L else 5L),
      s"b$i")).toDF("k", "v").coalesce(1)
    TableCommit.commitAppendBloom(spark, a, r, "k", retain = 8,
      statsCols = Seq("k"))
    TableCommit.commitAppendBloom(spark, b, r, "k", retain = 8,
      statsCols = Seq("k"))
    assert(TableCommit.entries(r).size === 2)
    def read() = spark.read.format("graft-table").schema(schema)
      .option("root", r).load()
    // k IN (20, 40): both inside each file's envelope, but only file a
    // can hold them — the bloom must drop file b at PLANNING time
    val hit = read().filter(col("k").isin(20L, 40L))
    assert(hit.rdd.getNumPartitions === 1,
      s"bloom should prune to 1 file, planned ${hit.rdd.getNumPartitions}")
    assert(hit.select("v").as[String].collect().sorted.toSeq ===
      Seq("a2", "a4"))
    // equality probe takes the same path
    val eq = read().filter(col("k") === 15L)
    assert(eq.rdd.getNumPartitions === 1)
    assert(eq.collect().map(_.getString(1)).toSeq === Seq("b1"))
    // losslessness floor: every committed key still reads back through
    // an IN that names it plus a decoy
    assert(read().filter(col("k").isin(90L, 91L)).count() === 1L)
  }

  test("co-clustered tables join with ZERO shuffle (storage-partitioned join, X314)") { noBroadcast {
    // Both tables staged partitioned by g (each file single-valued,
    // provable from manifest stats); both scans declare clusterby=g and
    // report KeyGroupedPartitioning — Spark groups same-key files into
    // one task per key and aligns the sides: no exchange anywhere.
    val rA = root(); val rB = root()
    val a = spark.range(200L).select((col("id") % 8L).as("g"),
      col("id").as("x"))
    val b = spark.range(80L).select((col("id") % 8L).as("g"),
      (col("id") * 3L).as("y"))
    TableCommit.commitAppend(a, rA, retain = 8,
      statsCols = Seq("g"), partCol = Some("g"))
    TableCommit.commitAppend(b, rB, retain = 8,
      statsCols = Seq("g"), partCol = Some("g"))
    val schA = StructType(Seq(StructField("g", LongType),
      StructField("x", LongType)))
    val schB = StructType(Seq(StructField("g", LongType),
      StructField("y", LongType)))
    def rd(r: String, sch: StructType) = spark.read
      .format("graft-table").schema(sch).option("root", r)
      .option("clusterby", "g").load()
    val j = rd(rA, schA).join(rd(rB, schB), "g")
    // row-level truth against the same join over the plain frames
    val expect = a.join(b, "g")
      .agg(count(lit(1)), sum(col("x") + col("y"))).collect()(0)
    val got = j.agg(count(lit(1)), sum(col("x") + col("y"))).collect()(0)
    assert(got === expect)
    // the join plan itself: zero exchanges, one task per key group
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"a storage-partitioned join must plan zero shuffles:\n$plan")
    assert(j.rdd.getNumPartitions === 8,
      s"expected one task per key group, got ${j.rdd.getNumPartitions}")
    // the fact-to-fact shape: join keys a SUPERSET of the cluster key
    // (bucket + id) — requireAllClusterKeysForCoPartition=false admits
    // the bucket grouping as co-partitioning, still zero exchanges
    val b2 = rd(rB, schB).withColumnRenamed("g", "g2")
    val js = rd(rA, schA)
      .join(b2, col("g") === col("g2") && col("x") === col("y"))
    val expect2 = a.join(b.withColumnRenamed("g", "g2"),
      col("g") === col("g2") && col("x") === col("y")).count()
    assert(js.count() === expect2)
    val plan2 = js.queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"),
      s"a superset-key SPJ must plan zero shuffles:\n$plan2")
  } }

  test("facet scans report manifest statistics: a small dim plans BroadcastHashJoin WITHOUT AQE (VERDICT r16)") {
    val rF = root(); val rD = root()
    val fact = spark.range(50000L).select(col("id").as("k"),
      (col("id") % 97L).as("v"))
    val dim = spark.range(50L).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("name"))
    TableCommit.commitAppend(fact, rF, statsCols = Seq("k"))
    TableCommit.commitAppend(dim, rD, statsCols = Seq("k"))
    val schF = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val schD = StructType(Seq(StructField("k", LongType),
      StructField("name", StringType)))
    def rd(r: String, sch: StructType) = spark.read
      .format("graft-table").schema(sch).option("root", r).load()
    // the reported stats themselves: exact manifest rows, real bytes
    val dimStats = rd(rD, schD).queryExecution.optimizedPlan.stats
    assert(dimStats.rowCount.contains(BigInt(50)),
      s"dim rowCount should come off the manifest: $dimStats")
    val onDisk = TableCommit.entries(rD).map(e =>
      java.nio.file.Files.size(java.nio.file.Paths.get(s"$rD/${e.path}"))).sum
    assert(dimStats.sizeInBytes === BigInt(onDisk),
      s"dim sizeInBytes should be the planned files' bytes: $dimStats")
    // the plan-quality consequence: with AQE OFF, the dim still
    // auto-broadcasts at PLAN time (no SMJ, no AQE rescue needed)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = rd(rF, schF).join(rd(rD, schD), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"a 50-row facet dim must plan-time broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"), plan)
      assert(j.count() === 50L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // DV-corrected: deleting dim rows shrinks the reported rowCount
    TableCommit.commitDeleteRows(spark, rD, schD, col("k") < 10L)
    val after = rd(rD, schD).queryExecution.optimizedPlan.stats
    assert(after.rowCount.contains(BigInt(40)),
      s"numRows must subtract DV'd positions: $after")
  }

  test("nested types read through the vectorized facet, DV'd files included (VERDICT r16)") {
    val r = root()
    val sch = StructType(Seq(
      StructField("k", LongType),
      StructField("tags", ArrayType(StringType)),
      StructField("meta", StructType(Seq(StructField("w", IntegerType),
        StructField("h", IntegerType)))),
      StructField("attrs", MapType(StringType, LongType))))
    val df = spark.range(50L).select(col("id").as("k"),
      array(concat(lit("t"), col("id")), lit("x")).as("tags"),
      struct((col("id") % 10L).cast("int").as("w"),
        lit(7).as("h")).as("meta"),
      map(lit("n"), col("id")).as("attrs"))
    TableCommit.commitAppend(df, r, retain = 8, statsCols = Seq("k"))
    def read() = spark.read.format("graft-table").schema(sch)
      .option("root", r).load()
    // the scan keeps its vectorized shape — no type demote
    val ds = read()
    ds.collect()
    val desc = ds.queryExecution.executedPlan.toString
    assert(desc.contains("mode=vectorized"), desc)
    assert(!desc.contains("type demote"), desc)
    // values round-trip through the columnar decode
    val row = read().filter(col("k") === 7L).collect()(0)
    assert(row.getSeq[String](1) === Seq("t7", "x"))
    assert(row.getStruct(2).getInt(0) === 7)
    assert(row.getMap[String, Long](3)("n") === 7L)
    // a DV'd nested file keeps the vectorized ROW VIEW (the Group
    // fallback never decoded nested at all — this is new reach)
    TableCommit.commitDeleteRows(spark, r, sch, col("k") % 5L === 0L,
      retain = 8)
    assert(read().count() === 40L)
    assert(read().filter(col("k") === 10L).count() === 0L)
    val row2 = read().filter(col("k") === 7L).collect()(0)
    assert(row2.getSeq[String](1) === Seq("t7", "x"))
    assert(row2.getMap[String, Long](3)("n") === 7L)
  }

  test("runtime pruning composes with clustered scans: within-group prune + group witness (X329)") {
    val r = root()
    val sch = StructType(Seq(StructField("g", LongType),
      StructField("x", LongType)))
    (0 until 3).foreach { b =>
      val df = spark.range(200L).select((col("id") % 4L).as("g"),
        (col("id") + b * 1000L).as("x")).repartition(4, col("g"))
      TableCommit.commitAppend(df, r, retain = 8,
        statsCols = Seq("g"), partCol = Some("g"))
    }
    assert(TableCommit.entries(r).size === 12) // 4 groups × 3 files
    val fact = spark.read.format("graft-table").schema(sch)
      .option("root", r).option("clusterby", "g").load()
    val dim = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(2L, 1),
        org.apache.spark.sql.Row(7L, 2))),
      StructType(Seq(StructField("dg", LongType),
        StructField("grp", IntegerType))))
      .filter(col("grp") === 1)
    graft.sources.GraftScanProbe.lastRuntimeKept = None
    val joined = fact.join(broadcast(dim), col("g") === col("dg"))
    // the clustered scan used to DECLINE runtime filters (SCALING r15
    // "known trade"); now it prunes within groups and keeps one
    // witness file per emptied group — Spark's post-filter check
    // (identical surviving key-value set) stays satisfied
    assert(joined.count() === 150L)
    assert(graft.sources.GraftScanProbe.lastRuntimeKept === Some(6),
      "expected 3 live-group files + 3 dead-group witnesses, got " +
        graft.sources.GraftScanProbe.lastRuntimeKept)
  }

  test("layout expressions are codegen'd Invokes, not Scala UDFs (VERDICT r16)") {
    import graft.sources.{GraftBucketFn, GraftLayoutExprs}
    val df = spark.range(100L).select(col("id").as("k"),
      when(col("id") % 10L === 0L, lit(null))
        .otherwise(concat(lit("s"), col("id"))).as("v"),
      expr("timestampadd(HOUR, CAST(id AS INT), " +
        "TIMESTAMP'2024-05-01 00:00:00')").as("ts"))
    val out = df.select(
      GraftLayoutExprs.bucketCol(LongType, 8, col("k").cast("long"))
        .as("bk"),
      GraftLayoutExprs.bucketCol(StringType, 8, col("v")).as("bv"),
      GraftLayoutExprs.timeCol("days", col("ts")).as("d"),
      expr("to_date(ts)").as("d2"), // session TZ is UTC = the floor
      col("k"), col("v"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEval"),
      s"layout exprs must stay codegen'd:\n$plan")
    out.collect().foreach { r =>
      assert(r.getInt(0) === GraftBucketFn.bucketLong(8, r.getLong(4)))
      if (r.isNullAt(5)) assert(r.isNullAt(1),
        "NULL layout values must propagate to NULL buckets")
      else assert(r.getInt(1) === GraftBucketFn.bucketString(8,
        org.apache.spark.unsafe.types.UTF8String
          .fromString(r.getString(5))))
      assert(r.getDate(2) === r.getDate(3),
        "days() must agree with to_date under UTC")
    }
  }

  test("identity cluster proof requires the null witness (ADVICE r15)") {
    val r = root()
    val sch = StructType(Seq(StructField("g", LongType),
      StructField("x", LongType)))
    // min == max on g, but the file also holds a NULL — admitting the
    // layout would report KeyGroupedPartitioning and a "shuffle-free"
    // GROUP BY would emit one NULL group per task
    val mixed = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(5L, 1L),
      org.apache.spark.sql.Row(null, 2L)), sch).coalesce(1)
    TableCommit.commitAppend(mixed, r, statsCols = Seq("g"))
    val e = TableCommit.entries(r).head
    assert(e.stats("g") === TableCommit.ColStats("5", "5"))
    assert(!TableCommit.nullFree(e, "g"))
    val ds = spark.read.format("graft-table").schema(sch)
      .option("root", r).option("clusterby", "g").load()
    val agg = ds.groupBy("g").count()
    val rows = agg.collect()
    assert(rows.length === 2, s"expected {5, NULL} groups: ${rows.toSeq}")
    assert(rows.count(_.isNullAt(0)) === 1)
    // the unproven layout degraded losslessly: the shuffle is back
    assert(agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "an unwitnessed identity layout must NOT report key grouping")
    // the witness restores the proof: a null-free append to a fresh
    // root plans the same aggregate exchange-free
    val r2 = root()
    val clean = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(5L, 1L),
      org.apache.spark.sql.Row(5L, 2L)), sch).coalesce(1)
    TableCommit.commitAppend(clean, r2, statsCols = Seq("g"),
      partCol = Some("g"))
    assert(TableCommit.nullFree(TableCommit.entries(r2).head, "g"))
    val agg2 = spark.read.format("graft-table").schema(sch)
      .option("root", r2).option("clusterby", "g").load()
      .groupBy("g").count()
    assert(agg2.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      === Seq((5L, 2L)))
    assert(!agg2.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("FLOAT literals widen before stat pruning (ADVICE r15)") {
    // unit floor: the shared literal bridge widens exactly as
    // the write tasks canonicalize FLOAT stats
    assert(graft.sources.GraftBatchScan.externalLiteral(
      java.lang.Float.valueOf(0.1f), FloatType) ===
      Some(0.1f.toDouble))
    // end-to-end: a DELETE keyed on a float must not prune away the
    // file that holds its matching rows (X317 planning is lossy on a
    // wrong prune — the row would survive the delete durably)
    val r = root()
    val sch = StructType(Seq(StructField("f", FloatType),
      StructField("x", LongType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(0.1f, 1L),
      org.apache.spark.sql.Row(0.2f, 2L)), sch).coalesce(1)
    TableCommit.commitAppend(df, r, statsCols = Seq("f"))
    // the read facet prunes on Spark's own pushed filter, whose FLOAT
    // literal arrives unwidened: the matching file must survive there
    assert(spark.read.format("graft-table").schema(sch).option("root", r)
      .load().filter(col("f") === lit(0.1f)).collect()
      .map(_.getLong(1)).toSeq === Seq(1L),
      "the facet pruned the file holding f=0.1")
    TableCommit.commitDeleteRows(spark, r, sch, col("f") === lit(0.1f))
    assert(TableCommit.read(spark, r, sch).collect()
      .map(_.getLong(1)).toSeq === Seq(2L),
      "the f=0.1 row must be gone — its file was wrongly pruned")
  }
}
