package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.TableCommit

/** Scale soaks for the commit-log plane (VERDICT r11 tasks 2/3/7):
  *
  *   `commits <n> [checkpointEvery]` — n single-file appends; reports
  *     per-commit latency at the start vs the end of the history (the
  *     O(history) regression this would catch), cumulative manifest
  *     bytes vs the naive full-rewrite cost, one full-history
  *     changesBetween pass (the feed/stream planner's walk), and the
  *     stream-shaped incremental poll (span-sized windows).
  *
  *   `dv <files> <rowsPerFile> <deletePerMille> <inlineMax>` — the DV
  *     stress shape: delete ~frac of rows across EVERY file in one
  *     commit; reports commit latency, manifest bytes before/after,
  *     read overhead (DV'd read vs pre-delete read), full-CDF
  *     derivation cost, the post-GC heap delta around the delete (the
  *     executor-side-fold witness, VERDICT r12 task 3), and the X279
  *     melt repair cost (uniform damage = every file melts — the
  *     worst case, pricing melt-as-OPTIMIZE).
  *
  *   `melt <files> <rowsPerFile>` — the SKEWED damage shape X279
  *     exists for: 30% dead in the first ~10% of the key range (the
  *     fat files), ~0.1% elsewhere; `commitMeltDeleted(0.05)` must
  *     rewrite only the fat files, carry the rest by path, and return
  *     the read to ~plain cost while thin DVs stay.
  *
  * Results land in SCALING.md by hand. */
object ManifestSoak {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Session()
    args.headOption match {
      case Some("commits") =>
        commits(spark, args(1).toInt,
          if (args.length > 2) args(2).toInt else 16)
      case Some("dv") =>
        dv(spark, args(1).toInt, args(2).toInt, args(3).toInt,
          args(4).toInt, skipMelt = args.length > 5 && args(5) == "nomelt")
      case Some("melt") =>
        melt(spark, args(1).toInt, args(2).toInt)
      case Some("restore") =>
        restore(spark, args(1).toInt, args(2).toInt)
      case Some("pins") =>
        pins(spark, args(1).toInt, args(2).toInt)
      case Some("crossfacet") =>
        crossfacet(spark, args(1).toInt)
      case Some("bloom") =>
        bloom(spark, args(1).toInt, args(2).toInt, args(3).toInt)
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }

  private def logBytes(root: String): Long = {
    val dir = Paths.get(root, "_log")
    if (!Files.isDirectory(dir)) return 0L
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    } finally s.close()
  }

  private def commits(spark: SparkSession, n: Int, ce: Int): Unit = {
    val root = Files.createTempDirectory("graft_msoak_").toString + "/t"
    val df = spark.range(10).selectExpr("id as k", "id * 2 as v")
      .coalesce(1)
    var manifestBytes = 0L
    val lat = new Array[Double](n)
    val t0 = System.nanoTime()
    (1 to n).foreach { i =>
      val c0 = System.nanoTime()
      TableCommit.commitAppend(df, root, retain = n + 1,
        checkpointEvery = ce)
      lat(i - 1) = (System.nanoTime() - c0) / 1e9
    }
    val total = (System.nanoTime() - t0) / 1e9
    manifestBytes = logBytes(root)
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val first = med(lat.take(50).toSeq)
    val last = med(lat.takeRight(50).toSeq)
    // naive cost: every commit rewrites the full list (i entries)
    val entryLine = 120L // ~bytes per manifest entry line
    val naive = (1L to n.toLong).map(_ * entryLine).sum
    println(f"[msoak] commits=$n ce=$ce total=$total%.1f s " +
      f"medLatFirst50=$first%.4f s medLatLast50=$last%.4f s " +
      f"ratio=${last / first}%.2f")
    println(f"[msoak] manifestBytes=$manifestBytes " +
      f"naiveFullRewriteBytes~=$naive ratio=${
        manifestBytes.toDouble / naive}%.4f")
    // one full-history feed walk (what a from-zero consumer pays)
    val w0 = System.nanoTime()
    val chs = TableCommit.changesBetween(root, 0L, n.toLong)
    val walk = (System.nanoTime() - w0) / 1e9
    println(f"[msoak] changesBetween(0,$n): $walk%.2f s " +
      f"(${chs.map(_.added.size).sum} added entries)")
    // stream-shaped polling: 50-version spans across the history
    val span = 50L
    val p0 = System.nanoTime()
    var v = 0L
    var planned = 0
    while (v < n) {
      val hi = math.min(v + span, n.toLong)
      planned += TableCommit.changesBetween(root, v, hi)
        .map(_.added.size).sum
      v = hi
    }
    val poll = (System.nanoTime() - p0) / 1e9
    println(f"[msoak] incremental polls (span=$span): $poll%.2f s " +
      f"($planned planned entries)")
  }

  /** Post-GC used heap — the driver-residency witness for the
    * executor-side DV fold (VERDICT r12 task 3): the delete commit's
    * heap delta must stay file-count–sized, never positions-sized. */
  private def usedHeap(): Long = {
    System.gc(); Thread.sleep(300); System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory - rt.freeMemory
  }

  private def dv(spark: SparkSession, files: Int, rows: Int,
      perMille: Int, inlineMax: Int, skipMelt: Boolean = false): Unit = {
    val root = Files.createTempDirectory("graft_dvsoak_").toString + "/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val df = spark.range(files.toLong * rows)
      .selectExpr("id as k", "id * 2 as v").repartition(files)
    TableCommit.commitAppend(df, root, retain = 4)
    val bytesBefore = logBytes(root)
    val r0 = System.nanoTime()
    val n0 = TableCommit.read(spark, root, schema).count()
    val readPlain = (System.nanoTime() - r0) / 1e9
    val heap0 = usedHeap()
    val d0 = System.nanoTime()
    TableCommit.commitDeleteRows(spark, root, schema,
      pmod(col("k"), lit(1000L)) < perMille, retain = 4,
      inlineDvMax = inlineMax)
    val delT = (System.nanoTime() - d0) / 1e9
    val heap1 = usedHeap()
    val bytesAfter = logBytes(root)
    val sidecarBytes = {
      val dir = Paths.get(root, "_dv")
      if (!Files.isDirectory(dir)) 0L
      else {
        val s = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(Files.size).sum
        } finally s.close()
      }
    }
    val r1 = System.nanoTime()
    val n1 = TableCommit.read(spark, root, schema).count()
    val readDv = (System.nanoTime() - r1) / 1e9
    // the STRUCTURAL floor for any filtered count: a clean COUNT(*)
    // short-circuits to row-group metadata (reads zero rows), while a
    // DV'd count must stream every row index through the probe — so
    // the fair yardstick is a clean scan with a row-index filter that
    // keeps everything
    val fl0 = System.nanoTime()
    spark.read.schema(schema)
      .parquet(TableCommit.entries(root)
        .map(e => s"$root/${e.path}"): _*)
      .select(col("_metadata.row_index").as("_p"))
      .filter(col("_p") >= 0L).count()
    val floorT = (System.nanoTime() - fl0) / 1e9
    val f0 = System.nanoTime()
    val cdf = TableCommit.readChangesFull(spark, root, schema, 1L, 2L)
      .count()
    val cdfT = (System.nanoTime() - f0) / 1e9
    println(f"[dvsoak] files=$files rowsPerFile=$rows " +
      f"perMille=$perMille inlineMax=$inlineMax")
    println(f"[dvsoak] deleteCommit=$delT%.2f s deleted=${n0 - n1} " +
      f"readPlain=$readPlain%.2f s readDv=$readDv%.2f s " +
      f"overhead=${readDv / readPlain}%.2f " +
      f"filteredCleanFloor=$floorT%.2f s vsFloor=${readDv / floorT}%.2f")
    println(f"[dvsoak] manifestBytes before=$bytesBefore " +
      f"after=$bytesAfter growth=${bytesAfter - bytesBefore} " +
      f"sidecarBytes=$sidecarBytes")
    println(f"[dvsoak] fullCdf rows=$cdf in $cdfT%.2f s")
    println(f"[dvsoak] heapDelta=${(heap1 - heap0) / 1048576}%d MiB " +
      f"(post-GC, around the delete commit)")
    if (skipMelt) return
    // X279 targeted melt: rewrite only the fat files (all of them, in
    // this uniform-delete shape) and price the repair + the read after
    val m0 = System.nanoTime()
    TableCommit.commitMeltDeleted(spark, root, maxDeadRatio = 0.01,
      retain = 4)
    val meltT = (System.nanoTime() - m0) / 1e9
    val r2 = System.nanoTime()
    val n2 = TableCommit.read(spark, root, schema).count()
    val readMelted = (System.nanoTime() - r2) / 1e9
    require(n2 == n1, s"melt changed the live count: $n1 -> $n2")
    println(f"[dvsoak] melt=$meltT%.2f s readMelted=$readMelted%.2f s " +
      f"overheadAfterMelt=${readMelted / readPlain}%.2f")
  }

  private def melt(spark: SparkSession, files: Int, rows: Int): Unit = {
    val root = Files.createTempDirectory("graft_meltsoak_").toString + "/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val total = files.toLong * rows
    val df = spark.range(total).selectExpr("id as k", "id * 2 as v")
      .repartitionByRange(files, col("k"))
    TableCommit.commitAppend(df, root, retain = 4)
    val r0 = System.nanoTime()
    TableCommit.read(spark, root, schema).count()
    val readPlain = (System.nanoTime() - r0) / 1e9
    // skewed damage: 30% dead in the first ~10% of the key range
    // (range-partitioned ⇒ the first ~10% of files), ~0.1% elsewhere
    val cut = total / 10L
    TableCommit.commitDeleteRows(spark, root, schema,
      (col("k") < cut && pmod(col("k"), lit(10L)) < 3L) ||
        (col("k") >= cut && pmod(col("k"), lit(1000L)) === 7L),
      retain = 4)
    val pre = TableCommit.entries(root)
    val r1 = System.nanoTime()
    val n1 = TableCommit.read(spark, root, schema).count()
    val readDv = (System.nanoTime() - r1) / 1e9
    val m0 = System.nanoTime()
    TableCommit.commitMeltDeleted(spark, root, maxDeadRatio = 0.05,
      retain = 4)
    val meltT = (System.nanoTime() - m0) / 1e9
    val prePaths = pre.map(_.path).toSet
    val post = TableCommit.entries(root)
    val carried = post.count(e => prePaths(e.path))
    val thinDv = post.count(e => TableCommit.deletedCount(e) > 0L)
    val r2 = System.nanoTime()
    val n2 = TableCommit.read(spark, root, schema).count()
    val readMelted = (System.nanoTime() - r2) / 1e9
    require(n2 == n1, s"melt changed the live count: $n1 -> $n2")
    println(f"[meltsoak] files=$files rowsPerFile=$rows " +
      f"carriedByPath=$carried melted=${pre.size - carried} " +
      f"newFiles=${post.size - carried} thinDvKept=$thinDv")
    println(f"[meltsoak] melt=$meltT%.2f s readPlain=$readPlain%.2f s " +
      f"readDv=$readDv%.2f s (x${readDv / readPlain}%.2f) " +
      f"readMelted=$readMelted%.2f s (x${readMelted / readPlain}%.2f)")
  }

  /** X283 restore soak: the metadata-only claim at scale — restore
    * latency and bytes-moved must track the MANIFEST (file count),
    * never the data. Fixture: `files`×`rows` table, one DV delete, one
    * restore past it, one restore forward again. */
  private def restore(spark: SparkSession, files: Int, rows: Int): Unit = {
    val root = Files.createTempDirectory("graft_rsoak_").toString + "/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val df = spark.range(files.toLong * rows)
      .selectExpr("id as k", "id * 2 as v").repartition(files)
    TableCommit.commitAppend(df, root, retain = 8)
    val v1 = TableCommit.currentVersion(root).get
    val v2 = TableCommit.commitDeleteRows(spark, root, schema,
      pmod(col("k"), lit(5L)) === 0L, retain = 8)
    def dataFp(): Map[String, Long] = {
      val s = Files.walk(Paths.get(root, "data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> Files.size(p)).toMap
      } finally s.close()
    }
    val before = dataFp()
    val t0 = System.nanoTime()
    TableCommit.commitRestore(root, v1, retain = 8)
    val back = (System.nanoTime() - t0) / 1e9
    require(dataFp() == before, "restore moved data bytes")
    val t1 = System.nanoTime()
    TableCommit.commitRestore(root, v2, retain = 8)
    val fwd = (System.nanoTime() - t1) / 1e9
    require(dataFp() == before, "restore moved data bytes")
    // what a CDC mirror pays to follow the two restores: exactly the
    // resurrected/re-dead rows, never a table rescan
    val f0 = System.nanoTime()
    val feedRows = TableCommit.readChangesFull(spark, root, schema,
      v2, v2 + 2L).count()
    val feed = (System.nanoTime() - f0) / 1e9
    println(f"[rsoak] files=$files rowsPerFile=$rows " +
      f"restoreBack=$back%.3f s restoreFwd=$fwd%.3f s " +
      f"bytesMoved=0 feedRows=$feedRows feedWalk=$feed%.2f s " +
      f"manifestBytes=${logBytes(root)}")
  }

  /** X284 pin soak: retention with a pin present — per-commit latency
    * must stay flat (the pin adds one small-dir listing per retire)
    * while the pinned version's chain survives `n` retain=1 commits. */
  private def pins(spark: SparkSession, n: Int, files: Int): Unit = {
    val root = Files.createTempDirectory("graft_psoak_").toString + "/t"
    val df = spark.range(files.toLong * 10L)
      .selectExpr("id as k", "id * 2 as v").repartition(files)
    TableCommit.commitOverwrite(df, root, retain = 1)
    TableCommit.pinVersion(root, "release", 1L)
    val one = spark.range(10).selectExpr("id as k", "id * 2 as v")
      .coalesce(1)
    val lat = new Array[Double](n)
    (1 to n).foreach { i =>
      val c0 = System.nanoTime()
      TableCommit.commitOverwrite(one, root, retain = 1)
      lat(i - 1) = (System.nanoTime() - c0) / 1e9
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val n1 = TableCommit.readAt(spark, root, schema, 1L).count()
    val manifests = {
      val s = Files.list(Paths.get(root, "_log"))
      try s.count() finally s.close()
    }
    println(f"[psoak] commits=$n medLatFirst50=${med(lat.take(50).toSeq)}%.4f s " +
      f"medLatLast50=${med(lat.takeRight(50).toSeq)}%.4f s " +
      f"pinnedRowsStillReadable=$n1 manifestsPresent=$manifests")
  }

  /** `bloom <files> <rowsPerFile> <m>` (VERDICT r13 task 7 witness):
    * one many-file commit, then `commitReindexBloom` at bloom geometry
    * `m/4` — reports reindex wall time and the post-GC driver heap
    * delta across the reindex. With the executor-side fold the delta
    * must stay ~(files × m/8 bytes of hex), never (files × positions ×
    * boxed ints); a pruning probe validates the rebuilt index. */
  private def bloom(spark: SparkSession, files: Int, rows: Int,
      m: Int): Unit = {
    val root = Files.createTempDirectory("graft_bsoak_").toString + "/t"
    val df = spark.range(files.toLong * rows)
      .selectExpr("id as k", "cast(id % 1000 as string) as tag")
      .repartition(files)
    TableCommit.commitAppend(df, root, retain = 4)
    val heap0 = usedHeap()
    val t0 = System.nanoTime()
    TableCommit.commitReindexBloom(spark, root, "tag", m = m, k = 4,
      retain = 4)
    val dt = (System.nanoTime() - t0) / 1e9
    val heap1 = usedHeap()
    val kept = TableCommit.pruneAt(spark, root,
      StructType(Seq(StructField("tag", StringType))), col("tag") === "42")
      .size
    val total = TableCommit.entries(root).size
    println(f"[bsoak] files=$files rowsPerFile=$rows m=$m " +
      f"reindex=$dt%.1f s heapDelta=${(heap1 - heap0) / 1048576}%,d MB " +
      f"bloomKept=$kept/$total manifestBytes=${logBytes(root)}%,d")
  }

  /** `crossfacet <commitTarget>` (VERDICT r13 task 8): every
    * concurrency seam COMPOSED against ONE table — concurrent SQL
    * `INSERT INTO` (DSv2 two-phase write, auto-rebase) and `DELETE
    * FROM` (DV commits), a native streaming sink (exactly-once epochs
    * in a third key space), a melt/vacuum maintenance loop, and a
    * full-CDC streaming REPLICA following the whole circus — run to
    * ~`commitTarget` commits. Asserts at quiesce: (a) the SOURCE holds
    * exactly the surviving key set (every facet's writes visible,
    * none lost to a rebase), (b) the REPLICA's (k, v) checksum equals
    * the source's (the X105 reconciliation witness — CDC through
    * deletes, rewrites and replays converges), and (c) per-quintile
    * commit latency stays flat (no O(history) creep). Results land in
    * SCALING.md by hand. */
  private def crossfacet(spark: SparkSession, target: Int): Unit = {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
    val work = graft.engine.TempWarehouse.createManaged("graft_xf_")
    val wh = s"$work/wh"; val src = s"$wh/t"
    val dst = s"$work/replica"; val ck = s"$work/ck"
    val cat = "graft_xf_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set(s"spark.sql.catalog.$cat.retain", "128")
    spark.conf.set(s"spark.sql.catalog.$cat.conflictretries", "200")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val stop = new AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // key spaces: SQL inserts own k < 10^12, the stream k ≥ 10^12 —
    // so the SQL purge predicate (`k < floor`, the V1-translatable
    // shape DELETE FROM pushes) can never touch stream rows
    val insBatches = new AtomicLong(0L)   // SQL insert batches landed
    val delFloor = new AtomicLong(0L)     // SQL deletes cover k < floor*300
    val delRounds = new AtomicLong(0L)
    val melts = new AtomicLong(0L)
    val t0 = System.nanoTime()
    val commitStamps =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    def version(): Long = TableCommit.currentVersion(src).getOrElse(0L)
    def actor(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable =>
          errors.add(s"$name: ${e.getMessage}")
        }, name)
      t.setDaemon(true); t.start(); t
    }
    // SQL INSERT: 100 fresh keys per statement (low key space).
    // Paced: the feed's retention contract is "poll at least once per
    // `retain` commits" — an unthrottled producer can outrun the
    // replica's apply rate and sweep its planned files out from under
    // it (the first soak run demonstrated exactly that, loudly)
    val tIns = actor("sql-insert") {
      while (!stop.get()) {
        Thread.sleep(100L)
        val b = insBatches.get()
        spark.range(b * 100L, b * 100L + 100L)
          .selectExpr("id AS k", "id AS v")
          .createOrReplaceTempView(s"xf_ins_$cat")
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM xf_ins_$cat")
        insBatches.incrementAndGet()
        commitStamps.add(version() -> (System.nanoTime() - t0) / 1e9)
      }
    }
    // SQL DELETE: a purge of the oldest tenth of the SQL key space
    val tDel = actor("sql-delete") {
      while (!stop.get()) {
        Thread.sleep(150L)
        val upto = math.min(delFloor.get() + 10L, insBatches.get() / 10L)
        if (upto > delFloor.get()) {
          spark.sql(s"DELETE FROM $cat.t WHERE k < ${upto * 100L}")
          delFloor.set(upto)
          delRounds.incrementAndGet()
        }
      }
    }
    // maintenance: melt DV-fat files, vacuum aged debris
    val tMaint = actor("maintenance") {
      while (!stop.get()) {
        Thread.sleep(900L)
        try {
          TableCommit.commitMeltDeleted(spark, src,
            maxDeadRatio = 0.3, retain = 128)
          melts.incrementAndGet()
        } catch { case _: Throwable => () } // racing DML may conflict
        TableCommit.vacuum(src, 60000L)
      }
    }
    // native streaming sink: the high key space, exactly-once epochs
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "400").load()
      .selectExpr("value + 1000000000000L AS k", "value AS v")
      .writeStream.format("graft-table")
      .option("root", src).option("retain", "128")
      .option("conflictretries", "200")
      .option("txnappid", "xfacet-stream")
      .option("checkpointLocation", s"$ck/sink")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("300 milliseconds"))
      .start()
    // full-CDC replica: each epoch COLLAPSES to its net effect per
    // key — the row with the lexicographically greatest
    // (version, insert-flag) wins, so an insert-then-delete nets to
    // delete, a melt's same-version delete+insert nets to insert —
    // then applies as ONE upsert: DV-delete every epoch key present
    // in the replica, append the net-insert images. Two commits per
    // epoch regardless of the version span, which is what lets the
    // replica keep up inside the feed's retention window. Idempotence:
    // the append carries the epoch's MAX source version as its txn id
    // (monotone); a crash-replay re-derives the identical epoch, the
    // re-delete of dead keys is a no-op by DV construction and the
    // re-append lands zero rows.
    val feedSchema = schema.add("_commit_version", LongType,
      nullable = false).add("_change_type", StringType, nullable = false)
    def applyEpoch(batch: org.apache.spark.sql.DataFrame,
        id: Long): Unit = {
      val net = batch
        .withColumn("r", struct(col("_commit_version"),
          (col("_change_type") === "insert").cast("int").as("ins"),
          col("v")))
        .groupBy(col("k")).agg(max(col("r")).as("r"))
        .select(col("k"), col("r._commit_version").as("ver"),
          col("r.ins").as("ins"), col("r.v").as("v"))
        .collect()
      if (net.isEmpty) return
      val hi = net.map(_.getLong(1)).max
      if (TableCommit.lastTxnId(dst).exists(_ >= hi)) return
      val allKeys = net.map(_.getLong(0))
      if (TableCommit.currentVersion(dst).isDefined)
        TableCommit.commitDeleteRows(batch.sparkSession, dst, schema,
          col("k").isin(allKeys.toIndexedSeq: _*), retain = 128,
          conflictRetries = 50)
      val sess = batch.sparkSession
      import sess.implicits._
      val inserts = net.filter(_.getInt(2) == 1)
        .map(r => (r.getLong(0), r.getLong(3))).toIndexedSeq
      TableCommit.commitAppend(
        sess.createDataset(inserts).toDF("k", "v").repartition(4),
        dst, txnId = Some(hi), retain = 128, conflictRetries = 50)
    }
    val replica = spark.readStream.format("graft-cdf")
      .schema(feedSchema).option("root", src).option("mode", "full")
      .option("maxversionspertrigger", "64").load()
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        applyEpoch(b, id))
      .option("checkpointLocation", s"$ck/replica")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("300 milliseconds"))
      .start()
    // wall cap: overridable so the 1,000-commit run the docs describe
    // is actually runnable in one invocation (VERDICT r14 task 7)
    val wallCap = sys.env.get("GRAFT_SOAK_WALL_SEC")
      .map(_.toDouble).getOrElse(900.0)
    var lastReport = 0L
    while (version() < target && errors.isEmpty &&
        (System.nanoTime() - t0) / 1e9 < wallCap) {
      Thread.sleep(250L)
      val el = ((System.nanoTime() - t0) / 1e9).toLong
      if (el / 30L > lastReport) {
        lastReport = el / 30L
        println(s"[xfacet] progress: v=${version()} elapsed=${el}s " +
          s"ins=${insBatches.get()} del=${delRounds.get()} " +
          s"melts=${melts.get()}")
      }
    }
    stop.set(true)
    tIns.join(30000); tDel.join(30000); tMaint.join(30000)
    stream.stop(); stream.awaitTermination()
    // drain the replica to the quiesced head, then stop it
    val head = version()
    val drainT0 = System.nanoTime()
    val srcCount = TableCommit.read(spark, src, schema).count()
    while (TableCommit.read(spark, dst, schema).count() != srcCount &&
        (System.nanoTime() - drainT0) / 1e9 < 120.0) Thread.sleep(500L)
    Thread.sleep(2000L); replica.stop(); replica.awaitTermination()
    errors.forEach(e => println(s"[xfacet] ACTOR ERROR: $e"))
    // (a) the source holds exactly the expected surviving key set
    val expSql = (delFloor.get() * 100L until insBatches.get() * 100L)
    val gotSql = TableCommit.read(spark, src, schema)
      .filter(col("k") < 1000000000000L).collect()
      .map(_.getLong(0)).toSet
    val sqlOk = gotSql == expSql.toSet
    // (b) replica reconciliation: full (k, v) checksum equality
    def checksum(root: String): (Long, Long, Long) = {
      val r = TableCommit.read(spark, root, schema)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
          sum(col("k")), sum(expr("hash(k, v)").cast("long")))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (srcSum, dstSum) = (checksum(src), checksum(dst))
    // (c) latency flatness: per-quintile spacing of commit stamps
    val stamps = {
      import scala.jdk.CollectionConverters._
      commitStamps.asScala.toSeq.sortBy(_._1)
    }
    val q = stamps.size / 5
    val quintiles = (0 until 5).map { i =>
      val s = stamps.slice(i * q, (i + 1) * q)
      if (s.size < 2) 0.0
      else (s.last._2 - s.head._2) / math.max(1, s.size - 1)
    }
    println(f"[xfacet] commits=$head insertBatches=${insBatches.get()} " +
      f"deleteRounds=${delRounds.get()} melts=${melts.get()} " +
      f"streamEpochs=${TableCommit.lastTxnIdFor(src, "xfacet-stream")
        .getOrElse(-1L)}")
    println(s"[xfacet] sqlKeySetExact=$sqlOk srcChecksum=$srcSum " +
      s"replicaChecksum=$dstSum replicaConverged=${srcSum == dstSum}")
    println("[xfacet] perCommitLatencyByQuintile=" +
      quintiles.map(v => f"$v%.4f").mkString("[", ", ", "]") + " s")
    if (!sqlOk || srcSum != dstSum || errors.size() > 0) {
      println("[xfacet] SOAK FAILED")
      sys.exit(1)
    }
  }
}
