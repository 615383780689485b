package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit
import graft.engine.TableCommit.{ColStats, TornManifestException}

/** Round-10 TableCommit capabilities: per-file min/max stats in the
  * manifest (planning-time file skipping) and the manifest integrity
  * terminator (torn-read safety on filesystems where the CREATE_NEW
  * fallback's claim/body window exists).
  *
  * The two contracts under test, from both sides:
  *   - stats pruning is LOSSLESS (never drops a matching row) AND
  *     effective (opens strictly fewer files than the manifest lists);
  *   - readers NEVER surface a partial file list from a torn manifest —
  *     they retry then fail loudly — and an AGED torn manifest is
  *     vacuum-reclaimable, restoring the highest intact version.
  */
class ManifestStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def root(): String =
    Files.createTempDirectory("graft_ms_spec_").toString

  private val kvSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  /** 40 rows over 4 disjoint key/day ranges, range-partitioned so each
    * file's min/max are tight — the clustered layout stats want. */
  private def clusteredCommit(r: String): Unit = {
    val df = (0L until 40L).map(i =>
        (i, f"2024-01-${i / 10 + 1}%02d", s"v$i"))
      .toDF("k", "day", "v")
      .repartitionByRange(4, col("k"))
    TableCommit.commitOverwrite(df, r, statsCols = Seq("k", "day"))
  }

  test("commit writes per-file footer min/max into the manifest") {
    val r = root()
    clusteredCommit(r)
    val es = TableCommit.entries(r)
    assert(es.nonEmpty)
    // every file carries stats for both declared columns
    es.foreach { e =>
      val k = e.stats("k"); val d = e.stats("day")
      assert(k.min.toLong <= k.max.toLong)
      assert(d.min <= d.max)
    }
    // global envelope matches the data exactly
    assert(es.map(_.stats("k").min.toLong).min === 0L)
    assert(es.map(_.stats("k").max.toLong).max === 39L)
    assert(es.map(_.stats("day").min).min === "2024-01-01")
    assert(es.map(_.stats("day").max).max === "2024-01-04")
  }

  test("stats pruning opens strictly fewer files and loses no matching row") {
    val r = root()
    clusteredCommit(r)
    val all = TableCommit.entries(r)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("day", StringType), StructField("v", StringType)))
    // one day out of four: range-clustered files make most skippable
    val day2 = col("day") === "2024-01-02"
    val kept = TableCommit.pruneAt(spark, r, schema, day2)
    assert(kept.nonEmpty && kept.size < all.size,
      s"expected a strict subset, got ${kept.size} of ${all.size}")
    // LOSSLESS: pruned-scan + row filter == full-scan + row filter
    val pruned = TableCommit.read(spark, r, schema, Some(day2))
      .select("k").as[Long].collect().sorted
    val full = TableCommit.read(spark, r, schema)
      .filter(col("day") === "2024-01-02")
      .select("k").as[Long].collect().sorted
    assert(pruned.toSeq === full.toSeq && full.length === 10)
    // numeric column prunes on Long order, not string order
    val k5to9 = col("k").between(5L, 9L)
    val keptK = TableCommit.pruneAt(spark, r, schema, k5to9)
    assert(keptK.nonEmpty && keptK.size < all.size)
    val prunedK = TableCommit.read(spark, r, schema, Some(k5to9)).count()
    assert(prunedK === 5L)
  }

  test("a FLOAT equality `where` keeps the file holding the match: the read prunes by the connector's widening rule") {
    // the stats channel stores (double)0.1f = "0.10000000149011612"; a
    // comparison against the unwidened text "0.1" would prune the file
    val r = root()
    val df = Seq(0.1f, 0.5f).toDF("f")
      .select(col("f").cast("float").as("f")).coalesce(1)
    TableCommit.commitAppend(df, r, statsCols = Seq("f"))
    assert(TableCommit.entries(r).head.stats("f").min ===
      "0.10000000149011612")
    val schema = StructType(Seq(StructField("f", FloatType)))
    val eq = col("f") === 0.1f
    assert(TableCommit.pruneAt(spark, r, schema, eq).size === 1)
    assert(TableCommit.read(spark, r, schema, Some(eq)).count() === 1L)
    assert(TableCommit.read(spark, r, schema).count() === 2L)
  }

  test("string stats order by UTF-8 bytes, not UTF-16 code units (ADVICE r14): supplementary chars never prune a matching file") {
    // one file whose string envelope MUST be [U+E000…, U+1F600]: Java's
    // code-unit order would flip it (surrogate D83D < E000), and a
    // pushed equality on the emoji would then read v > max and prune
    // the very file holding the row — silent loss
    val r = root()
    val rows = Seq((1L, "tail"), (2L, "😀")) // 😀
    import spark.implicits._
    rows.toDF("k", "v").coalesce(1)
      .write.format("graft-table").option("root", r)
      .mode("append").save()
    val e = TableCommit.entries(r).head
    val vs = e.stats("v")
    assert(vs.min === "tail" && vs.max === "😀",
      s"envelope must be byte-ordered, got [${vs.min}, ${vs.max}]")
    val got = spark.read.format("graft-table").schema(kvSchema)
      .option("root", r).load()
      .filter(col("v") === "😀")
      .collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(2L),
      "the pushed filter must keep the file that holds the match")
    // and the range shape the advice named: v > U+E000… keeps it too
    assert(spark.read.format("graft-table").schema(kvSchema)
      .option("root", r).load()
      .filter(col("v") > "tail").count() === 1L)
  }

  test("footer-stats fold across row groups keeps UTF-8 byte order (review r15): surrogate extremes never flip the envelope") {
    // ONE file, TWO row groups whose string extremes straddle the
    // surrogate block: RG1 holds only U+1F600 (😀), RG2 only U+E000z.
    // UTF-16 code-unit fold would pick min=😀/max=z — reversed —
    // and a pushed equality on 😀 would then prune the file.
    val r = root()
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 32 * 1024)
    try {
      val df = spark.range(40000L).select(col("id").as("k"),
        when(col("id") < 20000L, lit("😀"))
          .otherwise(lit("z")).as("v")).coalesce(1)
      TableCommit.commitAppend(df, r, retain = 8, statsCols = Seq("v"))
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val e = TableCommit.entries(r).head
    // fixture sanity: the file really has several row groups
    val conf = spark.sessionState.newHadoopConf()
    val path = java.nio.file.Paths.get(r, e.path)
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path.toUri), conf))
    val nGroups = try rd.getFooter.getBlocks.size finally rd.close()
    assert(nGroups > 1, s"fixture needs >1 row group, got $nGroups")
    val vs = e.stats("v")
    assert(vs.min === "z" && vs.max === "😀",
      s"fold must be byte-ordered, got [${vs.min}, ${vs.max}]")
  }

  test("a column without collected stats never prunes (lossless fallback)") {
    val r = root()
    clusteredCommit(r)
    // 'v' was not in statsCols — every file must survive a predicate on it
    val kept = TableCommit.pruneAt(spark, r, kvSchema,
      col("v") === "no such value")
    assert(kept.size === TableCommit.entries(r).size)
  }

  test("stats survive append-merge republish and quote/backslash escaping") {
    val r = root()
    clusteredCommit(r)
    val before = TableCommit.entries(r).map(e => e.path -> e.stats).toMap
    // append a batch whose stats values contain JSON-active characters
    val tricky = Seq(("""a"quote""", 1L), ("""b\slash""", 2L)).toDF("v", "k")
    TableCommit.commitAppend(tricky, r, statsCols = Seq("v", "k"))
    val after = TableCommit.entries(r)
    // prior entries carried their stats through the manifest rewrite
    before.foreach { case (p, st) =>
      assert(after.find(_.path == p).get.stats === st)
    }
    val fresh = after.filterNot(e => before.contains(e.path))
    assert(fresh.nonEmpty)
    val vs = fresh.flatMap(_.stats.get("v"))
    assert(vs.map(_.min).min === """a"quote""")
    assert(vs.map(_.max).max === """b\slash""")
  }

  test("readers never surface a torn manifest: retry then fail loudly") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), r)
    val v1Files = TableCommit.entries(r).map(_.path)
    // a crashed CREATE_NEW-fallback writer: claimed v2, body truncated
    // mid-entry — no terminator line
    val torn = Paths.get(r, "_log", f"v${2L}%020d.json")
    Files.writeString(torn,
      """{"path": "data/b_dead/part-0.parquet", "part": null}""" + "\n" +
        """{"path": "data/b_dead/part-""") // torn mid-line
    val e1 = intercept[TornManifestException](TableCommit.entries(r))
    assert(e1.getMessage.contains("incomplete"))
    intercept[TornManifestException](
      TableCommit.readAt(spark, r, kvSchema, 2L).collect())
    // terminator count mismatch is torn too, not best-effort-parsed
    Files.writeString(torn,
      """{"path": "data/b_dead/part-0.parquet", "part": null}""" + "\n" +
        """{"n": 5}""" + "\n")
    intercept[TornManifestException](TableCommit.entries(r))
    // vacuum behind the age gate reclaims it → table back at intact v1
    TableCommit.vacuum(r, minAgeMs = 0L)
    assert(TableCommit.currentVersion(r) === Some(1L))
    assert(TableCommit.entries(r).map(_.path) === v1Files)
    assert(TableCommit.read(spark, r, kvSchema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("version-to-version manifest diff: replaced slices swap files, others carry forward") {
    val r = root()
    val v1 = TableCommit.commitReplacePartitions(
      Seq(("p1", 1L), ("p2", 2L)).toDF("part", "v"), r, "part", retain = 2)
    val v2 = TableCommit.commitReplacePartitions(
      Seq(("p2", 20L)).toDF("part", "v"), r, "part", retain = 2)
    val e1 = TableCommit.entriesAtVersion(r, v1)
    val e2 = TableCommit.entriesAtVersion(r, v2)
    def files(es: Seq[TableCommit.Entry], p: String) =
      es.filter(_.part.contains(p)).map(_.path).toSet
    // untouched partition: identical files (no rewrite happened)
    assert(files(e1, "p1") === files(e2, "p1") && files(e1, "p1").nonEmpty)
    // replaced partition: fully swapped (copy-on-write, disjoint batches)
    assert(files(e1, "p2").nonEmpty && files(e2, "p2").nonEmpty)
    assert((files(e1, "p2") intersect files(e2, "p2")).isEmpty)
    // both versions stay readable for the row-level diff (the X208 gate)
    val s = StructType(Seq(StructField("part", StringType),
      StructField("v", LongType)))
    assert(TableCommit.readAt(spark, r, s, v1).count() === 2L)
    assert(TableCommit.readAt(spark, r, s, v2).count() === 2L)
  }

  test("partition evolution: mixed layouts coexist and stats still prune across both") {
    val r = root()
    // generation 1: partitioned by CATEGORY; generation 2 appends the
    // later keys partitioned by BUCKET — the layout changed mid-life
    val g1 = (0L until 20L).map(i => (i, s"cat${i % 2}", f"k$i%03d"))
      .toDF("k", "cat", "kd").repartitionByRange(2, col("k"))
    val g2 = (20L until 40L).map(i => (i, s"b${i % 4}", f"k$i%03d"))
      .toDF("k", "cat", "kd").repartitionByRange(2, col("k"))
    TableCommit.commitReplacePartitions(g1, r, "cat", statsCols = Seq("kd"))
    TableCommit.commitAppend(g2, r, statsCols = Seq("kd"),
      partCol = Some("cat"))
    val es = TableCommit.entries(r)
    val partVals = es.flatMap(_.part).toSet
    assert(partVals.exists(_.startsWith("cat")) &&
      partVals.exists(_.startsWith("b")),
      s"both layout generations must be present, got $partVals")
    // a key window straddling the generation cut prunes files from BOTH
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("cat", StringType), StructField("kd", StringType)))
    val window = col("kd") >= "k015" && col("kd") <= "k025"
    val kept = TableCommit.pruneAt(spark, r, schema, window)
    assert(kept.nonEmpty && kept.size < es.size)
    val rows = TableCommit.read(spark, r, schema, Some(window))
      .select("k").as[Long].collect().sorted.toSeq
    assert(rows === (15L to 25L).toSeq)
  }

  test("commitCompact: file pile shrinks to target, content exact, stats tight") {
    val r = root()
    (0 until 5).foreach { b =>
      TableCommit.commitAppend(
        (0L until 50L).filter(_ % 5 == b).map(i => (i, s"v$i"))
          .toDF("k", "v").repartition(3), r)
    }
    val before = TableCommit.entries(r)
    assert(before.size >= 10, s"ingest should leave a file pile, got ${before.size}")
    TableCommit.commitCompact(spark, r, targetFiles = 2,
      sortCol = Some("k"), statsCols = Seq("k"))
    val after = TableCommit.entries(r)
    assert(after.size <= 2 && after.nonEmpty)
    // lossless: every key survives exactly once
    assert(TableCommit.read(spark, r, kvSchema)
      .select("k").as[Long].collect().sorted.toSeq === (0L until 50L))
    // range-sorted rewrite leaves tight stats: a narrow window prunes
    val kept = TableCommit.pruneAt(spark, r, kvSchema,
      col("k").between(0L, 5L))
    assert(kept.size < after.size || after.size == 1)
    assert(kept.size == 1)
  }

  test("commitCompact yields to a concurrent writer: maintenance aborts, data wins") {
    val r = root()
    TableCommit.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(2), r)
    // a writer lands BETWEEN the compaction's read and its publish —
    // forced deterministically through the race hook (fires once; the
    // inner commit's own publish sees the flag already set)
    @volatile var fired = false
    TableCommit.publishRaceHook = () => {
      if (!fired) {
        fired = true
        TableCommit.commitAppend(Seq((3L, "c")).toDF("k", "v"), r)
      }
    }
    try {
      intercept[TableCommit.ConcurrentCommitException](
        TableCommit.commitCompact(spark, r, targetFiles = 1))
    } finally TableCommit.publishRaceHook = () => ()
    // the concurrent writer's row is live; nothing was lost to maintenance
    assert(TableCommit.read(spark, r, kvSchema)
      .select("k").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("statsEnvelope answers COUNT/MIN/MAX with every data file DELETED (metadata-only)") {
    val r = root()
    clusteredCommit(r)
    val expected = TableCommit.statsEnvelope(r, "k", LongType)
    assert(expected === Some((40L, "0", "39")))
    // the strong zero-read proof: remove every data file; the manifest
    // alone must still answer, while an actual scan now CANNOT
    val dataDir = Paths.get(r, "data")
    import scala.jdk.CollectionConverters._
    val s = Files.walk(dataDir)
    try s.iterator().asScala.toSeq.reverse.foreach(p =>
      Files.deleteIfExists(p)) finally s.close()
    assert(TableCommit.statsEnvelope(r, "k", LongType) === expected)
    assert(TableCommit.statsEnvelope(r, "day", StringType)
      === Some((40L, "2024-01-01", "2024-01-04")))
    // a column without stats refuses rather than answering partially
    assert(TableCommit.statsEnvelope(r, "v", StringType).isEmpty)
  }

  test("stable surrogate ids: a second run never moves or recycles an assigned id") {
    val sf = "/root/testdata/sf0.001"
    val full = graft.operators.Relational.stableIdsQ(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ids are a dense 1..n permutation — no gap, no recycle, no dup
    assert(full.values.toSeq.sorted === (1L to full.size.toLong))
    // the bootstrap members' ids survive the append run untouched: the
    // first |b1| ids are exactly the sorted batch-1 keys
    val b1 = graft.engine.Tables.customer(spark, sf)
      .filter(col("c_custkey") % 3 =!= 0)
      .select("c_name").as[String].collect().distinct.sorted
    b1.zipWithIndex.foreach { case (nk, i) =>
      assert(full(nk) === i + 1L, s"bootstrap id for $nk moved")
    }
  }

  test("a YOUNG torn manifest freezes vacuum's data sweep (liveness unknown)") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), r)
    // an AGED orphan (mtime pushed an hour back) that a normal vacuum
    // pass at minAgeMs=60s would sweep…
    val orphan = TableCommit.stageBatch(Seq((9L, "x")).toDF("k", "v"), r)
    val orphanPath = Paths.get(r, orphan.head.path)
    val hourAgo = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 3600000L)
    Files.setLastModifiedTime(orphanPath, hourAgo)
    // …but a YOUNG torn manifest (fresh mtime — a fallback writer may be
    // mid-body right now) must freeze the data sweep entirely
    val torn = Paths.get(r, "_log", f"v${2L}%020d.json")
    Files.writeString(torn, """{"path": "q", "part": null}""")
    TableCommit.vacuum(r, minAgeMs = 60000L)
    assert(Files.exists(orphanPath),
      "vacuum swept a data file while a young torn manifest made liveness unjudgeable")
    // control: with the torn manifest gone the same pass sweeps the orphan
    Files.delete(torn)
    TableCommit.vacuum(r, minAgeMs = 60000L)
    assert(!Files.exists(orphanPath))
  }

  test("bloom index: lossless for every key, prunes to a strict file subset") {
    import spark.implicits._
    val r = Files.createTempDirectory("graft_bloom_spec_").toString + "/t"
    val n = 200L
    val df = spark.range(1L, n + 1L)
      .select(col("id").as("k"), (col("id") * 7L).as("v"))
      .repartition(8, col("k"))
    TableCommit.commitAppendBloom(spark, df, r, "k", m = 256, k = 4)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    val total = TableCommit.entries(r).size
    assert(total == 8, s"fixture should write 8 files, got $total")
    // manifest roundtrip: every file carries the bloom with its geometry
    TableCommit.entries(r).foreach { e =>
      val cs = e.stats.get("bloom:k")
      assert(cs.isDefined, s"${e.path}: bloom missing from manifest")
      assert(cs.get.max === "256/4" && cs.get.min.length === 64)
    }
    // LOSSLESS: every key's row survives its own pruned read
    var prunedSum = 0L
    (1L to n).foreach { key =>
      val kept = TableCommit.pruneAt(spark, r, schema, col("k") === key)
      prunedSum += kept.size
      val row = TableCommit.read(spark, r, schema, Some(col("k") === key))
        .collect()
      assert(row.length === 1 && row.head.getLong(1) === key * 7L,
        s"key $key dropped by bloom pruning")
    }
    // EFFECTIVE: on a hash-partitioned layout each key lives in one
    // file; with m=256/k=4 at ~25 keys/file the average probe must open
    // far fewer than all 8 (allow generous fp headroom)
    assert(prunedSum < n * 3, s"bloom barely prunes: avg ${prunedSum / n.toDouble}")
    // a value absent from the data usually prunes to zero files; at
    // minimum it never errors and the read returns nothing
    val ghost = TableCommit.read(spark, r, schema,
      Some(col("k") === 999999L))
    assert(ghost.count() === 0L)
    // a bloom-less table keeps everything (missing index = might match)
    val r2 = Files.createTempDirectory("graft_bloom_spec_").toString + "/t2"
    TableCommit.commitAppend(df, r2)
    assert(TableCommit.pruneAt(spark, r2, schema, col("k") === 5L).size ===
      TableCommit.entries(r2).size)
  }

  test("bloom reindex: compact drops the index losslessly; reindex is zero-copy") {
    val r = Files.createTempDirectory("graft_bloom_spec_").toString + "/t"
    val n = 120L
    val df = spark.range(1L, n + 1L)
      .select(col("id").as("k"), (col("id") * 3L).as("v"))
      .repartition(6, col("k"))
    TableCommit.commitAppendBloom(spark, df, r, "k")
    // OPTIMIZE knows nothing of blooms: the rewritten files carry none,
    // so pruning degrades to keep-all — lossless, just unindexed
    TableCommit.commitCompact(spark, r, targetFiles = 3)
    val afterCompact = TableCommit.entries(r)
    assert(afterCompact.forall(!_.stats.contains("bloom:k")))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    assert(TableCommit.pruneAt(spark, r, schema, col("k") === 7L).size ===
      afterCompact.size)
    // REINDEX: one metadata transaction — the file list is byte-identical
    // (zero data movement), only the stats channel changed
    TableCommit.commitReindexBloom(spark, r, "k")
    val afterReindex = TableCommit.entries(r)
    assert(afterReindex.map(_.path) === afterCompact.map(_.path),
      "reindex must not move data")
    assert(afterReindex.forall(_.stats.contains("bloom:k")))
    // and the restored index is lossless + effective again
    (1L to n).foreach { key =>
      val row = TableCommit.read(spark, r, schema,
        Some(col("k") === key)).collect()
      assert(row.length === 1 && row.head.getLong(1) === key * 3L)
    }
    val prunedSum = (1L to n).map(key =>
      TableCommit.pruneAt(spark, r, schema, col("k") === key).size.toLong).sum
    assert(prunedSum < n * 3, "restored index barely prunes")
  }
}
