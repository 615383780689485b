package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** X265 deletion vectors: row-level DELETE as merge-on-read position
  * sets in the manifest stats channel. The contracts under test:
  * zero data bytes move at delete time, reads anti-apply exactly,
  * secondary metadata (X207 stats / X254 blooms) stays lossless-
  * superset, OPTIMIZE melts DVs away, and the change feeds tell the
  * truth about row-level deletes. */
class DeletionVectorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  private def root(): String =
    Files.createTempDirectory("graft_dv_spec_").toString

  /** (path → (size, mtime)) of every data file under the root — the
    * zero-bytes-moved witness. */
  private def dataFingerprint(r: String): Map[String, (Long, Long)] = {
    val dir = Paths.get(r, "data")
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p),
          Files.getLastModifiedTime(p).toMillis)
      }.toMap
    } finally s.close()
  }

  private def seed(r: String, n: Long = 200L, files: Int = 4,
      statsCols: Seq[String] = Nil): Long = {
    val df = spark.range(n).select(col("id").as("k"),
      (col("id") * 10L).as("v")).repartition(files)
    TableCommit.commitAppend(df, r, retain = 8, statsCols = statsCols)
  }

  test("delete commit moves ZERO data bytes and reads anti-apply exactly") {
    val r = root()
    val v1 = seed(r)
    val before = dataFingerprint(r)
    val v2 = TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(7L)) === 3L, retain = 8)
    assert(v2 === v1 + 1L)
    assert(dataFingerprint(r) === before,
      "a DV delete must not touch a single data byte")
    // same FILE LIST, only the dv stat differs
    val e1 = TableCommit.entriesAtVersion(r, v1).map(_.path)
    val e2 = TableCommit.entriesAtVersion(r, v2).map(_.path)
    assert(e1 === e2)
    val got = TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet
    assert(got === (0L until 200L).filterNot(_ % 7 == 3).toSet)
    // time travel still sees the pre-delete world
    assert(TableCommit.readAt(spark, r, schema, v1).count() === 200L)
  }

  test("deletes compose across commits; re-deleting dead rows is a version no-op") {
    val r = root()
    seed(r)
    val v2 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 50L, retain = 8)
    val v3 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") >= 150L, retain = 8)
    assert(v3 === v2 + 1L)
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === (50L until 150L).toSet)
    // both predicates again: every matching row is already dead
    val v4 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 50L || col("k") >= 150L, retain = 8)
    assert(v4 === v3, "re-deleting only dead rows must not publish")
    // no matches at all: also a no-op
    val v5 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") === 100000L, retain = 8)
    assert(v5 === v3)
  }

  test("stats and bloom pruning stay LOSSLESS over deleted files (VERDICT r10 task 8)") {
    // Stats/blooms were computed over ALL rows at write time; a DV only
    // shrinks the live set, so file metadata is stale-but-SUPERSET and
    // a prune may read too much but never skip a live match. Property:
    // after deleting a stripe, EVERY remaining key is still found by
    // both prune paths.
    val r = root()
    val df = spark.range(120).select(col("id").as("k"),
      (col("id") * 10L).as("v")).repartition(6, col("k"))
    TableCommit.commitAppendBloom(spark, df, r, "k", statsCols = Seq("k"))
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(5L)) === 2L, retain = 8)
    val live = TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet
    assert(live === (0L until 120L).filterNot(_ % 5 == 2).toSet)
    live.foreach { key =>
      // min/max + bloom prune: keep files whose [min,max] and bloom
      // admit the key
      val kept = TableCommit.pruneAt(spark, r, schema, col("k") === key)
      assert(kept.nonEmpty, s"stats prune lost live key $key")
      // prune THEN read: the row itself must come back
      val hit = TableCommit.read(spark, r, schema,
        Some(col("k") === key)).count()
      assert(hit === 1L, s"bloom prune lost live key $key")
    }
    // and dead rows are really gone from the bloom-pruned read too
    val dead = TableCommit.read(spark, r, schema,
      Some(col("k") === 2L)).count()
    assert(dead === 0L)
  }

  test("OPTIMIZE melts deletion vectors: compacted files are DV-free with identical content") {
    val r = root()
    seed(r)
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(3L)) === 0L, retain = 8)
    val liveBefore = TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(TableCommit.entries(r).exists(_.stats.contains(TableCommit.DvKey)))
    TableCommit.commitCompact(spark, r, targetFiles = 2,
      sortCol = Some("k"), retain = 8)
    val es = TableCommit.entries(r)
    assert(es.forall(!_.stats.contains(TableCommit.DvKey)),
      "compaction must emit DV-free files")
    val liveAfter = TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(liveAfter === liveBefore)
  }

  test("statsEnvelope refuses a metadata-only answer once a DV exists") {
    val r = root()
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") * 10L).as("v")).repartition(2)
    TableCommit.commitAppend(df, r, retain = 8, statsCols = Seq("k"))
    val before = TableCommit.statsEnvelope(r, "k", LongType)
    assert(before === Some((100L, "0", "99")))
    // delete the row holding the global max — the envelope would lie
    TableCommit.commitDeleteRows(spark, r, schema, col("k") === 99L,
      retain = 8)
    assert(TableCommit.statsEnvelope(r, "k", LongType).isEmpty,
      "an exact envelope over a DV'd table must fall back to a scan")
  }

  test("append-only feed rejects a DV delta; full feed emits exactly the dead rows") {
    val r = root()
    val v1 = seed(r)
    val v2 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 10L, retain = 8)
    val ex = intercept[IllegalArgumentException] {
      TableCommit.readChanges(spark, r, schema, v1, v2).count()
    }
    assert(ex.getMessage.contains("deletion-vector delta"))
    val feed = TableCommit.readChangesFull(spark, r, schema, v1, v2)
      .collect()
    assert(feed.forall(_.getAs[String]("_change_type") == "delete"))
    assert(feed.forall(_.getAs[Long]("_commit_version") == v2))
    assert(feed.map(_.getLong(0)).toSet === (0L until 10L).toSet,
      "the full feed must emit exactly the newly-dead rows")
    // a second delete only feeds its OWN fresh positions
    val v3 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 20L, retain = 8)
    val feed2 = TableCommit.readChangesFull(spark, r, schema, v2, v3)
      .collect()
    assert(feed2.map(_.getLong(0)).toSet === (10L until 20L).toSet,
      "already-dead positions must not re-feed")
  }

  test("a shallow clone carries the source's DVs and reads live") {
    val r = root()
    seed(r)
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(2L)) === 1L, retain = 8)
    val dst = root()
    TableCommit.cloneTable(r, dst, retain = 8)
    val got = TableCommit.read(spark, dst, schema)
      .collect().map(_.getLong(0)).toSet
    assert(got === (0L until 200L).filter(_ % 2 == 0).toSet,
      "clone must inherit the source's deletion vectors")
  }

  private def sidecars(r: String): Seq[Path] = {
    val dir = Paths.get(r, "_dv")
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
      } finally s.close()
    }
  }

  test("sidecar DVs (X269): manifest stays metadata-sized, reads identical, lifecycle sweeps orphans") {
    val r = root()
    val df = spark.range(2000).select(col("id").as("k"),
      (col("id") * 10L).as("v")).repartition(4)
    TableCommit.commitAppend(df, r, retain = 1)
    val v2 = TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(2L)) === 1L, retain = 1, inlineDvMax = 10)
    val es = TableCommit.entries(r)
    assert(es.forall(e =>
      e.stats.get(TableCommit.DvKey).exists(_.min.startsWith("@"))),
      "every DV above the inline threshold must be a sidecar ref")
    // the count rides the stat's max slot — no decode needed
    assert(es.map(TableCommit.deletedCount).sum === 1000L)
    // the manifest carries refs, not position lists
    val msize = Files.size(Paths.get(r, "_log", f"v$v2%020d.json"))
    assert(msize < 4096L, s"manifest grew position-sized: $msize bytes")
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet ===
      (0L until 2000L).filter(_ % 2 == 0).toSet)
    // referenced sidecars survive even an age-0 vacuum
    assert(sidecars(r).nonEmpty)
    TableCommit.vacuum(r, 0L)
    assert(sidecars(r).nonEmpty, "a referenced sidecar must never sweep")
    assert(TableCommit.read(spark, r, schema).count() === 1000L)
    // OPTIMIZE melts the DVs; with the referencing manifests retired,
    // the aged sweep reclaims the now-orphan sidecars
    TableCommit.commitCompact(spark, r, targetFiles = 2,
      sortCol = Some("k"), retain = 1)
    TableCommit.vacuum(r, 0L)
    assert(sidecars(r).isEmpty, "unreferenced sidecars must sweep")
    assert(TableCommit.read(spark, r, schema).count() === 1000L)
  }

  test("sidecar DVs compose and stay idempotent across delete commits") {
    val r = root()
    val df = spark.range(1000).select(col("id").as("k"),
      (col("id") * 10L).as("v")).repartition(2)
    TableCommit.commitAppend(df, r, retain = 8)
    val v2 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 300L, retain = 8, inlineDvMax = 10)
    val v3 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") >= 700L, retain = 8, inlineDvMax = 10)
    assert(v3 === v2 + 1L)
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === (300L until 700L).toSet)
    // re-deleting dead rows: position-level no-op — no version churn,
    // no freshly-minted sidecar
    val before = sidecars(r).map(_.toString).toSet
    val v4 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 300L, retain = 8, inlineDvMax = 10)
    assert(v4 === v3, "re-deleting only dead rows must not publish")
    assert(sidecars(r).map(_.toString).toSet === before,
      "a no-op delete must not mint sidecar files")
    // the full feed decodes sidecar DV deltas exactly
    val feed = TableCommit.readChangesFull(spark, r, schema, v2, v3)
      .collect()
    assert(feed.map(_.getLong(0)).toSet === (700L until 1000L).toSet)
  }

  test("a clone absolutizes sidecar DV refs and pins them against source retention") {
    val r = root()
    val df = spark.range(1000).select(col("id").as("k"),
      (col("id") * 10L).as("v")).repartition(4)
    TableCommit.commitAppend(df, r, retain = 1)
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(3L)) === 0L, retain = 1, inlineDvMax = 10)
    val dst = root()
    TableCommit.cloneTable(r, dst, retain = 1)
    assert(TableCommit.entries(dst).forall(e =>
      e.stats.get(TableCommit.DvKey).exists(_.min.startsWith("@/"))),
      "a cloned sidecar ref must be absolute (source-owned)")
    val expect = (0L until 1000L).filterNot(_ % 3 == 0).toSet
    assert(TableCommit.read(spark, dst, schema)
      .collect().map(_.getLong(0)).toSet === expect)
    // source compacts (melts its own DVs) and vacuums aggressively:
    // the clone's data files AND sidecar vectors are registry-pinned
    TableCommit.commitCompact(spark, r, targetFiles = 2,
      sortCol = Some("k"), retain = 1)
    TableCommit.vacuum(r, 0L)
    assert(TableCommit.read(spark, dst, schema)
      .collect().map(_.getLong(0)).toSet === expect,
      "source retention must not break a registered clone's sidecars")
  }

  test("row-level UPDATE (X270): one atomic commit, no resurrection of deleted rows") {
    val r = root()
    seed(r) // k in [0, 200), v = 10k
    // kill a stripe first: an update predicate that ALSO matches dead
    // rows must not bring them back
    TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 40L, retain = 8)
    val v3 = TableCommit.commitUpdateRows(spark, r, schema,
      pmod(col("k"), lit(10L)) === 2L,
      Seq("v" -> (col("v") + 1L)), retain = 8)
    val got = TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toMap
    assert(got.keySet === (40L until 200L).toSet,
      "update must neither drop rows nor resurrect deleted ones")
    (40L until 200L).foreach { k =>
      val expect = if (k % 10 == 2) k * 10 + 1 else k * 10
      assert(got(k) === expect, s"k=$k")
    }
    // exactly one version for the whole update; a no-match update is a
    // version no-op
    assert(TableCommit.currentVersion(r) === Some(v3))
    val v4 = TableCommit.commitUpdateRows(spark, r, schema,
      col("k") === 999999L, Seq("v" -> lit(0L)), retain = 8)
    assert(v4 === v3)
    // full feed tells the truth: delete leg carries OLD values, insert
    // leg NEW, same version
    val feed = TableCommit.readChangesFull(spark, r, schema, v3 - 1L, v3)
      .collect()
    val dels = feed.filter(_.getString(3) == "delete")
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    val ins = feed.filter(_.getString(3) == "insert")
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    val touched = (40L until 200L).filter(_ % 10 == 2)
    assert(dels === touched.map(k => (k, k * 10)).toSet)
    assert(ins === touched.map(k => (k, k * 10 + 1)).toSet)
  }

  test("merge-on-read MERGE (X272): upsert replaces matched rows, inserts new, bootstraps empty") {
    val r = root()
    // bootstrap: merge into an empty table is a plain insert
    val boot = spark.range(100).select(col("id").as("k"),
      (col("id") * 10L).as("v")).coalesce(2)
    TableCommit.commitMergeRows(spark, r, schema, boot, Seq("k"),
      retain = 8)
    assert(TableCommit.read(spark, r, schema).count() === 100L)
    // upsert: 20 updated images + 10 new keys
    val batch = spark.range(20).select((col("id") * 5L).as("k"),
      lit(7L).as("v"))
      .unionByName(spark.range(10).select((col("id") + 1000L).as("k"),
        (col("id")).as("v"))).coalesce(1)
    TableCommit.commitMergeRows(spark, r, schema, batch, Seq("k"),
      retain = 8)
    val got = TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toMap
    assert(got.size === 110)
    (0L until 100L).foreach { k =>
      val expect = if (k % 5 == 0) 7L else k * 10
      assert(got(k) === expect, s"k=$k")
    }
    (1000L until 1010L).foreach(k => assert(got(k) === k - 1000L))
    // idempotent re-merge of the same batch: values unchanged, and the
    // matched rows' DVs simply grow over the now-dead prior images
    TableCommit.commitMergeRows(spark, r, schema, batch, Seq("k"),
      retain = 8)
    val again = TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toMap
    assert(again === got, "re-applying the same upsert must be stable")
  }

  test("shuffle MoR MERGE (X305): above the broadcast ceiling the router shuffles and semantics are identical") {
    // two tables, same fixture: one merged under the default (broadcast)
    // ceiling, one with the ceiling forced below the key count so the
    // router takes the shuffle leg — final states must be identical
    val rb = root(); val rs = root()
    val boot = spark.range(200).select(col("id").as("k"),
      (col("id") * 10L).as("v")).coalesce(2)
    val batch = spark.range(30).select((col("id") * 5L).as("k"),
      lit(7L).as("v"))
      .unionByName(spark.range(10).select((col("id") + 1000L).as("k"),
        col("id").as("v"))).coalesce(1)
    Seq(rb -> 5000000, rs -> 2).foreach { case (r, ceil) =>
      TableCommit.commitMergeRows(spark, r, schema, boot, Seq("k"),
        retain = 8, maxBroadcastKeys = ceil)
      TableCommit.commitMergeRows(spark, r, schema, batch, Seq("k"),
        retain = 8, maxBroadcastKeys = ceil)
    }
    def state(r: String) = TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toMap
    val b = state(rb); val s = state(rs)
    assert(s === b, "shuffle-routed merge must equal the broadcast one")
    assert(s.size === 210)
    // a second shuffle merge composes (DVs grow over prior images)
    TableCommit.commitMergeRows(spark, rs, schema, batch, Seq("k"),
      retain = 8, maxBroadcastKeys = 1)
    assert(state(rs) === b, "re-merge above the ceiling must be stable")
  }

  test("NOT MATCHED BY SOURCE (X306): delete and update variants, one atomic commit each") {
    val r = root()
    seed(r) // k in [0, 200), v = 10k
    val src = spark.range(50).select((col("id") * 2L).as("k"),
      lit(99L).as("v")).coalesce(1) // keys 0,2,…,98 — all matched
    // DELETE variant with a condition: unmatched rows (k not even <100)
    // with k >= 150 die; [100,150) unmatched rows survive
    val v = TableCommit.commitMergeRows(spark, r, schema, src, Seq("k"),
      retain = 8, notMatchedBySource = Some(
        TableCommit.MergeNmbs.Delete(Some(col("k") >= 150L))))
    val got = TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toMap
    val expectKeys = (0L until 100L).filter(_ % 2 == 0).toSet ++
      (0L until 150L).filterNot(k => k < 100 && k % 2 == 0).toSet
    assert(got.keySet === expectKeys,
      "NMBS DELETE must kill exactly the unmatched+condition rows")
    (0L until 100L by 2L).foreach(k => assert(got(k) === 99L, s"k=$k"))
    assert(TableCommit.currentVersion(r) === Some(v),
      "upsert + NMBS delete must be ONE commit")
    // UPDATE variant: unmatched survivors with k < 10 get v bumped
    val src2 = spark.range(5).select((col("id") * 20L).as("k"),
      lit(111L).as("v")).coalesce(1)
    TableCommit.commitMergeRows(spark, r, schema, src2, Seq("k"),
      retain = 8, notMatchedBySource = Some(TableCommit.MergeNmbs.Update(
        Seq("v" -> (col("v") + 1L)), Some(col("k") < 10L))))
    val got2 = TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toMap
    assert(got2.keySet === expectKeys, "NMBS UPDATE moves no keys")
    expectKeys.foreach { k =>
      val expect =
        if (k % 20 == 0 && k < 100) 111L          // matched by src2
        else if (k < 10) got(k) + 1L              // NMBS update fired
        else got(k)
      assert(got2(k) === expect, s"k=$k")
    }
  }

  test("UPDATE and NMBS assignments evaluate SIMULTANEOUSLY (ANSI): SET a = b, b = a swaps; unknown targets refuse") {
    val r = root()
    // (k, v) seed: v = 10k — use k/v as the swap pair
    seed(r, n = 20L, files = 1)
    TableCommit.commitUpdateRows(spark, r, schema,
      col("k") < 5L, Seq("k" -> col("v"), "v" -> col("k")), retain = 8)
    val got = TableCommit.read(spark, r, schema)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val expect = (0L until 20L).map(k =>
      if (k < 5L) (k * 10L, k) else (k, k * 10L)).toSet
    assert(got === expect,
      "every RHS must see the OLD row — a sequential fold turns the " +
        "swap into a copy")
    // unknown assignment target: refused loudly, never silently dropped
    val ex = intercept[IllegalArgumentException] {
      TableCommit.commitUpdateRows(spark, r, schema,
        col("k") >= 0L, Seq("nope" -> lit(1L)), retain = 8)
    }
    assert(ex.getMessage.contains("nope"))
    // same contract on the NMBS UPDATE leg
    val src = spark.range(3).select((col("id") + 1000L).as("k"),
      lit(0L).as("v")).coalesce(1)
    val ex2 = intercept[IllegalArgumentException] {
      TableCommit.commitMergeRows(spark, r, schema, src, Seq("k"),
        retain = 8, notMatchedBySource = Some(TableCommit.MergeNmbs
          .Update(Seq("nope" -> lit(1L)), None)))
    }
    assert(ex2.getMessage.contains("nope"))
  }

  test("stats-channel namespacing: a user column named `dv` coexists with the DV key; ':' columns are refused") {
    val r = root()
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") * 10L).as("dv")).repartition(2)
    val dvSchema = StructType(Seq(
      StructField("k", LongType), StructField("dv", LongType)))
    TableCommit.commitAppend(df, r, retain = 8, statsCols = Seq("dv"))
    TableCommit.commitDeleteRows(spark, r, dvSchema, col("k") < 50L,
      retain = 8)
    val es = TableCommit.entries(r)
    // both channels present and distinct: user min/max under "dv",
    // engine positions under "dv:"
    assert(es.forall(e => e.stats.contains("dv")))
    assert(es.exists(e => e.stats.contains(TableCommit.DvKey)))
    assert(TableCommit.read(spark, r, dvSchema)
      .collect().map(_.getLong(0)).toSet === (50L until 100L).toSet)
    intercept[IllegalArgumentException] {
      TableCommit.commitAppend(df, root(), statsCols = Seq("weird:col"))
    }
  }

  test("targeted melt (X279): only DV-fat files rewrite; thin files keep paths and DVs; tracked tables keep ids") {
    val r = root()
    def one(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") * 10L).as("v")).coalesce(1)
    TableCommit.commitAppend(one(0L, 10L), r, retain = 8)
    TableCommit.commitAppend(one(10L, 20L), r, retain = 8)
    // fat: 40% of file A dead; thin: 10% of file B
    TableCommit.commitDeleteRows(spark, r, schema, col("k") < 4L,
      retain = 8)
    TableCommit.commitDeleteRows(spark, r, schema, col("k") === 10L,
      retain = 8)
    val pre = TableCommit.entries(r)
    assert(pre.size === 2)
    val fatPath = pre.find(e => TableCommit.deletedCount(e) == 4L)
      .get.path
    val thinPath = pre.find(e => TableCommit.deletedCount(e) == 1L)
      .get.path
    TableCommit.commitMeltDeleted(spark, r, maxDeadRatio = 0.2,
      targetFiles = 1, retain = 8)
    val post = TableCommit.entries(r)
    assert(!post.exists(_.path == fatPath), "the fat file must melt")
    val thin = post.find(_.path == thinPath)
      .getOrElse(fail("the thin file must keep its PATH"))
    assert(TableCommit.deletedCount(thin) === 1L,
      "the thin file carries its DV forward untouched")
    val fresh = post.filterNot(_.path == thinPath)
    assert(fresh.size === 1 &&
      TableCommit.deletedCount(fresh.head) === 0L,
      "the melted output is one DV-free file")
    assert(TableCommit.read(spark, r, schema).collect()
      .map(_.getLong(0)).toSet ===
      ((4L until 10L) ++ (11L until 20L)).toSet,
      "melt must neither leak dead rows nor drop live ones")
    // a second melt at the same ratio is a version no-op
    val cur = TableCommit.currentVersion(r).get
    assert(TableCommit.commitMeltDeleted(spark, r, maxDeadRatio = 0.2,
      retain = 8) === cur)

    // tracked twin: stable ids ride the targeted melt
    val r2 = root()
    def oneS(lo: Long, hi: Long) = one(lo, hi).sortWithinPartitions("k")
    TableCommit.commitAppend(oneS(0L, 10L), r2, retain = 8, trackRowIds = true)
    TableCommit.commitAppend(oneS(10L, 20L), r2, retain = 8, trackRowIds = true)
    TableCommit.commitDeleteRows(spark, r2, schema, col("k") < 4L,
      retain = 8)
    TableCommit.commitMeltDeleted(spark, r2, maxDeadRatio = 0.2,
      targetFiles = 1, retain = 8, preserveRowIds = true)
    val ids = TableCommit.readWithRowIds(spark, r2, schema).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(ids === (4L until 20L).map(k => k -> k).toMap,
      "ids are birth positions (id == k here) and must survive the melt")
    assert(TableCommit.rowIdHighWater(r2) === 20L)
  }

  test("every DV read rides the connector row reader, with no join") {
    val r = root()
    def one(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") * 10L).as("v")).coalesce(1)
    TableCommit.commitAppend(
      one(0L, 100L).sortWithinPartitions("k"), r, retain = 8, trackRowIds = true)
    TableCommit.commitAppend(
      one(100L, 200L).sortWithinPartitions("k"), r, retain = 8, trackRowIds = true)
    // composes inline + sidecar vectors across two files
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(3L)) === 0L, retain = 8, inlineDvMax = 10)
    val v3 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") === 7L, retain = 8, inlineDvMax = 1000000)
    val live = (0L until 200L).filter(k => k % 3 != 0 && k != 7L)
    def readAll() = TableCommit.read(spark, r, schema).collect()
      .map(_.getLong(0)).sorted.toSeq
    def readIds() = TableCommit.readWithRowIds(spark, r, schema)
      .collect().map(x => (x.getLong(0), x.getLong(2))).sorted.toSeq
    def feedDel() = TableCommit.readChangesFull(spark, r, schema,
      v3 - 1L, v3).filter(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(readAll() === live)
    // ids are birth positions here (both files sorted on k): id == k
    assert(readIds() === live.map(k => (k, k)))
    assert(feedDel() === Seq(7L))
    // a SNAPSHOT read routes its DV'd files through the connector's
    // vectorized row-view partitions (the skip lives in the reader
    // cursor) — join-free by construction
    val plan = TableCommit.read(spark, r, schema)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"),
      s"a DV'd snapshot read must not anti-join:\n$plan")
    assert(plan.contains("graft-table"),
      s"the DV'd leg must ride the connector row-view:\n$plan")
    // the feed's DV-delta leg (v2's 67 fresh positions) plans as
    // connector partitions: the reader emits only the marked positions
    val feedPlan = TableCommit.readChangesFull(spark, r, schema,
      v3 - 2L, v3 - 1L).filter(col("_change_type") === "delete")
      .queryExecution.executedPlan.toString
    assert(feedPlan.contains("BatchScan graft-cdf("),
      s"the feed's delta leg must be connector partitions:\n$feedPlan")
    assert(!feedPlan.contains("Join"),
      s"the feed's delta leg must not join positions:\n$feedPlan")
  }

  test("type gate: DV'd nested, decimal and NTZ reads ride the row reader") {
    val r = root()
    val df = spark.range(500L).select(col("id").as("k"),
      array(col("id"), col("id") * 2L).as("xs"),
      col("id").cast(DecimalType(18, 2)).as("d"))
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("xs", ArrayType(LongType)),
      StructField("d", DecimalType(18, 2))))
    TableCommit.commitAppend(df.repartition(2), r, retain = 8)
    TableCommit.commitDeleteRows(spark, r, sch, col("k") < 100L,
      retain = 8)
    // full schema carries an ARRAY column: since the VERDICT r16
    // nested widening the facet row view decodes it directly — the
    // snapshot read KEEPS the connector leg (and the right rows)
    val full = TableCommit.read(spark, r, sch).collect()
    assert(full.length === 400)
    val byK = full.map(x => x.getLong(0) -> x).toMap
    assert(byK.keySet === (100L until 500L).toSet)
    assert(byK(250L).getSeq[Long](1) === Seq(250L, 500L))
    assert(byK(250L).getDecimal(2).longValue === 250L)
    val plan = TableCommit.read(spark, r, sch)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft-table"),
      s"a nested-typed snapshot read now keeps the facet row view:\n$plan")
    // a DECIMAL-bearing projection (no nested types) stays on the
    // facet row-view leg — the r14 whitelist widening
    val dSch = StructType(Seq(StructField("k", LongType),
      StructField("d", DecimalType(18, 2))))
    val dec = TableCommit.read(spark, r, dSch).collect()
    assert(dec.length === 400)
    assert(dec.map(_.getLong(0)).toSet === (100L until 500L).toSet)
    assert(dec.find(_.getLong(0) == 499L).get
      .getDecimal(1).longValue === 499L)
    val dPlan = TableCommit.read(spark, r, dSch)
      .queryExecution.executedPlan.toString
    assert(dPlan.contains("graft-table"),
      s"a decimal projection must keep the facet row-view leg:\n$dPlan")
    // TIMESTAMP_NTZ decodes through the row reader too
    val r2 = root()
    val sch2 = StructType(Seq(StructField("k", LongType),
      StructField("tn", TimestampNTZType)))
    TableCommit.commitAppend(spark.range(100L).select(
      col("id").as("k"),
      expr("to_timestamp_ntz('2024-01-01 00:00:00')").as("tn"))
      .coalesce(1), r2, retain = 8)
    TableCommit.commitDeleteRows(spark, r2, sch2, col("k") < 10L,
      retain = 8)
    val full2 = TableCommit.read(spark, r2, sch2).collect()
    assert(full2.length === 90)
    assert(full2.map(_.getLong(0)).toSet === (10L until 100L).toSet)
    assert(full2.forall(_.get(1) ==
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0)))
    val plan2 = TableCommit.read(spark, r2, sch2)
      .queryExecution.executedPlan.toString
    assert(plan2.contains("graft-table"),
      s"a DV'd NTZ snapshot read must ride the row reader:\n$plan2")
    // a read-schema type the reader cannot decode is refused when
    // the scan is built, naming the column
    val sch3 = StructType(Seq(StructField("k", LongType),
      StructField("iv", CalendarIntervalType)))
    val exotic = intercept[IllegalArgumentException] {
      TableCommit.read(spark, r2, sch3).queryExecution.executedPlan
    }
    assert(exotic.getMessage.contains("unsupported column type") &&
      exotic.getMessage.contains("iv: interval"), exotic.getMessage)
  }

  test("a delete encodes each sidecar exactly ONCE; a no-op re-delete writes nothing (ADVICE r12)") {
    val r = root()
    val n = 40000L // comfortably above DvInlineMax
    TableCommit.commitAppend(spark.range(n).select(col("id").as("k"),
      (col("id") * 10L).as("v")).coalesce(1), r, retain = 8)
    def dvFiles(): Set[String] = {
      val dir = Paths.get(r, "_dv")
      if (!Files.isDirectory(dir)) Set.empty
      else {
        val s = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toSet
        } finally s.close()
      }
    }
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(2L)) === 0L, retain = 8)
    val after1 = dvFiles()
    assert(after1.size === 1,
      "one touched file above the inline threshold = exactly one " +
        "sidecar — the old pre-check wrote a throwaway second one")
    // no-op re-delete: no new snapshot AND no new sidecar
    val cur = TableCommit.currentVersion(r).get
    assert(TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(2L)) === 0L, retain = 8) === cur)
    assert(dvFiles() === after1, "a no-op delete must not mint sidecars")
    // a composing second delete re-encodes: exactly one more sidecar
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(3L)) === 0L, retain = 8)
    assert(TableCommit.read(spark, r, schema).collect()
      .map(_.getLong(0)).forall(k => k % 2 != 0 && k % 3 != 0))
  }

  test("DML plans damage-proportionally: stat-pruned candidate files (X317)") {
    val r = root()
    val src = spark.range(400L).select(col("id").as("k"),
      (col("id") * 10L).as("v")).repartitionByRange(4, col("k"))
    TableCommit.commitAppend(src, r, retain = 8, statsCols = Seq("k"))
    assert(TableCommit.entries(r).size === 4)
    // DELETE scoped to one file's key range: 1 of 4 candidates planned
    TableCommit.DmlPruneProbe.last = None
    TableCommit.commitDeleteRows(spark, r, schema, col("k") < 50L,
      retain = 8)
    assert(TableCommit.DmlPruneProbe.last === Some((1, 4)),
      s"expected 1-of-4 candidates, got ${TableCommit.DmlPruneProbe.last}")
    assert(TableCommit.read(spark, r, schema).count() === 350L)
    // UPDATE scoped the same way — and the result is still exact
    TableCommit.DmlPruneProbe.last = None
    TableCommit.commitUpdateRows(spark, r, schema,
      col("k") >= 350L, Seq("v" -> lit(-1L)), retain = 8)
    assert(TableCommit.DmlPruneProbe.last === Some((1, 4)))
    val got = TableCommit.read(spark, r, schema).collect()
    assert(got.count(_.getLong(1) == -1L) === 50L)
    assert(got.length === 350L)
    // an untranslatable predicate keeps every candidate (lossless)
    TableCommit.DmlPruneProbe.last = None
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(97L)) === 1L, retain = 8)
    // 5 files by now: the UPDATE appended its images file
    assert(TableCommit.DmlPruneProbe.last === Some((5, 5)),
      "a predicate stats cannot judge must keep all files")
    // and the delete itself was exact across all files
    assert(TableCommit.read(spark, r, schema)
      .filter(pmod(col("k"), lit(97L)) === 1L).count() === 0L)
    // an id-preserving UPDATE prunes the same way: its lineage check
    // reads the manifest, not the whole table
    val t = root()
    TableCommit.commitAppend(src, t, retain = 8, statsCols = Seq("k"),
      trackRowIds = true)
    assert(TableCommit.entries(t).size === 4)
    def idsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    val before = idsOf(TableCommit.readWithRowIds(spark, t, schema))
    TableCommit.DmlPruneProbe.last = None
    TableCommit.commitUpdateRows(spark, t, schema, col("k") >= 350L,
      Seq("v" -> lit(-1L)), retain = 8, preserveRowIds = true)
    assert(TableCommit.DmlPruneProbe.last === Some((1, 4)),
      s"expected 1-of-4 candidates, got ${TableCommit.DmlPruneProbe.last}")
    val after = TableCommit.readWithRowIds(spark, t, schema)
    assert(idsOf(after) === before, "every row keeps its id")
    assert(after.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap ===
      (0L until 400L).map(k => k -> (if (k >= 350L) -1L else k * 10L)).toMap)
  }

  test("DML keys deletion vectors by file path: two files may share a leaf name") {
    val r = root()
    // two files with the same leaf under different directories,
    // published as they are (the engine's own writers never mint this,
    // but a manifest may carry it)
    def place(rel: String, rows: Seq[(Long, Long)]): TableCommit.Entry = {
      val out = Files.createTempDirectory("graft_dv_leaf_").resolve("o")
      rows.toDF("k", "v").coalesce(1).write.parquet(out.toString)
      val s = Files.list(out)
      val part = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      } finally s.close()
      val dst = Paths.get(r, rel)
      Files.createDirectories(dst.getParent)
      Files.copy(part, dst)
      TableCommit.Entry(rel, None, rows = Some(rows.size.toLong))
    }
    val v1 = TableCommit.publish(r, Seq(
      place("a/part-0.parquet", Seq((1L, 10L), (2L, 20L), (3L, 30L))),
      place("b/part-0.parquet", Seq((4L, 40L), (5L, 50L), (6L, 60L)))),
      retain = 8)
    def rows(): Set[(Long, Long)] = TableCommit.read(spark, r, schema)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    def feed(from: Long): Set[(Long, Long, Long, String)] =
      TableCommit.readChangesFull(spark, r, schema, from, from + 1L)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getString(3))).toSet
    // DELETE position 1 of a/part-0 only — not position 1 of b/part-0
    val v2 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") === 2L, retain = 8)
    assert(rows() === Set((1L, 10L), (3L, 30L), (4L, 40L), (5L, 50L),
      (6L, 60L)))
    assert(feed(v1) === Set((2L, 20L, v2, "delete")))
    // UPDATE position 1 of b/part-0, whose a/ twin is already dead
    val v3 = TableCommit.commitUpdateRows(spark, r, schema,
      col("k") === 5L, Seq("v" -> lit(-1L)), retain = 8)
    assert(rows() === Set((1L, 10L), (3L, 30L), (4L, 40L), (5L, -1L),
      (6L, 60L)))
    assert(feed(v2) === Set((5L, 50L, v3, "delete"), (5L, -1L, v3, "insert")))
    // MERGE replaces position 2 of b/part-0 and inserts a fresh key
    val v4 = TableCommit.commitMergeRows(spark, r, schema,
      Seq((6L, 600L), (7L, 700L)).toDF("k", "v"), Seq("k"), retain = 8)
    assert(rows() === Set((1L, 10L), (3L, 30L), (4L, 40L), (5L, -1L),
      (6L, 600L), (7L, 700L)))
    assert(feed(v3) === Set((6L, 60L, v4, "delete"),
      (6L, 600L, v4, "insert"), (7L, 700L, v4, "insert")))
  }
}
