package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** X275 stable row lineage: every tracked row's id is assigned at birth
  * (one `brid` long per file in the manifest), survives row-level
  * deletes untouched, rides id-preserving rewrites materialized, and
  * can never be minted twice — including under racing writers. */
class RowLineageSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def root(): String =
    Files.createTempDirectory("graft_rl_spec_").toString + "/t"

  private def one(rows: Seq[(Long, String)]) =
    rows.toDF("k", "v").repartition(1).sortWithinPartitions("k")

  private def idsOf(r: String): Map[Long, Long] =
    TableCommit.readWithRowIds(spark, r, schema)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap

  test("ids are birth positions, survive delete + id-preserving compaction, and the high-water never rewinds") {
    val r = root()
    TableCommit.commitAppend(
      one(Seq((10L, "a"), (11L, "b"), (12L, "c"))), r, retain = 8, trackRowIds = true)
    TableCommit.commitAppend(
      one(Seq((20L, "d"), (21L, "e"))), r, retain = 8, trackRowIds = true)
    assert(TableCommit.rowIdHighWater(r) === 5L)
    val born = idsOf(r)
    assert(born === Map(10L -> 0L, 11L -> 1L, 12L -> 2L,
      20L -> 3L, 21L -> 4L))
    // row-level delete: survivors keep their ids (positions don't move)
    TableCommit.commitDeleteRows(spark, r, schema, col("k") === 11L,
      retain = 8)
    assert(idsOf(r) === born - 11L)
    // id-preserving OPTIMIZE: mapping identical, DVs melted, ids now
    // materialized (no brid left, rid: stats present)
    TableCommit.commitCompact(spark, r, targetFiles = 1,
      sortCol = Some("k"), retain = 8, preserveRowIds = true)
    assert(idsOf(r) === born - 11L)
    val es = TableCommit.entries(r)
    assert(es.forall(e => e.stats.contains(TableCommit.RidKey)
      && e.baseRowId.isEmpty))
    // the high-water survives the rewrite: new rows NEVER reuse id 1
    assert(TableCommit.rowIdHighWater(r) === 5L)
    TableCommit.commitAppend(one(Seq((30L, "f"))), r, retain = 8, trackRowIds = true)
    assert(idsOf(r) === born - 11L + (30L -> 5L))
    // a second compaction composes (mixed materialized + born input)
    TableCommit.commitCompact(spark, r, targetFiles = 1,
      sortCol = Some("k"), retain = 8, preserveRowIds = true)
    assert(idsOf(r) === born - 11L + (30L -> 5L))
  }

  test("an id-preserving UPDATE keeps the row's identity through the rewrite") {
    val r = root()
    TableCommit.commitAppend(
      one(Seq((1L, "a"), (2L, "b"), (3L, "c"))), r, retain = 8, trackRowIds = true)
    val before = idsOf(r)
    TableCommit.commitUpdateRows(spark, r, schema, col("k") === 2L,
      Seq("v" -> lit("B")), retain = 8, preserveRowIds = true)
    // same ids, updated value — the row SURVIVED the update as itself
    assert(idsOf(r) === before)
    val got = TableCommit.readWithRowIds(spark, r, schema)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
      .toSet
    assert(got === Set((1L, "a", 0L), (2L, "B", 1L), (3L, "c", 2L)))
    // and the identity still survives a subsequent compaction
    TableCommit.commitCompact(spark, r, targetFiles = 1,
      sortCol = Some("k"), retain = 8, preserveRowIds = true)
    assert(idsOf(r) === before)
    assert(TableCommit.rowIdHighWater(r) === 3L)
  }

  test("a tracked table refuses lineage reads over untracked files, loudly") {
    val r = root()
    TableCommit.commitAppend(one(Seq((1L, "a"))), r, retain = 8, trackRowIds = true)
    TableCommit.commitAppend(one(Seq((2L, "b"))), r, retain = 8)
    val e = intercept[IllegalArgumentException] {
      TableCommit.readWithRowIds(spark, r, schema).collect()
    }
    assert(e.getMessage.contains("without row lineage"))
  }

  test("exactly-once + lineage compose: a replayed tracked batch mints no ids") {
    val r = root()
    TableCommit.commitAppend(one(Seq((1L, "a"), (2L, "b"))), r,
      txnId = Some(0L), retain = 8, trackRowIds = true)
    TableCommit.commitAppend(one(Seq((3L, "c"))), r,
      txnId = Some(1L), retain = 8, trackRowIds = true)
    assert(TableCommit.rowIdHighWater(r) === 3L)
    // the crash-restart replay: a no-op that must not burn id space
    TableCommit.commitAppend(one(Seq((1L, "a"), (2L, "b"))), r,
      txnId = Some(0L), retain = 8, trackRowIds = true)
    assert(TableCommit.rowIdHighWater(r) === 3L)
    assert(idsOf(r) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("the identity feed: an update is a delete+insert pair sharing one id; compaction re-emits unchanged ids (X277)") {
    val r = root()
    val v1 = TableCommit.commitAppend(
      one(Seq((1L, "a"), (2L, "b"), (3L, "c"))), r, retain = 8, trackRowIds = true)
    val v2 = TableCommit.commitUpdateRows(spark, r, schema,
      col("k") === 2L, Seq("v" -> lit("B")), retain = 8,
      preserveRowIds = true)
    val v3 = TableCommit.commitCompact(spark, r, targetFiles = 1,
      sortCol = Some("k"), retain = 8, preserveRowIds = true)
    val feed = TableCommit.readChangesFullIds(spark, r, schema, 0L, v3)
      .collect()
      .map(x => (x.getLong(3), x.getString(4), x.getLong(0),
        x.getString(1), x.getLong(2)))
      .toSet // (version, type, k, v, row_id)
    // v1: three births
    assert(feed.filter(_._1 == v1) === Set(
      (v1, "insert", 1L, "a", 0L), (v1, "insert", 2L, "b", 1L),
      (v1, "insert", 3L, "c", 2L)))
    // v2: the update — old image deleted, new image inserted, SAME id
    assert(feed.filter(_._1 == v2) === Set(
      (v2, "delete", 2L, "b", 1L), (v2, "insert", 2L, "B", 1L)))
    // v3: the compaction re-emits every live row under its OWN id
    assert(feed.filter(_._1 == v3) === Set(
      (v3, "delete", 1L, "a", 0L), (v3, "delete", 2L, "B", 1L),
      (v3, "delete", 3L, "c", 2L),
      (v3, "insert", 1L, "a", 0L), (v3, "insert", 2L, "B", 1L),
      (v3, "insert", 3L, "c", 2L)))
  }

  test("racing tracked appends never mint overlapping id ranges (X273 CAS carries the assignment)") {
    val r = root()
    val n = 3
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val first = ThreadLocal.withInitial[java.lang.Boolean](() => true)
    TableCommit.publishRaceHook = () => {
      if (Thread.currentThread().getName.startsWith("graft-rl-") &&
          first.get) {
        first.set(false)
        barrier.await(20, java.util.concurrent.TimeUnit.SECONDS)
      }
      ()
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val ts = (0 until n).map { w =>
        val t = new Thread(() => {
          try {
            TableCommit.commitAppend(
              one(Seq((w * 10L, s"w$w"), (w * 10L + 1L, s"w$w"))), r,
              retain = 8, conflictRetries = n * 4, trackRowIds = true)
            ()
          } catch { case e: Throwable => errs.add(e) }
        })
        t.setName(s"graft-rl-$w"); t
      }
      ts.foreach(_.start()); ts.foreach(_.join())
    } finally TableCommit.publishRaceHook = () => ()
    assert(errs.isEmpty, s"racing tracked append failed: ${errs.peek()}")
    val ids = TableCommit.readWithRowIds(spark, r, schema)
      .collect().map(_.getLong(2)).sorted.toSeq
    assert(ids === (0L until 2L * n), s"ids must be exactly 0..${2 * n - 1}: $ids")
    assert(TableCommit.rowIdHighWater(r) === 2L * n)
  }

  test("deleting the HIGHEST ids then compacting never re-mints them (ADVICE r12: the durable rid header)") {
    val r = root()
    TableCommit.commitAppend(
      one(Seq((10L, "a"), (11L, "b"), (12L, "c"))), r, retain = 8, trackRowIds = true)
    // kill the max-id rows, then rewrite: the materialized output
    // carries only live ids, so a live-derived watermark would rewind
    // to 1 and the next append would re-mint ids 1 and 2
    TableCommit.commitDeleteRows(spark, r, schema, col("k") >= 11L,
      retain = 8)
    TableCommit.commitCompact(spark, r, targetFiles = 1,
      sortCol = Some("k"), retain = 8, preserveRowIds = true)
    assert(TableCommit.rowIdHighWater(r) === 3L,
      "the high-water must survive delete-the-max + compaction")
    TableCommit.commitAppend(one(Seq((20L, "d"), (21L, "e"))),
      r, retain = 8, trackRowIds = true)
    assert(idsOf(r) === Map(10L -> 0L, 20L -> 3L, 21L -> 4L),
      "new rows must mint FRESH ids, never the deleted 1 and 2")
    // and the header keeps propagating through further maintenance
    TableCommit.commitCompact(spark, r, targetFiles = 1,
      sortCol = Some("k"), retain = 8, preserveRowIds = true)
    assert(TableCommit.rowIdHighWater(r) === 5L)
  }

  test("a lineage-preserving MERGE keeps matched ids and mints fresh ones at the high-water (X278)") {
    val r = root()
    val v1 = TableCommit.commitAppend(
      one(Seq((1L, "a"), (2L, "b"), (3L, "c"))), r, retain = 8, trackRowIds = true)
    // matched: k=2 gets a new image; fresh: k=99 inserts
    val src = Seq((2L, "B"), (99L, "z")).toDF("k", "v")
    val v2 = TableCommit.commitMergeRows(spark, r, schema, src,
      keyCols = Seq("k"), retain = 8, preserveRowIds = true)
    assert(idsOf(r) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 99L -> 3L),
      "matched row keeps its id; fresh row mints at the high-water")
    assert(TableCommit.rowIdHighWater(r) === 4L)
    // the identity feed reports the upsert as a PAIR sharing id 1
    val feed = TableCommit.readChangesFullIds(spark, r, schema, v1, v2)
      .collect()
      .map(x => (x.getString(4), x.getLong(0), x.getString(1),
        x.getLong(2))).toSet // (type, k, v, row_id)
    assert(feed === Set(
      ("delete", 2L, "b", 1L), ("insert", 2L, "B", 1L),
      ("insert", 99L, "z", 3L)))
    // a second merge composes over the materialized image
    TableCommit.commitMergeRows(spark, r, schema,
      Seq((2L, "B2"), (99L, "z2")).toDF("k", "v"),
      keyCols = Seq("k"), retain = 8, preserveRowIds = true)
    assert(idsOf(r) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 99L -> 3L),
      "re-merging the same keys keeps both identities stable")
    assert(TableCommit.rowIdHighWater(r) === 4L,
      "an all-matched merge mints no ids")
    // bootstrap into a virgin table also tracks
    val r2 = root()
    TableCommit.commitMergeRows(spark, r2, schema,
      one(Seq((7L, "x"), (8L, "y"))), keyCols = Seq("k"), retain = 8,
      preserveRowIds = true)
    assert(idsOf(r2) === Map(7L -> 0L, 8L -> 1L))
  }

  test("the MERGE broadcast ceiling ROUTES to the shuffle path with lineage intact (X305; was a refusal until r14)") {
    val r = root()
    TableCommit.commitAppend(
      one(Seq((1L, "a"), (2L, "b"))), r, retain = 8, trackRowIds = true)
    val src = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "v")
    // ABOVE the ceiling: same commit semantics through the shuffle
    // join — matched rows inherit their ids, fresh keys mint at the
    // high-water, exactly as the broadcast path below
    TableCommit.commitMergeRows(spark, r, schema, src,
      keyCols = Seq("k"), retain = 8, maxBroadcastKeys = 2,
      preserveRowIds = true)
    assert(idsOf(r) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // under the ceiling: unchanged behavior (idempotent re-merge)
    TableCommit.commitMergeRows(spark, r, schema, src,
      keyCols = Seq("k"), retain = 8, maxBroadcastKeys = 3,
      preserveRowIds = true)
    assert(idsOf(r) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }
}
