package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** X283 RESTORE: the table's next version carries exactly an older
  * retained version's file list, as a metadata-only commit. Contracts
  * under test: zero data bytes move; content (including DV state)
  * reverts exactly; the txn and rid high-waters NEVER rewind (no
  * re-armed exactly-once ids, no re-minted row ids); the full change
  * feed stays convergent across a restore (resurrections arrive as
  * inserts, identity CDC re-emits original ids); and unrestorable
  * targets (retired manifests, vacuumed files) fail loudly. */
class RestoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  private def root(): String =
    Files.createTempDirectory("graft_restore_spec_").toString

  private def df(from: Long, until: Long, files: Int = 3) =
    spark.range(from, until).select(col("id").as("k"),
      (col("id") * 10L).as("v")).repartition(files)

  private def keys(r: String): Set[Long] =
    TableCommit.read(spark, r, schema).collect().map(_.getLong(0)).toSet

  private def dataFingerprint(r: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(r, "data"))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap finally s.close()
  }

  test("restore reverts content exactly and moves zero data bytes") {
    val r = root()
    val v1 = TableCommit.commitAppend(df(0L, 60L), r, retain = 10)
    val v2 = TableCommit.commitAppend(df(60L, 100L), r, retain = 10)
    val v3 = TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(5L)) === 0L, retain = 10)
    assert(keys(r) === (0L until 100L).filter(_ % 5L != 0L).toSet)
    val before = dataFingerprint(r)
    val v4 = TableCommit.commitRestore(r, v2, retain = 10)
    assert(v4 === v3 + 1L)
    assert(dataFingerprint(r) === before,
      "restore must not touch a single data byte")
    // deleted rows resurrect: v2 content is the full 0..100 range
    assert(keys(r) === (0L until 100L).toSet)
    // restore past an APPEND drops the appended files
    val v5 = TableCommit.commitRestore(r, v1, retain = 10)
    assert(keys(r) === (0L until 60L).toSet)
    // a restore can itself be restored away (back onto the fat DV)
    TableCommit.commitRestore(r, v3, retain = 10)
    assert(keys(r) === (0L until 100L).filter(_ % 5L != 0L).toSet)
    // restore-to-current is a no-op, not a new snapshot
    val cur = TableCommit.currentVersion(r).get
    assert(TableCommit.commitRestore(r, cur, retain = 10) === cur)
    assert(TableCommit.currentVersion(r).get === cur)
  }

  test("txn high-water survives restore: replayed batch id stays a no-op") {
    val r = root()
    TableCommit.commitAppend(df(0L, 30L), r, txnId = Some(1L), retain = 10)
    val v2 = TableCommit.currentVersion(r).get
    TableCommit.commitAppend(df(30L, 50L), r, txnId = Some(2L), retain = 10)
    TableCommit.commitRestore(r, v2, retain = 10)
    assert(TableCommit.lastTxnId(r) === Some(2L),
      "restore must not rewind the exactly-once high-water")
    // the crash-replay of batch 2 after the restore lands ZERO rows
    TableCommit.commitAppend(df(30L, 50L), r, txnId = Some(2L), retain = 10)
    assert(keys(r) === (0L until 30L).toSet)
  }

  test("rid high-water survives restore: rolled-back ids never re-mint") {
    val r = root()
    TableCommit.commitAppend(df(0L, 40L), r, retain = 10, trackRowIds = true)
    val v1 = TableCommit.currentVersion(r).get
    TableCommit.commitAppend(df(40L, 70L), r, retain = 10, trackRowIds = true)
    val hw = TableCommit.rowIdHighWater(r)
    assert(hw === 70L)
    TableCommit.commitRestore(r, v1, retain = 10)
    assert(TableCommit.rowIdHighWater(r) === hw,
      "restore must not rewind the row-id high-water")
    TableCommit.commitAppend(df(1000L, 1010L), r, retain = 10, trackRowIds = true)
    val ids = TableCommit.readWithRowIds(spark, r, schema)
      .select(col(TableCommit.RowIdCol)).collect().map(_.getLong(0))
    assert(ids.length === 50)
    assert(ids.toSet.size === 50, "no id minted twice")
    assert(ids.filter(_ >= 40L).forall(_ >= 70L),
      "fresh ids must mint ABOVE the rolled-back era's high-water")
  }

  test("full CDF converges across restores (resurrections as inserts)") {
    val r = root()
    val v1 = TableCommit.commitAppend(df(0L, 60L), r, retain = 12)
    val v2 = TableCommit.commitAppend(df(60L, 100L), r, retain = 12)
    val v3 = TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("k"), lit(5L)) === 0L, retain = 12)
    val v4 = TableCommit.commitRestore(r, v2, retain = 12) // DV shrink
    val v5 = TableCommit.commitRestore(r, v1, retain = 12) // file drop
    val v6 = TableCommit.commitRestore(r, v3, retain = 12) // grow + add
    val feed = TableCommit.readChangesFull(spark, r, schema, 0L, v6)
      .select(col("_commit_version"), col("_change_type"), col("k"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    // v4's legs are EXACTLY the resurrected positions, as inserts
    val legs4 = feed.filter(_._1 == v4)
    assert(legs4.forall(_._2 == "insert"))
    assert(legs4.map(_._3).toSet ===
      (0L until 100L).filter(_ % 5L == 0L).toSet)
    // replaying the whole feed converges a keyed mirror to the head
    var mirror = Set.empty[Long]
    feed.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, legs) =>
      mirror --= legs.filter(_._2 == "delete").map(_._3)
      mirror ++= legs.filter(_._2 == "insert").map(_._3)
    }
    assert(mirror === keys(r))
  }

  test("feed legs gate on encoding inequality: equal-count non-subset DV transitions emit both legs") {
    // restore can move a file's DV between two NON-SUBSET sets with
    // EQUAL counts — a count-delta gate (the review finding) drops
    // both legs and a mirror silently diverges by 2× the stripe
    val r = root()
    val v1 = TableCommit.commitAppend(df(0L, 100L, files = 1), r,
      retain = 12)
    val v2 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 10L, retain = 12) // DV A = {0..9}
    val v3 = TableCommit.commitRestore(r, v1, retain = 12)
    val v4 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") >= 90L, retain = 12) // DV B = {90..99}, |B| == |A|
    val v5 = TableCommit.commitRestore(r, v2, retain = 12) // B → A
    val legs = TableCommit.readChangesFull(spark, r, schema, v4, v5)
      .select(col("_change_type"), col("k"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(legs.filter(_._1 == "delete").map(_._2).toSet ===
      (0L until 10L).toSet, "newly-dead rows (A − B) must emit")
    assert(legs.filter(_._1 == "insert").map(_._2).toSet ===
      (90L until 100L).toSet, "resurrected rows (B − A) must emit")
    // the mirror converges end to end across all five versions
    var mirror = Set.empty[Long]
    TableCommit.readChangesFull(spark, r, schema, 0L, v5)
      .select(col("_commit_version"), col("_change_type"), col("k"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, ls) =>
        mirror --= ls.filter(_._2 == "delete").map(_._3)
        mirror ++= ls.filter(_._2 == "insert").map(_._3)
      }
    assert(mirror === keys(r))
  }

  test("identity CDC re-emits resurrected rows under their original ids") {
    val r = root()
    TableCommit.commitAppend(df(0L, 50L), r, retain = 12, trackRowIds = true)
    val v1 = TableCommit.currentVersion(r).get
    val v2 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 10L, retain = 12)
    // (k → _row_id) as born — the identity the resurrection must keep
    val born = TableCommit.readWithRowIds(spark, r, schema)
      .unionByName(TableCommit.readChangesFullIds(
        spark, r, schema, v1, v2).drop("_commit_version", "_change_type"))
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    val v3 = TableCommit.commitRestore(r, v1, retain = 12)
    val legs = TableCommit.readChangesFullIds(spark, r, schema, v2, v3)
      .collect()
      .map(x => (x.getString(4), x.getLong(0), x.getLong(2)))
    assert(legs.forall(_._1 == "insert"))
    assert(legs.map(x => x._2 -> x._3).toMap ===
      (0L until 10L).map(k => k -> born(k)).toMap,
      "resurrected rows must carry their ORIGINAL stable ids")
  }

  test("restore restores the column mapping of its era") {
    val r = root()
    TableCommit.commitAppend(df(0L, 20L), r, retain = 10)
    val vPre = TableCommit.currentVersion(r).get
    TableCommit.commitRenameColumn(r, "v", "val", retain = 10)
    val renamed = StructType(Seq(StructField("k", LongType),
      StructField("val", LongType)))
    assert(TableCommit.read(spark, r, renamed)
      .agg(sum(col("val"))).collect()(0).getLong(0) === 1900L)
    TableCommit.commitRestore(r, vPre, retain = 10)
    assert(TableCommit.colMapping(r) === None,
      "restore to the pre-mapping era must clear the mapping")
    assert(TableCommit.read(spark, r, schema).columns.toSeq ===
      Seq("k", "v"))
  }

  test("TIMESTAMP AS OF resolves by manifest mtime; restore-as-of rides it") {
    import java.nio.file.attribute.FileTime
    val r = root()
    TableCommit.commitAppend(df(0L, 20L), r, retain = 10)
    TableCommit.commitAppend(df(20L, 40L), r, retain = 10)
    TableCommit.commitDeleteRows(spark, r, schema, col("k") < 5L,
      retain = 10)
    // pin deterministic commit times (the rule reads mtimes, exactly
    // like Delta's TIMESTAMP AS OF)
    def stamp(v: Long, t: Long): Unit =
      Files.setLastModifiedTime(
        Paths.get(r, "_log", f"v$v%020d.json"), FileTime.fromMillis(t))
    stamp(1L, 1000L); stamp(2L, 2000L); stamp(3L, 3000L)
    assert(TableCommit.versionAsOf(r, 999L + 1L) === 1L)
    assert(TableCommit.versionAsOf(r, 2500L) === 2L)
    assert(TableCommit.versionAsOf(r, 99999L) === 3L)
    intercept[IllegalArgumentException] {
      TableCommit.versionAsOf(r, 500L) // before retained history
    }
    assert(TableCommit.readAsOf(spark, r, schema, 2500L)
      .count() === 40L)
    // "roll back to before the bad 3000L deploy"
    TableCommit.commitRestoreAsOf(r, 2500L, retain = 10)
    assert(keys(r) === (0L until 40L).toSet)
  }

  test("DML versions carry no shrink leg; restore feeds converge (ADVICE r13)") {
    val r = root()
    TableCommit.commitAppend(df(0L, 100L, files = 1), r, retain = 12)
    val v1 = TableCommit.currentVersion(r).get
    val v2 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 10L, retain = 12)
    // second delete on the SAME file: DV changed AND the prior entry
    // carried one — the exact shape that used to mint an empty shrink
    // leg (an extra full-file scan partition) on every steady-state
    // incremental delete
    val v3 = TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 20L, retain = 12)
    val dml = TableCommit.changesBetween(r, v2, v3).head
    assert(dml.dvGrown.nonEmpty)
    assert(dml.dvShrunk.isEmpty,
      "monotone DML must not schedule the provably-empty shrink leg")
    // a RESTORE is marked: its shrink leg is present
    val v4 = TableCommit.commitRestore(r, v2, retain = 12)
    val res = TableCommit.changesBetween(r, v3, v4).head
    assert(res.dvShrunk.nonEmpty)
    // and the feed still converges across the whole history
    var mirror = Set.empty[Long]
    TableCommit.readChangesFull(spark, r, schema, 0L, v4)
      .select(col("_commit_version"), col("_change_type"), col("k"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, ls) =>
        mirror --= ls.filter(_._2 == "delete").map(_._3)
        mirror ++= ls.filter(_._2 == "insert").map(_._3)
      }
    assert(mirror === keys(r))
  }

  test("TIMESTAMP AS OF is version-ordered among mtime hits (ADVICE r13)") {
    import java.nio.file.attribute.FileTime
    val r = root()
    TableCommit.commitAppend(df(0L, 20L), r, retain = 10)
    TableCommit.commitAppend(df(20L, 40L), r, retain = 10)
    TableCommit.commitAppend(df(40L, 60L), r, retain = 10)
    def stamp(v: Long, t: Long): Unit =
      Files.setLastModifiedTime(
        Paths.get(r, "_log", f"v$v%020d.json"), FileTime.fromMillis(t))
    // the retire→vacuum trash/restore cycle restamps a manifest's
    // mtime to "now": simulate v1 coming back with the NEWEST mtime —
    // it must not shadow the head for a ts that covers everything
    stamp(1L, 9000L); stamp(2L, 2000L); stamp(3L, 3000L)
    assert(TableCommit.versionAsOf(r, 99999L) === 3L,
      "a restored old manifest with the newest mtime must not be " +
        "served as the latest snapshot")
    // membership still keys on mtime: at ts=2500 only v2 qualifies
    // among {v2, v3} and the restamped v1 is excluded outright
    assert(TableCommit.versionAsOf(r, 2500L) === 2L)
  }

  test("unrestorable targets fail loudly, not partially") {
    val r = root()
    // fulls (not delta chains — retire keeps chains present): the
    // oldest manifest actually retires under retain=1
    TableCommit.commitOverwrite(df(0L, 20L), r, retain = 1)
    TableCommit.commitOverwrite(df(20L, 40L), r, retain = 1)
    TableCommit.commitOverwrite(df(40L, 60L), r, retain = 1)
    // v1's manifest is retired under retain=1
    val e1 = intercept[IllegalStateException] {
      TableCommit.commitRestore(r, 1L, retain = 1)
    }
    assert(e1.getMessage.contains("retired"))
    // a compaction unreferences the original files; once vacuumed,
    // the pre-compaction version must refuse to restore
    val r2 = root()
    TableCommit.commitAppend(df(0L, 20L), r2, retain = 10)
    val v1 = TableCommit.currentVersion(r2).get
    TableCommit.commitCompact(spark, r2, targetFiles = 1, retain = 10)
    // manual unreference-sweep (vacuum pins files of RETAINED
    // manifests, so simulate the aged sweep of a retired era)
    val gone = TableCommit.entriesAtVersion(r2, v1).map(_.path)
    gone.foreach(p => Files.delete(Paths.get(r2, p)))
    val e2 = intercept[IllegalStateException] {
      TableCommit.commitRestore(r2, v1, retain = 10)
    }
    assert(e2.getMessage.contains("no longer exist"))
  }
}
