package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** X276 column mapping: RENAME/DROP/re-ADD are metadata commits — the
  * parquet files keep their physical column names forever, the mapping
  * header re-points logical names, self-propagates through every
  * publish, and tombstones dropped physical names so a re-add can
  * never resurrect old values. */
class ColumnMappingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def root(): String =
    Files.createTempDirectory("graft_cm_spec_").toString + "/t"

  test("rename moves zero bytes; mapped reads and writes stay consistent") {
    val r = root()
    TableCommit.commitAppend(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "cents"), r, retain = 8)
    val filesBefore = TableCommit.entries(r).map(_.path).toSet
    TableCommit.commitRenameColumn(r, "cents", "price_cents", retain = 8)
    // metadata-only: the file list is IDENTICAL
    assert(TableCommit.entries(r).map(_.path).toSet === filesBefore)
    val logical = StructType(Seq(StructField("k", LongType),
      StructField("price_cents", LongType)))
    assert(TableCommit.read(spark, r, logical)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      === Set((1L, 10L), (2L, 20L)))
    // a post-rename mapped append writes the OLD physical name, so the
    // table stays physically uniform
    TableCommit.commitAppend(
      Seq((3L, 30L)).toDF("k", "price_cents"), r, retain = 8)
    assert(TableCommit.read(spark, r, logical)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // and the physical read proves no second physical name appeared
    val phys = TableCommit.read(spark, r, StructType(Seq(
      StructField("k", LongType), StructField("cents", LongType))))
    assert(phys.collect().map(_.getLong(1)).toSet === Set(10L, 20L, 30L))
  }

  test("after a rename, the snapshot read and a plain append both speak logical names") {
    val r = root()
    TableCommit.commitAppend(Seq((1L, 10L)).toDF("k", "cents"), r,
      retain = 8)
    TableCommit.commitRenameColumn(r, "cents", "pc", retain = 8)
    val logical = StructType(Seq(StructField("k", LongType),
      StructField("pc", LongType)))
    def rows() = TableCommit.read(spark, r, logical).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // the read resolves the mapping: `pc` answers with the written value
    assert(rows() === Set((1L, 10L)))
    // the append stages `pc` under its physical name, so the value is
    // read back instead of landing in a second physical column
    TableCommit.commitAppend(Seq((2L, 20L)).toDF("k", "pc"), r, retain = 8)
    assert(rows() === Set((1L, 10L), (2L, 20L)))
    val files = TableCommit.entries(r).map(e => s"$r/${e.path}")
    assert(spark.read.option("mergeSchema", "true").parquet(files: _*)
      .columns.toSet === Set("k", "cents"),
      "a second physical column appeared")
  }

  test("an append under a re-added name lands in its fresh physical column, never the dead one") {
    val r = root()
    TableCommit.commitAppend(Seq((1L, "secret")).toDF("k", "note"), r,
      retain = 8)
    TableCommit.commitDropColumn(r, "note", retain = 8)
    TableCommit.commitAddColumn(r, "note", retain = 8)
    TableCommit.commitAppend(Seq((2L, "fresh")).toDF("k", "note"), r,
      retain = 8)
    val logical = StructType(Seq(StructField("k", LongType),
      StructField("note", StringType)))
    assert(TableCommit.read(spark, r, logical).collect()
      .map(x => (x.getLong(0), Option(x.getString(1)))).toSet ===
      Set((1L, None), (2L, Some("fresh"))))
    // physically, the dead name holds only the dropped value
    val files = TableCommit.entries(r).map(e => s"$r/${e.path}")
    assert(spark.read.schema("k BIGINT, note STRING").parquet(files: _*)
      .select("note").collect().flatMap(x => Option(x.getString(0)))
      .toSet === Set("secret"))
  }

  test("overwrite and partition replace under logical names read back what they wrote after a rename") {
    val r = root()
    TableCommit.commitAppend(Seq((1L, 10L)).toDF("k", "cents"), r,
      retain = 8)
    TableCommit.commitRenameColumn(r, "cents", "pc", retain = 8)
    TableCommit.commitOverwrite(Seq((5L, 50L)).toDF("k", "pc"), r,
      retain = 8, statsCols = Seq("pc"))
    val logical = StructType(Seq(StructField("k", LongType),
      StructField("pc", LongType)))
    assert(TableCommit.read(spark, r, logical).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq === Seq((5L, 50L)))
    // the stats ride under the physical name, so `where` prunes on them
    assert(TableCommit.entries(r).forall(_.stats.contains("cents")))
    assert(TableCommit.pruneAt(spark, r, logical, col("pc") > 50L).isEmpty)
    // a replace keyed by a renamed partition column
    val p = root()
    TableCommit.commitReplacePartitions(
      Seq(("d1", 1L), ("d2", 2L)).toDF("day", "n"), p, "day", retain = 8)
    TableCommit.commitRenameColumn(p, "day", "d", retain = 8)
    TableCommit.commitReplacePartitions(Seq(("d2", 20L)).toDF("d", "n"),
      p, "d", retain = 8)
    val dn = StructType(Seq(StructField("d", StringType),
      StructField("n", LongType)))
    assert(TableCommit.read(spark, p, dn).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap ===
      Map("d1" -> 1L, "d2" -> 20L))
  }

  test("the mapping survives retention retiring the commit that created it") {
    val r = root()
    TableCommit.commitAppend(Seq((1L, 10L)).toDF("k", "cents"), r,
      retain = 2)
    TableCommit.commitRenameColumn(r, "cents", "pc", retain = 2)
    (0 until 6).foreach(i => TableCommit.commitAppend(
      Seq((10L + i, 100L + i)).toDF("k", "pc"), r, retain = 2))
    // the rename version itself is long retired…
    assert(TableCommit.colMapping(r).exists(_.physical("pc") == "cents"))
    val logical = StructType(Seq(StructField("k", LongType),
      StructField("pc", LongType)))
    assert(TableCommit.read(spark, r, logical).count() === 7L)
  }

  test("a shallow clone carries the source's mapping; re-cloning an unmapped source clears a stale one") {
    val src = root(); val dst = root() + "/clone"
    TableCommit.commitAppend(Seq((1L, 10L)).toDF("k", "cents"), src,
      retain = 8)
    TableCommit.commitRenameColumn(src, "cents", "pc", retain = 8)
    TableCommit.cloneTable(src, dst, retain = 8)
    val logical = StructType(Seq(StructField("k", LongType),
      StructField("pc", LongType)))
    assert(TableCommit.read(spark, dst, logical)
      .collect().map(_.getLong(1)).toSeq === Seq(10L))
    // an UNMAPPED source re-cloned onto the mapped dst clears the
    // stale mapping rather than inheriting it
    val plain = root()
    TableCommit.commitAppend(Seq((9L, 90L)).toDF("k", "cents"), plain,
      retain = 8)
    TableCommit.cloneTable(plain, dst, retain = 8)
    assert(TableCommit.colMapping(dst).isEmpty,
      "re-clone inherited the replaced table's mapping")
  }

  test("a control character in a mapped name is refused loudly (it would tear the manifest); quotes round-trip") {
    val r = root()
    TableCommit.commitAppend(Seq((1L, 10L)).toDF("k", "cents"), r,
      retain = 8)
    val e = intercept[IllegalArgumentException] {
      TableCommit.commitRenameColumn(r, "cents", "bad\nname", retain = 8)
    }
    assert(e.getMessage.contains("control characters"))
    // JSON-active characters DO round-trip through the header escaper
    TableCommit.commitRenameColumn(r, "cents", """we"ird\nm""", retain = 8)
    assert(TableCommit.colMapping(r)
      .exists(_.physical("""we"ird\nm""") == "cents"))
    TableCommit.commitAppend(
      Seq((2L, 20L)).toDF("k", """we"ird\nm"""), r, retain = 8)
    val logical = StructType(Seq(StructField("k", LongType),
      StructField("""we"ird\nm""", LongType)))
    assert(TableCommit.read(spark, r, logical)
      .collect().map(_.getLong(1)).toSet === Set(10L, 20L))
  }

  test("time travel reads under the mapping of that era") {
    val r = root()
    val v1 = TableCommit.commitAppend(
      Seq((1L, 10L)).toDF("k", "cents"), r, retain = 8)
    TableCommit.commitRenameColumn(r, "cents", "pc", retain = 8)
    TableCommit.commitAppend(Seq((2L, 20L)).toDF("k", "pc"), r,
      retain = 8)
    // at v1 the column still answers to its OLD name…
    val oldSchema = StructType(Seq(StructField("k", LongType),
      StructField("cents", LongType)))
    assert(TableCommit.readAt(spark, r, oldSchema, v1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      === Set((1L, 10L)))
    // …and the current version answers only to the new one
    val newSchema = StructType(Seq(StructField("k", LongType),
      StructField("pc", LongType)))
    assert(TableCommit.read(spark, r, newSchema)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      === Set((1L, 10L), (2L, 20L)))
  }

  test("drop + re-add never resurrects the dropped values") {
    val r = root()
    TableCommit.commitAppend(
      Seq((1L, "secret"), (2L, "hidden")).toDF("k", "note"), r, retain = 8)
    TableCommit.commitDropColumn(r, "note", retain = 8)
    TableCommit.commitAddColumn(r, "note", retain = 8)
    val logical = StructType(Seq(StructField("k", LongType),
      StructField("note", StringType)))
    // old rows read NULL — the dead physical name is invisible
    val got = TableCommit.read(spark, r, logical)
      .collect().map(x => (x.getLong(0), Option(x.getString(1)))).toSet
    assert(got === Set((1L, None), (2L, None)),
      s"dropped values resurrected: $got")
    // new writes under the re-added name land in its FRESH physical slot
    TableCommit.commitAppend(
      Seq((3L, "fresh")).toDF("k", "note"), r, retain = 8)
    val after = TableCommit.read(spark, r, logical)
      .collect().map(x => (x.getLong(0), Option(x.getString(1)))).toSet
    assert(after === Set((1L, None), (2L, None), (3L, Some("fresh"))))
    // adding a NEVER-used name is a no-op (identity mapping)
    val v = TableCommit.currentVersion(r).get
    assert(TableCommit.commitAddColumn(r, "brand_new", retain = 8) === v)
  }

  test("drop/rename refuse a control-character physical name (ADVICE r12: the two missed header entry points)") {
    val r = root()
    TableCommit.commitAppend(
      Seq((1L, 10L)).toDF("k", "cents"), r, retain = 8)
    // an UNMAPPED column's physical name is caller-supplied: dropping
    // or renaming one with a raw "\n" used to land it in the cols
    // header line unescaped — the header split and every subsequent
    // read threw TornManifestException, permanently
    intercept[IllegalArgumentException] {
      TableCommit.commitDropColumn(r, "bad\ncol", retain = 8)
    }
    intercept[IllegalArgumentException] {
      TableCommit.commitRenameColumn(r, "bad\ncol", "ok", retain = 8)
    }
    // nothing entered the header: the table is still fully readable
    assert(TableCommit.readCurrent(spark, r).count() === 1L)
    assert(TableCommit.colMapping(r).isEmpty)
  }

  test("stats + bloom pruning bridge the mapping: the NEW name keeps the file set the OLD name kept (X281)") {
    val r = root()
    def slice(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") * 10L).as("cents"))
      .coalesce(1)
    TableCommit.commitAppend(slice(0L, 10L), r, retain = 16,
      statsCols = Seq("k"))
    TableCommit.commitAppend(slice(10L, 20L), r, retain = 16,
      statsCols = Seq("k"))
    val kCents = StructType(Seq(StructField("k", LongType),
      StructField("cents", LongType)))
    val before = TableCommit.pruneAt(spark, r, kCents,
      col("k").between(10L, 19L)).map(_.path)
    assert(before.size === 1, "sanity: one in-range file pre-rename")
    val vPre = TableCommit.currentVersion(r).get
    TableCommit.commitRenameColumn(r, "k", "kk", retain = 16)
    TableCommit.commitAppend(
      slice(30L, 40L).withColumnRenamed("k", "kk"), r, retain = 16,
      statsCols = Seq("kk"))
    // the law: pruning by the NEW logical name keeps exactly the set
    // pruning by the old name kept (the post-rename file is out of
    // range and its stats — written under the PHYSICAL name — prune it)
    val logical = StructType(Seq(StructField("kk", LongType),
      StructField("cents", LongType)))
    val mid = col("kk").between(10L, 19L)
    assert(TableCommit.pruneAt(spark, r, logical, mid)
      .map(_.path) === before)
    // era-correct: at the pre-rename version the OLD name still prunes
    assert(TableCommit.pruneAt(spark, r, kCents, col("k").between(10L, 19L),
      version = Some(vPre)).map(_.path) === before)
    // and the pruned READ under logical names returns the right rows
    assert(TableCommit.read(spark, r, logical, Some(mid))
      .collect().map(_.getLong(0)).toSet === (10L to 19L).toSet)
  }

  test("bloom pruning bridges the mapping (X281, bloom half)") {
    val r = root()
    TableCommit.commitAppendBloom(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "cents"), r, "k",
      retain = 16)
    TableCommit.commitAppendBloom(spark,
      Seq((100L, 1L), (200L, 2L)).toDF("k", "cents"), r, "k",
      retain = 16)
    val before = TableCommit.pruneAt(spark, r, StructType(Seq(
      StructField("k", LongType), StructField("cents", LongType))),
      col("k") === 100L).map(_.path)
    TableCommit.commitRenameColumn(r, "k", "kk", retain = 16)
    assert(TableCommit.pruneAt(spark, r, StructType(Seq(
        StructField("kk", LongType), StructField("cents", LongType))),
        col("kk") === 100L).map(_.path) === before,
      "the bloom probe under the new logical name must keep the set " +
        "the old name kept")
  }
}
