package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** X286 `commitCluster` — the mechanical half `q_cluster`'s oracle
  * can't see: the Z-order rewrite actually makes manifest min/max
  * stats SELECTIVE on BOTH dimensions (a single-column sort is tight
  * on one and useless on the other), melts deletion vectors away like
  * any compaction, and preserves stable row ids on request. */
class ClusterSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("x", LongType), StructField("y", LongType),
    StructField("v", LongType)))

  private def root(): String =
    Files.createTempDirectory("graft_cluster_spec_").toString + "/t"

  /** 64×64 grid, shuffled layout: every file spans nearly the full
    * range of both dimensions before clustering. */
  private def grid(): org.apache.spark.sql.DataFrame =
    spark.range(4096L).select(
      (col("id") % 64L).as("x"),
      (col("id") / 64L).cast("long").as("y"),
      (col("id") * 7L).as("v"))
      .repartition(8)

  private def filesKept(r: String, c: String, lo: Long, hi: Long): Int =
    TableCommit.pruneAt(spark, r, schema, col(c).between(lo, hi)).size

  test("cluster makes stats selective on BOTH dimensions") {
    val r = root()
    TableCommit.commitAppend(grid(), r, retain = 4,
      statsCols = Seq("x", "y"))
    // shuffled layout: an 1/8-wide slice on either dim keeps ~all files
    assert(filesKept(r, "x", 0L, 7L) === 8)
    assert(filesKept(r, "y", 0L, 7L) === 8)
    val before = TableCommit.read(spark, r, schema)
      .agg(sum(col("v"))).collect()(0).getLong(0)
    TableCommit.commitCluster(spark, r, targetFiles = 8, "x", "y",
      retain = 4, zBits = 6)
    assert(TableCommit.entries(r).size === 8)
    // a z-ordered layout prunes on EITHER dimension: the ideal for an
    // 1/8 slice here is ~4 of 8 files, and the bound allows ONE more
    // because repartitionByRange SAMPLES its boundaries
    // (RDD-id-seeded) — a boundary can split one extra file into the
    // slice on any given run. 8/8 (unclustered) must never pass.
    val kx = filesKept(r, "x", 0L, 7L)
    val ky = filesKept(r, "y", 0L, 7L)
    assert(kx <= 5, s"x-slice kept $kx of 8 files — not clustered on x")
    assert(ky <= 5, s"y-slice kept $ky of 8 files — not clustered on y")
    // content untouched
    val after = TableCommit.read(spark, r, schema)
      .agg(sum(col("v"))).collect()(0).getLong(0)
    assert(after === before)
    // pruned reads stay lossless
    val got = TableCommit.read(spark, r, schema,
      Some(col("x").between(0L, 7L))).count()
    assert(got === 512L)
  }

  test("cluster melts DVs and can preserve stable row ids") {
    val r = root()
    TableCommit.commitAppend(grid(), r, retain = 6,
      statsCols = Seq("x", "y"), trackRowIds = true)
    val idsBefore = TableCommit.readWithRowIds(spark, r, schema)
      .select(col("v"), col(TableCommit.RowIdCol))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    TableCommit.commitDeleteRows(spark, r, schema,
      pmod(col("v"), lit(70L)) === 0L, retain = 6)
    TableCommit.commitCluster(spark, r, targetFiles = 4, "x", "y",
      retain = 6, zBits = 6, preserveRowIds = true)
    val after = TableCommit.readWithRowIds(spark, r, schema)
      .select(col("v"), col(TableCommit.RowIdCol))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(after.size === idsBefore.size - idsBefore.keys
      .count(_ % 70L == 0L))
    after.foreach { case (v, id) =>
      assert(id === idsBefore(v), s"row v=$v changed identity")
    }
    // rewritten files carry no DVs (the delete is physical now)
    assert(TableCommit.entries(r)
      .forall(e => !e.stats.contains(TableCommit.DvKey)))
  }
}
