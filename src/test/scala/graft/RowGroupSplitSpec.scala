package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** X309 (VERDICT r14 task 5): row-group splits for the connector read
  * facet — a multi-row-group file plans one InputPartition per group,
  * with the deletion-vector skip keyed on the FILE's absolute position
  * space. The contracts under test: split planning fires exactly when
  * the size gate says so, every split sees only its own rows (no
  * duplicates, no losses, positions never shift), and the DV'd
  * row-view leg deletes exactly the right rows across split
  * boundaries. */
class RowGroupSplitSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  private def root(): String =
    Files.createTempDirectory("graft_rgs_spec_").toString

  /** Commit `n` rows as ONE data file carrying MANY row groups (tiny
    * parquet block size for the write, restored after). */
  private def seedMultiGroup(r: String, n: Long): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try {
      val df = spark.range(n).select(col("id").as("k"),
        (col("id") * 10L).as("v")).coalesce(1)
      TableCommit.commitAppend(df, r, retain = 8)
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
  }

  private def facet(r: String) =
    spark.read.format("graft-table").schema(schema)
      .option("root", r).load()

  test("a multi-group file splits into one partition per group; clean scan exact") {
    val r = root()
    seedMultiGroup(r, 300000L)
    assert(TableCommit.entries(r).size === 1, "fixture wants ONE file")
    val seam = graft.sources.GraftBatchScan.splitFooterMin
    try {
      graft.sources.GraftBatchScan.splitFooterMin = 1L
      val df = facet(r)
      val parts = df.rdd.getNumPartitions
      assert(parts > 4, s"expected one partition per row group, got $parts")
      assert(df.count() === 300000L)
      val agg = df.agg(sum(col("k")), sum(col("v"))).head()
      assert(agg.getLong(0) === 299999L * 300000L / 2)
      assert(agg.getLong(1) === 299999L * 300000L / 2 * 10L)
      // above the gate: the same table plans ONE partition again
      graft.sources.GraftBatchScan.splitFooterMin = Long.MaxValue
      assert(facet(r).rdd.getNumPartitions === 1)
    } finally graft.sources.GraftBatchScan.splitFooterMin = seam
  }

  test("DV skip keys the file's absolute positions across split boundaries") {
    val r = root()
    seedMultiGroup(r, 300000L)
    // victims straddle the whole file: a head stripe, a mid stripe,
    // a tail stripe, plus a scattered comb — any positional shift in
    // ANY split surfaces as wrong rows
    TableCommit.commitDeleteRows(spark, r, schema,
      col("k") < 1000L || (col("k") >= 150000L && col("k") < 151000L) ||
        col("k") >= 299000L || pmod(col("k"), lit(1009L)) === 17L,
      retain = 8)
    val expect = (0L until 300000L).filterNot(k =>
      k < 1000L || (k >= 150000L && k < 151000L) || k >= 299000L ||
        k % 1009L == 17L).toSet
    val seam = graft.sources.GraftBatchScan.splitFooterMin
    try {
      graft.sources.GraftBatchScan.splitFooterMin = 1L
      val df = facet(r)
      assert(df.rdd.getNumPartitions > 4)
      val got = df.collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(got.length === expect.size, "row count across splits")
      assert(got.map(_._1).toSet === expect,
        "exactly the live keys, no split-boundary shift")
      assert(got.forall { case (k, v) => v == k * 10L },
        "values must stay attached to their keys")
      // the engine snapshot read composes the same splits
      val eng = TableCommit.read(spark, r, schema)
      assert(eng.collect().map(_.getLong(0)).toSet === expect)
    } finally graft.sources.GraftBatchScan.splitFooterMin = seam
  }
}
