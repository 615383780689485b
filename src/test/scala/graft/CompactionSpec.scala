package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

/** Mechanical half of `q_compact` the DuckDB oracle can't see: the fixture
  * really is fragmented, the rewrite really lands at the target file
  * count, and range partitioning leaves each output file key-disjoint
  * (tight min/max for pruning). */
class CompactionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("compaction: fragments in, target file count out, files key-disjoint") {
    Relational.compactQ(spark, sfDir).collect() // build both fixtures
    val fragPath = Relational.fixturePath("compact_frag", sfDir)
    val outPath = Relational.fixturePath("compact_out", sfDir)
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    val frags = parquetFiles(fragPath)
    val outs = parquetFiles(outPath)
    assert(frags.size == Relational.CompactFragments,
      s"fixture should have ${Relational.CompactFragments} fragments, has ${frags.size}")
    assert(outs.size == Relational.CompactTarget,
      s"compacted output should have ${Relational.CompactTarget} files, has ${outs.size}")
    // range partitioning ⇒ per-file key ranges must not overlap
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val ranges = spark.read.parquet(outPath)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
      .orderBy(col("lo"))
      .collect()
    ranges.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(2) < b.getLong(1),
          s"file key ranges overlap: ${a} vs ${b}")
      case _ => ()
    }
  }
}
