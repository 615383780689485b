package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Session

/** The session profile every entry point builds through: its conf set is
  * the one the bench has always run with, and it stays the only builder. */
class SessionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // Bench's conf set before the profile existed, warehouse dir aside
  private def benchConfs(cpus: String) = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "20000",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "2000",
    "spark.sql.ui.retainedExecutions" -> "50")

  test("the profile's conf map is Bench's, key for key") {
    Seq("4", "32").foreach { cpus =>
      val confs = Session.confs(cpus)
      assert(confs.map(_._1).distinct.size === confs.size, "duplicate key")
      assert(confs.toMap === benchConfs(cpus))
    }
  }

  test("a session built from the profile resolves every profile conf") {
    val resolved = spark.sparkContext.getConf.getAll.toMap
    benchConfs("4").foreach { case (k, v) =>
      assert(resolved.get(k) === Some(v), k)
    }
    assert(spark.conf.get("spark.sql.warehouse.dir").nonEmpty)
    assert(spark.sparkContext.getConf.get("spark.sql.extensions") ===
      "graft.plans.GraftExtensions")
  }

  /** The files under src/main/scala whose source contains `pattern`. */
  private def mainFilesContaining(pattern: String): Seq[String] =
    mainFilesMatching(java.util.regex.Pattern.quote(pattern))

  /** The files under src/main/scala whose source matches `regex`. */
  private def mainFilesMatching(regex: String): Seq[String] = {
    val re = regex.r
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repo root: $main")
    val walk = Files.walk(main)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
      .map((p: Path) => main.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("Session.scala holds the only SparkSession.builder in src/main") {
    assert(mainFilesContaining("SparkSession.builder") ===
      Seq("graft/engine/Session.scala"))
  }

  test("no src/main file decodes parquet through its example Group API") {
    // every parquet read goes through the one vectorized reader
    assert(mainFilesContaining("org.apache.parquet.example") === Seq.empty)
  }

  test("TableCommit.scala holds the only commit-retry backoff in src/main") {
    // every append publishes through TableCommit's one retry loop; a
    // connector growing its own loop again shows up as a second file
    assert(mainFilesContaining("ThreadLocalRandom") ===
      Seq("graft/engine/TableCommit.scala"))
  }

  test("table data files have one writer: TableCommit stages through the connector's task writers") {
    // no DataFrameWriter in the commit layer, and no hand-rolled parquet
    // WriteSupport anywhere (the task writers use Spark's own)
    assert(!mainFilesContaining(".write.")
      .contains("graft/engine/TableCommit.scala"))
    assert(mainFilesMatching("""extends\s+[\w.]*WriteSupport\b""") ===
      Seq.empty)
  }

  test("one merge-on-read: no DvProbe, no semi/anti joins in TableCommit") {
    // every deletion-vector read goes through the connector's row
    // reader; a position join or a native probe filter coming back to
    // the commit layer shows up here
    assert(mainFilesContaining("DvProbe") === Seq.empty)
    Seq("left_anti", "left_semi", "Shim.column").foreach(p =>
      assert(!mainFilesContaining(p)
        .contains("graft/engine/TableCommit.scala"), p))
  }

  test("one file-coordinate source: TableCommit takes file and row position only from the row reader") {
    // DML victim scans, row-id reads and the bloom build read file
    // coordinates from the connector's row reader, keyed by resolved
    // path; a `_metadata` tag, an `input_file_name` join or a leaf key
    // coming back to the commit layer shows up here
    val hits = mainFilesMatching(
      "_metadata|input_file_name|pathLeaf|requireUniqueLeaves")
    assert(!hits.contains("graft/engine/TableCommit.scala"))
  }

  test("GraftCatalog writes the table schema only through the fsynced replace") {
    // a plain Files.write tmp renamed over `_schema.json` can leave an
    // empty schema after a power loss; TableCommit.replaceFile fsyncs
    assert(!mainFilesContaining("Files.write(")
      .contains("graft/sources/GraftCatalog.scala"))
  }

  test("one commit loop and one partition replace") {
    // every retrying commit goes through publishLoop and both partition
    // replaces through publishReplace; a second loop or replace body
    // coming back shows up here
    assert(mainFilesMatching("publishRebasing|publishDynamicOverwrite") ===
      Seq.empty)
    val src = Files.readString(
      Paths.get("src/main/scala/graft/engine/TableCommit.scala"))
    assert("""(?<!def )conflictBackoff\(""".r.findAllMatchIn(src).size ===
      1, "TableCommit must back off from exactly one retry loop")
  }

  test("one snapshot read: no pruned or mapped read variant, no stats closure") {
    // engine reads resolve the column mapping and prune through
    // `read`/`readAt`'s `where` and `pruneAt`; a caller-written
    // ColStats closure coming back shows up here
    Seq("readMapped", "readMappedAt", "readPruned", "readPrunedStats",
      "readPrunedStatsMapped", "readPrunedBloom", "pruneEntries",
      "pruneEntriesMapped", "pruneEntriesBloom", "pruneEntriesBloomMapped",
      "rangeOverlaps", "commitAppendMapped").foreach(n =>
      assert(mainFilesMatching(s"\\b$n\\b") === Seq.empty, n))
    val src = Files.readString(
      Paths.get("src/main/scala/graft/engine/TableCommit.scala"))
    assert("""mightMatch:\s*ColStats""".r.findFirstIn(src).isEmpty)
  }
}
