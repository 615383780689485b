package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** X292 `GraftCatalog`: graft tables through pure Spark SQL — DDL
  * (CREATE/DROP/RENAME with create-exclusive schema claims), DML
  * (INSERT INTO/OVERWRITE via the DSv2 write, DELETE FROM via
  * deletion vectors with zero data bytes moved), and queries through
  * the X289 read facet. */
class CatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** X325 reports real manifest statistics, so Spark rightly
    * auto-broadcasts these small fixtures — which replaces the SPJ
    * plan these tests pin. Disable auto-broadcast (as Spark's own
    * KeyGroupedPartitioningSuite does): at the 100 TB scale SPJ
    * exists for, neither side fits a broadcast. */
  private def noBroadcast[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def freshCatalog(): (String, String) = {
    val wh = Files.createTempDirectory("graft_cat_spec_").toString
    val cat = "graft_cat_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def dataFingerprint(root: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(root, "data"))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap finally s.close()
  }

  test("DDL + DML + query round-trip through pure SQL") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    // duplicate CREATE loses the exclusive claim, loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    }
    spark.range(100L).select(col("id").as("k"),
      concat(lit("v"), pmod(col("id"), lit(3L))).as("v"))
      .createOrReplaceTempView("cat_spec_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cat_spec_src")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").collect()(0)
      .getLong(0) === 100L)
    // DELETE FROM is a deletion-vector commit: zero data bytes move
    val before = dataFingerprint(s"$wh/t")
    spark.sql(s"DELETE FROM $cat.t WHERE v = 'v1'")
    assert(dataFingerprint(s"$wh/t") === before,
      "SQL DELETE must not touch a single data byte")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t WHERE k >= 0")
      .collect()(0).getLong(0) === 67L)
    // INSERT OVERWRITE truncate-replaces
    spark.sql(s"INSERT OVERWRITE $cat.t SELECT * FROM cat_spec_src " +
      "WHERE k < 10")
    assert(spark.sql(s"SELECT SUM(k) FROM $cat.t WHERE k >= 0")
      .collect()(0).getLong(0) === 45L)
    spark.catalog.dropTempView("cat_spec_src")
  }

  test("catalog lifecycle: list, rename, drop; non-evolution ALTER refuses") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT)")
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT)")
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet === Set("a", "b"))
    spark.sql(s"ALTER TABLE $cat.a RENAME TO c")
    assert(Files.exists(Paths.get(wh, "c", "_schema.json")))
    assert(!Files.exists(Paths.get(wh, "a")))
    // X298: ADD/RENAME/DROP COLUMN are supported now — a TYPE change
    // is the shape that still refuses (commit-layer concern)
    spark.sql(s"ALTER TABLE $cat.c ADD COLUMN x BIGINT")
    assert(spark.table(s"$cat.c").columns.toSeq === Seq("k", "x"))
    // virgin-table rename/drop edit the schema file directly (no
    // commits exist to carry a mapping)
    spark.sql(s"ALTER TABLE $cat.c RENAME COLUMN x TO y")
    spark.sql(s"ALTER TABLE $cat.c DROP COLUMN y")
    assert(spark.table(s"$cat.c").columns.toSeq === Seq("k"))
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.c ALTER COLUMN k TYPE STRING")
    }
    // NOT NULL on ADD COLUMN cannot be honored (old rows read NULL):
    // refused loudly, never silently minted nullable
    val nn = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.c ADD COLUMN z BIGINT NOT NULL")
    }
    assert(nn.getMessage.contains("NOT NULL"))
    spark.sql(s"DROP TABLE $cat.c")
    assert(!Files.exists(Paths.get(wh, "c")))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.c")
    }
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF; TRUNCATE is metadata-only (X293)") {
    import java.nio.file.attribute.FileTime
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.range(10L).select(col("id").as("k"), lit("a").as("v"))
      .createOrReplaceTempView("cat_tt_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cat_tt_src") // v1
    spark.sql(s"INSERT INTO $cat.t SELECT k + 10, v FROM cat_tt_src") // v2
    spark.sql(s"DELETE FROM $cat.t WHERE k < 5") // v3
    def stamp(v: Long, t: Long): Unit =
      Files.setLastModifiedTime(Paths.get(wh, "t", "_log",
        f"v$v%020d.json"), FileTime.fromMillis(t))
    stamp(1L, 1000L); stamp(2L, 2000L); stamp(3L, 3000L)
    def n(sql: String): Long =
      spark.sql(sql).collect()(0).getLong(0)
    assert(n(s"SELECT COUNT(*) FROM $cat.t") === 15L)
    assert(n(s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 1") === 10L)
    assert(n(s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 2") === 20L)
    // TIMESTAMP AS OF resolves by manifest mtime (epoch 2.5 s → v2);
    // the deleted rows are visible again at that snapshot
    assert(n(s"SELECT COUNT(*) FROM $cat.t TIMESTAMP AS OF " +
      "'1970-01-01 00:00:02.5'") === 20L)
    assert(n(s"SELECT SUM(k) FROM $cat.t VERSION AS OF 1 WHERE k >= 0")
      === 45L)
    // TRUNCATE = one metadata-only empty commit
    spark.sql(s"TRUNCATE TABLE $cat.t")
    assert(n(s"SELECT COUNT(*) FROM $cat.t") === 0L)
    assert(graft.engine.TableCommit.entries(s"$wh/t").isEmpty)
    spark.catalog.dropTempView("cat_tt_src")
  }

  test("SQL UPDATE is a merge-on-read DV commit; expressions and WHERE compose (X297)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING, c BIGINT)")
    spark.range(50L).select(col("id").as("k"),
      concat(lit("v"), pmod(col("id"), lit(5L))).as("v"),
      (col("id") * 10L).as("c")).createOrReplaceTempView("upd_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM upd_src")
    val before = dataFingerprint(s"$wh/t")
    spark.sql(s"UPDATE $cat.t SET c = c + 1000, v = upper(v) " +
      "WHERE k % 5 = 0")
    assert(dataFingerprint(s"$wh/t").keySet.intersect(before.keySet)
      .forall(p => dataFingerprint(s"$wh/t")(p) == before(p)),
      "UPDATE must not rewrite any pre-existing data file")
    val rows = spark.sql(s"SELECT k, v, c FROM $cat.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length === 50)
    rows.foreach { case (k, v, c) =>
      if (k % 5 == 0) assert(v === "V0" && c === k * 10L + 1000L)
      else assert(v === s"v${k % 5}" && c === k * 10L)
    }
    // UPDATE without WHERE touches every row
    spark.sql(s"UPDATE $cat.t SET c = 0")
    assert(spark.sql(s"SELECT SUM(c) FROM $cat.t").collect()(0)
      .getLong(0) === 0L)
    // a time-travel pin refuses DML (Spark's parser already rejects
    // the clause; the catalog-side head guard is the belt for
    // programmatic plans)
    val ex = intercept[Exception] {
      spark.sql(s"UPDATE $cat.t VERSION AS OF 1 SET c = 1")
    }
    assert(ex.getMessage.contains("head") ||
      ex.getMessage.contains("PARSE_SYNTAX_ERROR") ||
      ex.getMessage.toLowerCase.contains("not supported"))
  }

  test("SQL MERGE INTO is the broadcast upsert; non-upsert shapes refuse loudly (X297)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.range(20L).select(col("id").as("k"),
      concat(lit("old"), col("id")).as("v"))
      .createOrReplaceTempView("mrg_base")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM mrg_base")
    // upsert batch: updates 10..19, inserts 20..29
    spark.range(10L, 30L).select(col("id").as("kk"),
      concat(lit("new"), col("id")).as("vv"))
      .createOrReplaceTempView("mrg_src")
    spark.sql(
      s"""MERGE INTO $cat.t USING mrg_src ON t.k = mrg_src.kk
         |WHEN MATCHED THEN UPDATE SET k = kk, v = vv
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (kk, vv)"""
        .stripMargin)
    val got = spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === 30)
    got.foreach { case (k, v) =>
      assert(v === (if (k < 10L) s"old$k" else s"new$k"))
    }
    // star shape works too (UPDATE SET * / INSERT *) when names align
    spark.range(5L).select(col("id").as("k"),
      lit("star").as("v")).createOrReplaceTempView("mrg_star")
    spark.sql(s"MERGE INTO $cat.t USING mrg_star ON t.k = mrg_star.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t WHERE v = 'star'")
      .collect()(0).getLong(0) === 5L)
    // duplicate source keys: the ANSI multiple-match refusal
    spark.sql("SELECT 1L AS k, 'a' AS v UNION ALL SELECT 1L, 'b'")
      .createOrReplaceTempView("mrg_dup")
    val dup = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.t USING mrg_dup ON t.k = mrg_dup.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(dup.getMessage.contains("more than one row"))
    // a DELETE action is outside the upsert shape: loud, with the API named
    val del = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.t USING mrg_star ON t.k = mrg_star.k " +
        "WHEN MATCHED THEN DELETE")
    }
    assert(del.getMessage.contains("commitMergeRows") ||
      del.getMessage.contains("not supported"))
    // NULL source keys never match under ANSI — they are plain
    // NOT MATCHED inserts, never a spurious multiple-match refusal
    val before = spark.sql(s"SELECT COUNT(*) FROM $cat.t")
      .collect()(0).getLong(0)
    spark.sql("SELECT CAST(NULL AS BIGINT) AS k, 'n1' AS v " +
      "UNION ALL SELECT CAST(NULL AS BIGINT), 'n2'")
      .createOrReplaceTempView("mrg_null")
    spark.sql(s"MERGE INTO $cat.t USING mrg_null ON t.k = mrg_null.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").collect()(0)
      .getLong(0) === before + 2L)
  }

  test("SQL UPDATE and MERGE preserve row lineage on a tracked table (X297)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    // tracked bootstrap through the Scala API; SQL DML must keep ids
    TableCommit.commitAppend(
      spark.range(10L).select(col("id").as("k"),
        lit("x").as("v")), s"$wh/t", retain = 8, trackRowIds = true)
    val born = TableCommit.readWithRowIds(spark, s"$wh/t", schema)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    spark.sql(s"UPDATE $cat.t SET v = 'upd' WHERE k < 3")
    spark.range(8L, 12L).select(col("id").as("k"), lit("mrg").as("v"))
      .createOrReplaceTempView("lin_src")
    spark.sql(s"MERGE INTO $cat.t USING lin_src ON t.k = lin_src.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val after = TableCommit.readWithRowIds(spark, s"$wh/t", schema)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    (0L until 10L).foreach { k =>
      assert(after(k) === born(k),
        s"row $k must keep its stable id through SQL UPDATE/MERGE")
    }
    assert(after(10L) >= 10L && after(11L) >= 10L,
      "fresh MERGE inserts mint NEW ids at the high-water")
  }

  test("ALTER TABLE rename/add/drop rides the column mapping; reads, writes and pruning compose (X298)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, amt BIGINT, st STRING)")
    // ordered batches so the post-rename pruning assertion has teeth
    (0 until 4).foreach { i =>
      spark.range(i * 100L, i * 100L + 100L).select(col("id").as("k"),
        (col("id") * 2L).as("amt"), lit(s"s$i").as("st"))
        .coalesce(1).createOrReplaceTempView(s"evo_src_$i")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM evo_src_$i")
    }
    // RENAME is metadata-only: not one data byte moves
    val before = dataFingerprint(s"$wh/t")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN amt TO cents")
    assert(dataFingerprint(s"$wh/t") === before,
      "ALTER RENAME must be a pure mapping commit")
    assert(spark.table(s"$cat.t").columns.toSeq ===
      Seq("k", "cents", "st"))
    // old name gone, new name serves the same values
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT amt FROM $cat.t").collect()
    }
    assert(spark.sql(s"SELECT SUM(cents) FROM $cat.t").collect()(0)
      .getLong(0) === (0L until 400L).map(_ * 2L).sum)
    // a post-rename INSERT lands physically consistent with old files
    spark.range(400L, 500L).select(col("id").as("k"),
      (col("id") * 2L).as("cents"), lit("s4").as("st")).coalesce(1)
      .createOrReplaceTempView("evo_src_4")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM evo_src_4")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").collect()(0)
      .getLong(0) === 500L)
    // manifest-stat pruning through the mapping: a filter on the NEW
    // name must still skip non-overlapping files (stats live under
    // the physical name; the DSv2 writer records them as it writes)
    val pruned = spark.sql(s"SELECT k FROM $cat.t WHERE cents >= 900")
    assert(pruned.rdd.getNumPartitions === 1,
      "renamed-column filter must keep pruning files by manifest stats")
    assert(pruned.count() === 50L)
    // ADD: old files read NULL; DROP: the column disappears
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN note STRING")
    assert(spark.sql(s"SELECT COUNT(note) FROM $cat.t").collect()(0)
      .getLong(0) === 0L)
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN st")
    assert(spark.table(s"$cat.t").columns.toSeq ===
      Seq("k", "cents", "note"))
    // DML through the mapping: UPDATE and DELETE target the new names
    spark.sql(s"UPDATE $cat.t SET note = 'hi' WHERE cents < 20")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t WHERE note = 'hi'")
      .collect()(0).getLong(0) === 10L)
    spark.sql(s"DELETE FROM $cat.t WHERE cents >= 980")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").collect()(0)
      .getLong(0) === 490L)
    // re-adding the DROPPED name never resurrects old bytes
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN st STRING")
    assert(spark.sql(s"SELECT COUNT(st) FROM $cat.t").collect()(0)
      .getLong(0) === 0L,
      "a re-added dropped column must read NULL, not the old values")
    // time travel serves the era's names: version 4 predates the rename
    assert(spark.sql(s"SELECT SUM(amt) FROM $cat.t VERSION AS OF 4")
      .collect()(0).getLong(0) === (0L until 400L).map(_ * 2L).sum)
    // renaming ONTO an existing identity column is refused — the
    // derived logical schema would otherwise carry the name twice
    val clash = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN cents TO k")
    }
    assert(clash.getMessage.contains("already exists"))
  }

  test("graft_history TVF surfaces the commit log in pure SQL (X304)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.range(10L).select(col("id").as("k"), lit("a").as("v"))
      .createOrReplaceTempView("hist_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM hist_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k + 10, v FROM hist_src")
    spark.sql(s"DELETE FROM $cat.t WHERE k < 3")
    val rows = spark.sql(
      s"""SELECT version, kind, n_added, n_removed, dv_grown
         |FROM graft_history('$wh/t') ORDER BY version""".stripMargin)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows(0).getString(1) === "full")
    assert(rows(1).getString(1) === "delta",
      "the second DSv2 INSERT must publish a delta manifest (X303)")
    assert(rows(2).getLong(4) > 0L, "the DELETE shows as DV growth")
    // a non-literal argument is refused loudly (the walk is
    // planning-time)
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft_history(current_date())").collect()
    }
    assert(ex.getMessage.contains("STRING literal") ||
      ex.getMessage.toLowerCase.contains("cannot"))
  }

  test("SQL maintenance verbs: compact reduces files, melt clears DVs, vacuum is deferred and age-gated (X307)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.m (k BIGINT, v BIGINT)")
    spark.range(200L).select(col("id").as("k"), (col("id") * 3L).as("v"))
      .repartition(4).createOrReplaceTempView("cat_mnt_src")
    spark.sql(s"INSERT INTO $cat.m SELECT * FROM cat_mnt_src")
    spark.sql(s"INSERT INTO $cat.m SELECT k + 200, v FROM cat_mnt_src")
    spark.sql(s"DELETE FROM $cat.m WHERE k < 80")
    val root = s"$wh/m"
    assert(TableCommit.entries(root)
      .exists(_.stats.contains(TableCommit.DvKey)), "fixture has DVs")
    // EXPLAIN must PLAN the verb without running it (deferred command)
    val vBefore = TableCommit.currentVersion(root).get
    spark.sql(s"EXPLAIN SELECT * FROM graft_compact('$root', 1)")
      .collect()
    assert(TableCommit.currentVersion(root) === Some(vBefore),
      "EXPLAIN over a maintenance verb must not execute it")
    val filesBefore = TableCommit.entries(root).size
    assert(filesBefore > 1)
    val rep = spark.sql(s"SELECT * FROM graft_compact('$root', 1)")
      .collect()(0)
    assert(rep.getLong(1) === filesBefore.toLong)
    assert(rep.getLong(2) === 1L, "compact(1) must land one file")
    assert(rep.getLong(3) === filesBefore.toLong,
      "rewritten = files whose paths left the manifest, not a net delta")
    assert(TableCommit.entries(root).size === 1)
    assert(TableCommit.entries(root)
      .forall(e => !e.stats.contains(TableCommit.DvKey)),
      "a compact melts every DV away")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.m").collect()(0)
      .getLong(0) === 320L) // 400 rows, k<80 kills 80
    // vacuum: a planted aged orphan data file IS swept; young isn't
    val orphan = Paths.get(root, "data", "orphan-plant.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    val swept0 = spark.sql(s"SELECT * FROM graft_vacuum('$root')")
      .collect()(0).getLong(0)
    assert(swept0 === 0L, "a young orphan must survive the age gate")
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    val swept1 = spark.sql(s"SELECT * FROM graft_vacuum('$root', 3600000)")
      .collect()(0).getLong(0)
    assert(swept1 === 1L, "the aged orphan must be swept")
    assert(!Files.exists(orphan))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.m").collect()(0)
      .getLong(0) === 320L, "vacuum must not touch live data")
    // graft_cluster: Z-order rewrite via SQL — content preserved,
    // layout to the target file count, report counts the rewrite
    val preCluster = TableCommit.currentVersion(root).get
    val cRep = spark.sql(
      s"SELECT * FROM graft_cluster('$root', 2, 'k', 'v', 10)")
      .collect()(0)
    assert(cRep.getLong(2) === 2L, "cluster(2) must land two files")
    assert(cRep.getLong(3) === 1L, "the one pre-cluster file rewrote")
    // live rows: k ∈ [80, 400); v = 3k for the first insert's half,
    // 3(k−200) for the second — both sums pin content preservation
    val sums = spark.sql(s"SELECT SUM(k), SUM(v) FROM $cat.m")
      .collect()(0)
    assert(sums.getLong(0) === (80L + 399L) * 320L / 2L)
    assert(sums.getLong(1) ===
      3L * ((80L + 199L) * 120L / 2L + 199L * 200L / 2L))
    // graft_restore: the SQL undo — back to the pre-cluster version
    // (metadata-only; the clustered layout is simply unreferenced)
    val rRep = spark.sql(
      s"SELECT * FROM graft_restore('$root', $preCluster)").collect()(0)
    assert(rRep.getLong(2) === 1L, "restore re-pins the 1-file layout")
    val sums2 = spark.sql(s"SELECT COUNT(*), SUM(k), SUM(v) FROM $cat.m")
      .collect()(0)
    assert(sums2.getLong(0) === 320L)
    assert(sums2.getLong(1) === sums.getLong(0))
    assert(sums2.getLong(2) === sums.getLong(1))
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only columns evolve in; a re-added name never resurrects dropped bytes (X310)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (k BIGINT, v BIGINT, note STRING)")
    spark.range(10L).select(col("id").as("k"), (col("id") * 10L).as("v"),
      lit("secret").as("note")).createOrReplaceTempView("evo_src0")
    spark.sql(s"INSERT INTO $cat.e SELECT * FROM evo_src0")
    // drop the column — its bytes stay in the files under a tombstone
    spark.sql(s"ALTER TABLE $cat.e DROP COLUMN note")
    assert(spark.table(s"$cat.e").columns.toSeq === Seq("k", "v"))
    // evolve the SAME name back in via MERGE: matched rows take the
    // source value; unmatched rows must read NULL, never 'secret'
    spark.range(5L).select((col("id") * 2L).as("k"),
      (col("id") * 100L).as("v"), lit("fresh").as("note"))
      .createOrReplaceTempView("evo_src1")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.e USING evo_src1
         |ON e.k = evo_src1.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql(s"SELECT k, v, note FROM $cat.e ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    assert(rows.length === 10)
    rows.foreach { case (k, v, note) =>
      if (k % 2 == 0 && k < 10) {
        assert(v === k * 50L, s"k=$k") // id*100 where id=k/2
        assert(note === "fresh", s"k=$k")
      } else {
        assert(v === k * 10L, s"k=$k")
        assert(note === null,
          s"k=$k must read NULL for the re-added column, got '$note'")
      }
    }
    spark.catalog.dropTempView("evo_src0")
    spark.catalog.dropTempView("evo_src1")
  }

  test("concurrent virgin-schema ALTERs serialize under the schema lock; no edit is lost (ADVICE r14)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.s (k BIGINT)")
    val n = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = (0 until n).map { i =>
      val t = new Thread(() => {
        try {
          gate.await()
          spark.sql(s"ALTER TABLE $cat.s ADD COLUMN c$i BIGINT")
          ()
        } catch { case e: Throwable => errs.add(e) }
      })
      t.setName(s"graft-alter-$i"); t.start(); t
    }
    gate.countDown(); ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    assert(spark.table(s"$cat.s").columns.toSet ===
      (Set("k") ++ (0 until n).map(i => s"c$i")),
      "every concurrent ADD COLUMN must survive — none overwritten")
    assert(!Files.exists(Paths.get(wh, "s", "_schema.lock")),
      "the schema lock must be released")
  }

  test("atomic CTAS (X312): staged tables are invisible, reserve their root, commit atomically, and abort cleanly") {
    val (cat, wh) = freshCatalog()
    spark.range(100L).select(col("id").as("k"), (col("id") * 2L).as("v"))
      .createOrReplaceTempView("ctas_src")
    // happy path: CTAS lands through the ATOMIC exec (the catalog is a
    // StagingTableCatalog) and reads back exactly
    spark.sql(s"CREATE TABLE $cat.c1 AS SELECT * FROM ctas_src WHERE k < 10")
    assert(spark.sql(s"SELECT COUNT(*), SUM(v) FROM $cat.c1")
      .collect()(0).toSeq === Seq(10L, 90L))
    // failing SELECT: the staged table must vanish without a trace —
    // no half-visible table, no debris directory
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.c2 AS SELECT k, CAST(CASE WHEN " +
        "k < 10 THEN k ELSE raise_error('boom') END AS BIGINT) AS x " +
        "FROM ctas_src")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.c2")
    }
    assert(!Files.exists(Paths.get(wh, "c2")),
      "an aborted CTAS must remove its reserved root")
    // the staging protocol directly: invisible while staged, root
    // reserved against a plain CREATE, visible only after commit
    val cata = new graft.sources.GraftCatalog()
    cata.initialize("ctas_spec",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "c3")
    val schema = StructType(Seq(StructField("k", LongType)))
    val staged = cata.stageCreate(ident, schema,
      Array.empty, new java.util.HashMap[String, String]())
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchTableException] {
      cata.loadTable(ident)
    }
    intercept[Exception] { // the root is reserved while staged
      cata.createTable(ident, schema, Array.empty,
        new java.util.HashMap[String, String]())
    }
    intercept[org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException] { // a second CTAS loses the claim
      cata.stageCreate(ident, schema, Array.empty,
        new java.util.HashMap[String, String]())
    }
    staged.commitStagedChanges()
    assert(cata.loadTable(ident) != null, "visible after commit")
    // REPLACE forms refuse loudly
    intercept[UnsupportedOperationException] {
      cata.stageReplace(ident, schema, Array.empty,
        new java.util.HashMap[String, String]())
    }
    spark.catalog.dropTempView("ctas_src")
  }

  test("reserved names and nesting are refused: SQL can't reach table internals") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    // identifiers resolving into table internals are unnameable
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.t.data (k BIGINT)")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`_tags` (k BIGINT)")
    }
    // a table cannot nest INSIDE another table's root
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.t.sub (k BIGINT)")
    }
    // an existing non-empty directory is never adopted
    Files.createDirectories(Paths.get(wh, "foreign"))
    Files.write(Paths.get(wh, "foreign", "x"), Array[Byte](1))
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.foreign (k BIGINT)")
    }
    assert(Files.exists(Paths.get(wh, "foreign", "x")),
      "the refused CREATE must leave foreign contents untouched")
  }

  test("DELETE with an untranslatable predicate fails loudly, table intact") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.range(20L).select(col("id").as("k"), lit("x").as("v"))
      .createOrReplaceTempView("cat_spec_src2")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cat_spec_src2")
    // a subquery carries a whole plan inside the predicate: refused
    intercept[UnsupportedOperationException] {
      spark.sql(s"DELETE FROM $cat.t WHERE k IN " +
        "(SELECT k FROM cat_spec_src2 WHERE k % 2 = 0)")
    }
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").collect()(0)
      .getLong(0) === 20L, "a refused DELETE must change nothing")
    spark.catalog.dropTempView("cat_spec_src2")
  }

  test("DELETE with OR, NOT and arithmetic predicates removes exactly the rows they hold for") {
    // Spark's data-source filters have no form for `u % 7 = 1`; the
    // engine takes the resolved predicate whole, so no side is lost
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (u BIGINT, et STRING)")
    val src = spark.range(60L).select(col("id").as("u"),
      when(col("id") % 5 === 0, lit("error"))
        .when(col("id") % 5 === 1, lit(null).cast("string"))
        .otherwise(lit("ok")).as("et"))
    src.createOrReplaceTempView("cat_spec_or")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cat_spec_or")
    // a cached read of the table must see every DELETE
    val cached = spark.table(s"$cat.t").cache()
    assert(cached.count() === 60L)
    var expected = src.collect().map(r =>
      (r.getLong(0), Option(r.getString(1)))).toSet
    def rows(): Set[(Long, Option[String])] =
      spark.sql(s"SELECT u, et FROM $cat.t").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    def deleteAndCheck(pred: String,
        holds: ((Long, Option[String])) => Boolean): Unit = {
      val before = dataFingerprint(s"$wh/t")
      spark.sql(s"DELETE FROM $cat.t WHERE $pred")
      assert(dataFingerprint(s"$wh/t") === before,
        s"DELETE WHERE $pred must not touch a data byte")
      expected = expected.filterNot(holds)
      assert(rows() === expected, s"after DELETE WHERE $pred")
    }
    deleteAndCheck("u % 7 = 1 OR et = 'error'",
      { case (u, et) => u % 7 == 1 || et.contains("error") })
    // NULL et: NOT (NULL = 'ok') is NULL, so those rows stay
    deleteAndCheck("NOT (et = 'ok') AND u < 40",
      { case (u, et) => et.exists(_ != "ok") && u < 40 })
    deleteAndCheck("u * 3 - 1 > 150 OR NOT (u >= 2)",
      { case (u, _) => u * 3 - 1 > 150 || u < 2 })
    assert(expected.nonEmpty && expected.size < 40)
    assert(cached.count() === expected.size.toLong)
    cached.unpersist()
    spark.catalog.dropTempView("cat_spec_or")
  }

  test("PARTITIONED BY tables: rotated single-valued files, SQL SPJ with zero shuffle, guarded column (X316)") { noBroadcast {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pa (g BIGINT, x BIGINT) " +
      "PARTITIONED BY (g)")
    spark.sql(s"CREATE TABLE $cat.pb (g BIGINT, y BIGINT) " +
      "PARTITIONED BY (g)")
    spark.range(300L).select((col("id") % 6L).as("g"), col("id").as("x"))
      .createOrReplaceTempView("cat_spj_a")
    spark.range(60L).select((col("id") % 6L).as("g"),
      (col("id") * 7L).as("y")).createOrReplaceTempView("cat_spj_b")
    spark.sql(s"INSERT INTO $cat.pa SELECT g, x FROM cat_spj_a")
    spark.sql(s"INSERT INTO $cat.pb SELECT g, y FROM cat_spj_b")
    // the write ROTATED files: every file single-valued on g, proven
    // by its own manifest stats (min == max), and no file multi-valued
    val es = TableCommit.entries(s"$wh/pa")
    assert(es.nonEmpty)
    assert(es.forall(e => e.stats.get("g").exists(cs => cs.min == cs.max)),
      s"a partitioned write produced a multi-valued file: $es")
    assert(es.flatMap(_.stats.get("g").map(_.min)).distinct.size === 6)
    // a pure-SQL join between the two co-partitioned tables: the scans
    // default to clusterby=g → KeyGroupedPartitioning → ZERO shuffle
    val j = spark.sql(
      s"SELECT a.g, a.x, b.y FROM $cat.pa a JOIN $cat.pb b ON a.g = b.g")
    val n = j.count()
    assert(n === 50L * 60L, s"expected 3000 pairs, got $n")
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"catalog SPJ must plan zero shuffles:\n$plan")
    // partition-column protection: DROP refuses, rename keeps the
    // contract (metadata rides the physical field)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.pa DROP COLUMN g")
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
    spark.sql(s"ALTER TABLE $cat.pa RENAME COLUMN g TO grp")
    val j2 = spark.sql(
      s"SELECT a.grp FROM $cat.pa a JOIN $cat.pb b ON a.grp = b.g")
    j2.collect()
    assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
      "SPJ must survive a partition-column rename")
    // NULL partition values refuse loudly (the stats channel cannot
    // witness them — silence would quietly break the layout proof)
    val eNull = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.pb VALUES (NULL, 1)")
    }
    def hasNullMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage)
        .exists(_.contains("NULL partition values")) ||
        hasNullMsg(t.getCause))
    assert(hasNullMsg(eNull), s"expected the NULL refusal, got $eNull")
    // unsupported transforms refuse at CREATE (bucket is X320's)
    val eB = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.pbad (k BIGINT, v STRING) " +
        "PARTITIONED BY (truncate(4, v))")
    }
    assert(eB.getMessage.contains("are supported"), eB.getMessage)
    spark.catalog.dropTempView("cat_spj_a")
    spark.catalog.dropTempView("cat_spj_b")
  } }

  test("maintenance preserves a partitioned table's layout (X318)") { noBroadcast {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pm (g BIGINT, x BIGINT) " +
      "PARTITIONED BY (g)")
    (0 until 3).foreach { i =>
      spark.range(60L).select((col("id") % 4L).as("g"),
        (col("id") + i * 1000L).as("x"))
        .createOrReplaceTempView("cat_pm_src")
      spark.sql(s"INSERT INTO $cat.pm SELECT g, x FROM cat_pm_src")
    }
    spark.sql(s"DELETE FROM $cat.pm WHERE x IN (3, 1003, 2003)")
    val before = TableCommit.entries(s"$wh/pm").size
    spark.sql(s"SELECT * FROM graft_compact('$wh/pm', 4)").collect()
    val es = TableCommit.entries(s"$wh/pm")
    assert(es.size < before,
      s"compact must reduce the file count ($before -> ${es.size})")
    // the rewrite staged per value: every output file still
    // single-valued on g, so the X314 SPJ proof survives OPTIMIZE
    assert(es.forall(e => e.stats.get("g").exists(cs => cs.min == cs.max)),
      s"compact broke the partitioned layout: $es")
    assert(!es.exists(_.stats.contains(TableCommit.DvKey)),
      "compact must melt DVs away")
    spark.sql(s"CREATE TABLE $cat.pn (g BIGINT, y BIGINT) " +
      "PARTITIONED BY (g)")
    spark.range(8L).select((col("id") % 4L).as("g"), col("id").as("y"))
      .createOrReplaceTempView("cat_pn_src")
    spark.sql(s"INSERT INTO $cat.pn SELECT g, y FROM cat_pn_src")
    val j = spark.sql(
      s"SELECT a.g FROM $cat.pm a JOIN $cat.pn b ON a.g = b.g")
    j.collect()
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
      "SPJ must still plan zero shuffles after OPTIMIZE")
    // row integrity through insert + delete + compact: 180 - 3
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pm").collect()(0)
      .getLong(0) === 177L)
    // the clustered layout also serves AGGREGATION: GROUP BY the
    // partition column needs ClusteredDistribution(g), which
    // KeyGroupedPartitioning satisfies — zero exchanges end to end
    val ag = spark.sql(
      s"SELECT g, SUM(x) AS sx FROM $cat.pm GROUP BY g")
    ag.collect()
    assert(!ag.queryExecution.executedPlan.toString.contains("Exchange"),
      "GROUP BY the partition column must not shuffle")
    // EVERY rewrite verb preserves the layout (review finding): a
    // z-order cluster rewrite re-derives the declaration itself
    spark.sql(s"SELECT * FROM graft_cluster('$wh/pm', 4, 'x', 'x', 8)")
      .collect()
    assert(TableCommit.entries(s"$wh/pm").forall(e =>
      e.stats.get("g").exists(cs => cs.min == cs.max)),
      "graft_cluster broke the partitioned layout")
    val j3 = spark.sql(
      s"SELECT a.g FROM $cat.pm a JOIN $cat.pn b ON a.g = b.g")
    j3.collect()
    assert(!j3.queryExecution.executedPlan.toString.contains("Exchange"),
      "SPJ must survive a z-order cluster rewrite")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pm").collect()(0)
      .getLong(0) === 177L)
    spark.catalog.dropTempView("cat_pm_src")
    spark.catalog.dropTempView("cat_pn_src")
  } }

  test("bucketed tables: bounded files, per-file bucket truth, SPJ on the raw key (X320)") { noBroadcast {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ba (k BIGINT, x BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.bb (k BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // high-cardinality keys: 500 distinct k — identity partitioning
    // would mean 500 files; 4 buckets mean at most 4 per insert
    spark.range(500L).select(col("id").as("k"), (col("id") * 2L).as("x"))
      .createOrReplaceTempView("cat_bkt_a")
    spark.range(500L).filter(col("id") % 5L === 0L)
      .select(col("id").as("k"), (col("id") * 3L).as("y"))
      .createOrReplaceTempView("cat_bkt_b")
    spark.sql(s"INSERT INTO $cat.ba SELECT k, x FROM cat_bkt_a")
    spark.sql(s"INSERT INTO $cat.bb SELECT k, y FROM cat_bkt_b")
    val es = TableCommit.entries(s"$wh/ba")
    assert(es.size <= 4 && es.nonEmpty,
      s"4 buckets must mean at most 4 files, got ${es.size}")
    // per-file bucket TRUTH: every row in a file hashes to the file's
    // declared bucket id under the canonical function
    es.foreach { e =>
      val id = e.part.map(_.stripPrefix("bucket=").toInt).get
      val ks = spark.read.parquet(s"$wh/ba/${e.path}")
        .select("k").collect().map(_.getLong(0))
      assert(ks.nonEmpty && ks.forall(k =>
        graft.sources.GraftBucketFn.bucketLong(4, k) === id),
        s"file ${e.path} holds rows outside its bucket $id")
    }
    // the bucket function is SQL-callable through the catalog
    assert(spark.sql(s"SELECT $cat.bucket(4, CAST(123 AS BIGINT))")
      .collect()(0).getInt(0) ===
      graft.sources.GraftBucketFn.bucketLong(4, 123L))
    // SPJ on the RAW key: both sides report the same bucket transform,
    // and the join on k plans with zero exchanges
    val j = spark.sql(
      s"SELECT a.k, a.x, b.y FROM $cat.ba a JOIN $cat.bb b ON a.k = b.k")
    assert(j.count() === 100L)
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"a bucket-co-partitioned join must plan zero shuffles:\n$plan")
    // row-level truth of the joined values
    assert(j.filter(col("k") === 55L).collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))) ===
      Seq((55L, 110L, 165L)))
    // X321: OPTIMIZE preserves the bucket layout — delete, second
    // insert (fragmenting the buckets), compact: files merge per
    // bucket, the proof tags survive, and SPJ still plans shuffle-free
    spark.sql(s"DELETE FROM $cat.ba WHERE k IN (7, 77, 177)")
    spark.sql(s"INSERT INTO $cat.ba SELECT k + 500, x FROM cat_bkt_a")
    val fragmented = TableCommit.entries(s"$wh/ba").size
    spark.sql(s"SELECT * FROM graft_compact('$wh/ba', 4)").collect()
    val esC = TableCommit.entries(s"$wh/ba")
    assert(esC.size <= 4 && esC.size < fragmented,
      s"bucket compact must merge per bucket ($fragmented -> ${esC.size})")
    esC.foreach { e =>
      val id = e.part.map(_.stripPrefix("bucket=").toInt).get
      val ks = spark.read.parquet(s"$wh/ba/${e.path}")
        .select("k").collect().map(_.getLong(0))
      assert(ks.forall(k =>
        graft.sources.GraftBucketFn.bucketLong(4, k) === id),
        s"compacted file ${e.path} broke its bucket $id")
    }
    val j2 = spark.sql(
      s"SELECT a.k FROM $cat.ba a JOIN $cat.bb b ON a.k = b.k")
    j2.collect()
    assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucket SPJ must survive OPTIMIZE")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ba").collect()(0)
      .getLong(0) === 997L) // 500 + 500 - 3 deleted
    spark.catalog.dropTempView("cat_bkt_a")
    spark.catalog.dropTempView("cat_bkt_b")
  } }

  test("DML image files keep the declared layout: UPDATE and MERGE preserve SPJ (X322)") { noBroadcast {
    val (cat, wh) = freshCatalog()
    // identity layout + SQL UPDATE
    spark.sql(s"CREATE TABLE $cat.da (g BIGINT, x BIGINT) " +
      "PARTITIONED BY (g)")
    spark.sql(s"CREATE TABLE $cat.db (g BIGINT, y BIGINT) " +
      "PARTITIONED BY (g)")
    spark.range(300L).select((col("id") % 6L).as("g"), col("id").as("x"))
      .createOrReplaceTempView("cat_dml_a")
    spark.range(60L).select((col("id") % 6L).as("g"),
      (col("id") * 7L).as("y")).createOrReplaceTempView("cat_dml_b")
    spark.sql(s"INSERT INTO $cat.da SELECT g, x FROM cat_dml_a")
    spark.sql(s"INSERT INTO $cat.db SELECT g, y FROM cat_dml_b")
    spark.sql(s"UPDATE $cat.da SET x = x + 1000000 WHERE x < 50")
    // every file — including the UPDATE's image files — still proves
    // single-valued on g
    assert(TableCommit.entries(s"$wh/da").forall(e =>
      e.stats.get("g").exists(cs => cs.min == cs.max)),
      "UPDATE image files broke the identity layout")
    val j = spark.sql(
      s"SELECT a.g FROM $cat.da a JOIN $cat.db b ON a.g = b.g")
    j.collect()
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
      "identity SPJ must survive an UPDATE")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.da WHERE x >= 1000000")
      .collect()(0).getLong(0) === 50L)
    // bucket layout + SQL MERGE (update + insert legs)
    spark.sql(s"CREATE TABLE $cat.bm (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.bn (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.range(200L).select(col("id").as("k"), (col("id") * 2L).as("v"))
      .createOrReplaceTempView("cat_dml_m")
    spark.range(200L).select(col("id").as("k"), (col("id") * 5L).as("w"))
      .createOrReplaceTempView("cat_dml_n")
    spark.sql(s"INSERT INTO $cat.bm SELECT k, v FROM cat_dml_m")
    spark.sql(s"INSERT INTO $cat.bn SELECT k, w FROM cat_dml_n")
    spark.range(150L, 250L).select(col("id").as("k"), lit(-1L).as("v"))
      .createOrReplaceTempView("cat_dml_src")
    spark.sql(
      s"""MERGE INTO $cat.bm t USING cat_dml_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    // every file — original and merge images — carries its bucket tag
    val esM = TableCommit.entries(s"$wh/bm")
    assert(esM.forall(_.part.exists(_.startsWith("bucket="))),
      s"MERGE image files broke the bucket layout: $esM")
    esM.foreach { e =>
      val id = e.part.map(_.stripPrefix("bucket=").toInt).get
      val ks = spark.read.parquet(s"$wh/bm/${e.path}")
        .select("k").collect().map(_.getLong(0))
      assert(ks.forall(k =>
        graft.sources.GraftBucketFn.bucketLong(4, k) === id))
    }
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.bm").collect()(0)
      .getLong(0) === 250L)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.bm WHERE v = -1").collect()(0)
      .getLong(0) === 100L)
    val j2 = spark.sql(
      s"SELECT t.k FROM $cat.bm t JOIN $cat.bn n ON t.k = n.k")
    assert(j2.count() === 200L)
    j2.collect()
    assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucket SPJ must survive a MERGE")
    Seq("cat_dml_a", "cat_dml_b", "cat_dml_m", "cat_dml_n",
      "cat_dml_src").foreach(spark.catalog.dropTempView)
  } }

  test("CTAS PARTITIONED BY rotates its write and lands the layout atomically (X316/X320)") { noBroadcast {
    val (cat, wh) = freshCatalog()
    spark.range(120L).select((col("id") % 4L).as("g"), col("id").as("x"))
      .createOrReplaceTempView("cat_ctas_src")
    // identity CTAS: the staged marker carries the partition contract,
    // the staged write rotates, the commit lands both atomically
    spark.sql(s"CREATE TABLE $cat.cp PARTITIONED BY (g) AS " +
      "SELECT g, x FROM cat_ctas_src")
    val es = TableCommit.entries(s"$wh/cp")
    assert(es.nonEmpty && es.forall(e =>
      e.stats.get("g").exists(cs => cs.min == cs.max)),
      s"CTAS write broke the identity layout: $es")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.cp").collect()(0)
      .getLong(0) === 120L)
    // bucketed CTAS: proof tags ride Entry.part
    spark.sql(s"CREATE TABLE $cat.cb PARTITIONED BY (bucket(4, x)) AS " +
      "SELECT g, x FROM cat_ctas_src")
    val esB = TableCommit.entries(s"$wh/cb")
    assert(esB.nonEmpty &&
      esB.forall(_.part.exists(_.startsWith("bucket="))),
      s"bucketed CTAS lost its proof tags: $esB")
    // and the created table immediately serves a zero-shuffle join
    // against a same-layout partner
    spark.sql(s"CREATE TABLE $cat.cq (g BIGINT, y BIGINT) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.cq SELECT g, g * 100 FROM " +
      "(SELECT DISTINCT g FROM cat_ctas_src)")
    val j = spark.sql(
      s"SELECT a.g FROM $cat.cp a JOIN $cat.cq b ON a.g = b.g")
    assert(j.count() === 120L)
    j.collect()
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
      "a CTAS-created partitioned table must SPJ out of the gate")
    spark.catalog.dropTempView("cat_ctas_src")
  } }

  test("a streaming sink into a partitioned catalog table keeps the layout (X323)") { noBroadcast {
    import org.apache.spark.sql.streaming.Trigger
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.sp (g BIGINT, x BIGINT) " +
      "PARTITIONED BY (g)")
    spark.sql(s"CREATE TABLE $cat.sb (x BIGINT, g BIGINT) " +
      "PARTITIONED BY (bucket(4, x))")
    val base = Files.createTempDirectory("graft_cat_stream_").toString
    spark.range(90L).select((col("id") % 3L).as("g"), col("id").as("x"))
      .write.parquet(s"$base/src")
    def drain(table: String, ckpt: String, cols: String): Unit = {
      val q = spark.readStream.schema("g LONG, x LONG")
        .parquet(s"$base/src").selectExpr(cols.split(","): _*)
        .writeStream.option("checkpointLocation", s"$base/$ckpt")
        .trigger(Trigger.AvailableNow()).toTable(table)
      q.awaitTermination()
    }
    drain(s"$cat.sp", "ck1", "g,x")
    // identity layout: every streamed file single-valued on g
    val es = TableCommit.entries(s"$wh/sp")
    assert(es.nonEmpty && es.forall(e =>
      e.stats.get("g").exists(cs => cs.min == cs.max)),
      s"streamed files broke the identity layout: $es")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.sp").collect()(0)
      .getLong(0) === 90L)
    // bucket layout: every streamed file carries its proof tag and
    // honors the canonical hash
    drain(s"$cat.sb", "ck2", "x,g")
    val esB = TableCommit.entries(s"$wh/sb")
    assert(esB.nonEmpty &&
      esB.forall(_.part.exists(_.startsWith("bucket="))),
      s"streamed files broke the bucket layout: $esB")
    esB.foreach { e =>
      val id = e.part.map(_.stripPrefix("bucket=").toInt).get
      val xs = spark.read.parquet(s"$wh/sb/${e.path}")
        .select("x").collect().map(_.getLong(0))
      assert(xs.forall(x =>
        graft.sources.GraftBucketFn.bucketLong(4, x) === id))
    }
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.sb").collect()(0)
      .getLong(0) === 90L)
    // and the streamed table serves a zero-shuffle join immediately
    spark.sql(s"CREATE TABLE $cat.sq (g BIGINT, y BIGINT) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.sq VALUES (0, 0), (1, 100), (2, 200)")
    val j = spark.sql(
      s"SELECT a.g FROM $cat.sp a JOIN $cat.sq b ON a.g = b.g")
    assert(j.count() === 90L)
    j.collect()
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
      "a streamed-into partitioned table must SPJ out of the gate")
  } }

  test("partition DELETE is metadata-only: whole files drop, zero rows scanned (X324)") {
    val (cat, wh) = freshCatalog()
    val root = s"$wh/pd"
    spark.sql(s"CREATE TABLE $cat.pd (g BIGINT, x BIGINT) " +
      "PARTITIONED BY (g)")
    spark.range(300L).select((col("id") % 6L).as("g"), col("id").as("x"))
      .createOrReplaceTempView("cat_pd_src")
    spark.sql(s"INSERT INTO $cat.pd SELECT g, x FROM cat_pd_src")
    assert(TableCommit.entries(root).size === 6)
    val fpBefore = dataFingerprint(root)
    val vBefore = TableCommit.currentVersion(root).get
    TableCommit.DmlPruneProbe.lastDropped = None
    spark.sql(s"DELETE FROM $cat.pd WHERE g IN (1, 4)")
    // two whole files left the manifest; NO deletion vector minted,
    // NO data file touched (metadata-only, the Delta partition-delete)
    assert(TableCommit.DmlPruneProbe.lastDropped === Some(2),
      s"expected 2 whole-file drops, got ${TableCommit.DmlPruneProbe.lastDropped}")
    val es = TableCommit.entries(root)
    assert(es.size === 4)
    assert(!es.exists(_.stats.contains(TableCommit.DvKey)),
      "a partition delete must not mint DVs")
    val fpAfter = dataFingerprint(root)
    assert(es.forall(e => fpAfter(s"$root/${e.path}") ==
      fpBefore(s"$root/${e.path}")), "surviving files must be untouched")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pd").collect()(0)
      .getLong(0) === 200L)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.pd WHERE g IN (1, 4)").collect()(0)
      .getLong(0) === 0L)
    // the change feed tells the truth: the dropped files' rows read
    // back as row-level deletes
    val schema = StructType(Seq(StructField("g", LongType),
      StructField("x", LongType)))
    val vAfter = TableCommit.currentVersion(root).get
    val feed = TableCommit.readChangesFull(spark, root, schema,
      vBefore, vAfter)
    assert(feed.filter(col("_change_type") === "delete").count() === 100L)
    // a NON-partition predicate keeps the DV path (no false drops)
    TableCommit.DmlPruneProbe.lastDropped = None
    spark.sql(s"DELETE FROM $cat.pd WHERE x = 2")
    assert(TableCommit.DmlPruneProbe.lastDropped === Some(0))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pd").collect()(0)
      .getLong(0) === 199L)
    assert(TableCommit.entries(root).exists(
      _.stats.contains(TableCommit.DvKey)),
      "a row-scoped delete must DV, not drop")
    // idempotence: re-deleting the gone partitions is a no-op version
    val v2 = TableCommit.currentVersion(root).get
    spark.sql(s"DELETE FROM $cat.pd WHERE g IN (1, 4)")
    assert(TableCommit.currentVersion(root).get === v2,
      "a no-op partition delete must not mint a snapshot")
    spark.catalog.dropTempView("cat_pd_src")
  }

  test("DATE-partitioned tables: daily rotation, range pruning, metadata day-range DELETE (X327)") { noBroadcast {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.dt (d DATE, x BIGINT) " +
      "PARTITIONED BY (d)")
    val root = s"$wh/dt"
    spark.range(100L).select(
      date_add(lit(java.sql.Date.valueOf("2024-03-01")),
        (col("id") % 5L).cast("int")).as("d"),
      col("id").as("x")).createOrReplaceTempView("cat_date_src")
    spark.sql(s"INSERT INTO $cat.dt SELECT d, x FROM cat_date_src")
    // one file per day, ISO min == max stats + the nn witness, ISO tag
    val es = TableCommit.entries(root)
    assert(es.size === 5, s"expected 5 rotated day files: $es")
    assert(es.forall(e => e.stats.get("d").exists(cs =>
      cs.min == cs.max && cs.min.startsWith("2024-03-0")) &&
      TableCommit.nullFree(e, "d")), s"broken day layout: $es")
    assert(es.flatMap(_.part).sorted ===
      (1 to 5).map(i => s"2024-03-0$i"))
    // a date-range query PRUNES whole day files at plan time
    val q = spark.table(s"$cat.dt")
      .filter(col("d") >= lit(java.sql.Date.valueOf("2024-03-04")))
    assert(q.rdd.getNumPartitions === 2,
      s"expected 2 planned day files, got ${q.rdd.getNumPartitions}")
    assert(q.count() === 40L)
    // SPJ on the date key: co-partitioned daily tables join shuffle-free
    spark.sql(s"CREATE TABLE $cat.dm (d DATE, y BIGINT) " +
      "PARTITIONED BY (d)")
    spark.sql(s"INSERT INTO $cat.dm SELECT d, x * 2 AS y FROM cat_date_src")
    val j = spark.sql(
      s"SELECT a.d FROM $cat.dt a JOIN $cat.dm b ON a.d = b.d")
    assert(j.count() === 2000L)
    j.collect()
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
      "date-partitioned tables must storage-partition their join")
    // X324 by RANGE (envelope containment): deleting two days drops
    // two whole files — no DV, survivors untouched
    val fpBefore = dataFingerprint(root)
    TableCommit.DmlPruneProbe.lastDropped = None
    spark.sql(s"DELETE FROM $cat.dt WHERE d >= DATE'2024-03-02' " +
      "AND d < DATE'2024-03-04'")
    assert(TableCommit.DmlPruneProbe.lastDropped === Some(2),
      s"expected 2 whole-day drops: ${TableCommit.DmlPruneProbe.lastDropped}")
    val es2 = TableCommit.entries(root)
    assert(es2.size === 3)
    assert(!es2.exists(_.stats.contains(TableCommit.DvKey)),
      "a day-range delete must not mint DVs")
    val fpAfter = dataFingerprint(root)
    assert(es2.forall(e => fpAfter(s"$root/${e.path}") ==
      fpBefore(s"$root/${e.path}")), "survivors must be untouched")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dt").collect()(0)
      .getLong(0) === 60L)
    // NULL dates refuse loudly at the rotating writer
    def hasNullMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage)
        .exists(_.contains("NULL partition values")) ||
        hasNullMsg(t.getCause))
    val eN = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.dt VALUES (NULL, 1)")
    }
    assert(hasNullMsg(eN), s"expected the NULL refusal, got $eN")
    // bucket-over-DATE refuses at CREATE
    val eB = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.dbad (d DATE, x BIGINT) " +
        "PARTITIONED BY (bucket(4, d))")
    }
    assert(eB.getMessage.contains("bucket column"), eB.getMessage)
    spark.catalog.dropTempView("cat_date_src")
  } }

  test("time-transform partitions: days(ts) rotation, SPJ, range metadata DELETE, maintenance; months/hours (X327)") { noBroadcast {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ev (ts TIMESTAMP, x BIGINT) " +
      "PARTITIONED BY (days(ts))")
    val root = s"$wh/ev"
    // 4 days of hourly events
    spark.range(96L).select(
      expr("timestampadd(HOUR, CAST(id AS INT), " +
        "TIMESTAMP'2024-05-01 00:30:00')").as("ts"),
      col("id").as("x")).createOrReplaceTempView("cat_time_src")
    spark.sql(s"INSERT INTO $cat.ev SELECT ts, x FROM cat_time_src")
    val es = TableCommit.entries(root)
    assert(es.size === 4, s"expected 4 rotated day files: $es")
    assert(es.flatMap(_.part).sorted ===
      (1 to 4).map(i => s"days=2024-05-0$i"),
      s"day tags broken: ${es.flatMap(_.part)}")
    assert(es.forall(e => e.stats.contains("ts") &&
      TableCommit.nullFree(e, "ts")), s"ts stats missing: $es")
    // SPJ through the days transform: both scans report days(ts)
    spark.sql(s"CREATE TABLE $cat.ev2 (ts TIMESTAMP, y BIGINT) " +
      "PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO $cat.ev2 SELECT ts, x * 2 AS y FROM cat_time_src")
    val j = spark.sql(
      s"SELECT a.ts FROM $cat.ev a JOIN $cat.ev2 b ON a.ts = b.ts")
    assert(j.count() === 96L)
    j.collect()
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
      "days-partitioned tables must storage-partition their join:\n" +
        j.queryExecution.executedPlan.toString)
    // X324 by envelope containment on the TIMESTAMP column: a range
    // DELETE spanning whole days drops whole files, zero DVs
    TableCommit.DmlPruneProbe.lastDropped = None
    spark.sql(s"DELETE FROM $cat.ev " +
      "WHERE ts >= TIMESTAMP'2024-05-02 00:00:00' " +
      "AND ts < TIMESTAMP'2024-05-04 00:00:00'")
    assert(TableCommit.DmlPruneProbe.lastDropped === Some(2),
      s"expected 2 whole-day drops: ${TableCommit.DmlPruneProbe.lastDropped}")
    assert(!TableCommit.entries(root).exists(
      _.stats.contains(TableCommit.DvKey)))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ev").collect()(0)
      .getLong(0) === 48L)
    // a mid-day range keeps the DV path (envelope not contained)
    spark.sql(s"DELETE FROM $cat.ev " +
      "WHERE ts >= TIMESTAMP'2024-05-01 06:00:00' " +
      "AND ts < TIMESTAMP'2024-05-01 12:00:00'")
    assert(TableCommit.DmlPruneProbe.lastDropped === Some(0))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ev").collect()(0)
      .getLong(0) === 42L)
    // maintenance preserves the time layout: fragment then compact
    spark.sql(s"INSERT INTO $cat.ev SELECT ts, x + 1000 FROM " +
      "cat_time_src WHERE ts < TIMESTAMP'2024-05-02 00:00:00'")
    spark.sql(s"SELECT * FROM graft_compact('$root', 4)").collect()
    val esC = TableCommit.entries(root)
    assert(esC.forall(_.part.exists(p =>
      graft.sources.GraftTimePart.parse("days", p).isDefined)),
      s"compact broke the days layout: $esC")
    assert(!esC.exists(_.stats.contains(TableCommit.DvKey)),
      "compact must melt DVs away")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ev").collect()(0)
      .getLong(0) === 66L)
    val j2 = spark.sql(
      s"SELECT a.ts FROM $cat.ev a JOIN $cat.ev2 b ON a.ts = b.ts")
    j2.collect()
    assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
      "SPJ must survive a time-layout compact")
    // NULL timestamps refuse at the rotating writer
    def hasNullMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage)
        .exists(_.contains("NULL partition values")) ||
        hasNullMsg(t.getCause))
    val eN = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.ev VALUES (NULL, 1)")
    }
    assert(hasNullMsg(eN), s"expected the NULL refusal, got $eN")
    // months/hours: same machinery, namespaced tags
    spark.sql(s"CREATE TABLE $cat.em (ts TIMESTAMP, x BIGINT) " +
      "PARTITIONED BY (months(ts))")
    spark.sql(s"CREATE TABLE $cat.eh (ts TIMESTAMP, x BIGINT) " +
      "PARTITIONED BY (hours(ts))")
    spark.range(90L).select(
      expr("timestampadd(DAY, CAST(id AS INT), " +
        "TIMESTAMP'2024-01-15 12:00:00')").as("ts"),
      col("id").as("x")).createOrReplaceTempView("cat_month_src")
    spark.sql(s"INSERT INTO $cat.em SELECT ts, x FROM cat_month_src")
    val esM = TableCommit.entries(s"$wh/em")
    assert(esM.size === 4, s"expected 4 month files: $esM") // Jan-Apr
    assert(esM.flatMap(_.part).forall(_.startsWith("months=")))
    spark.sql(s"INSERT INTO $cat.eh SELECT ts, x FROM cat_time_src " +
      "WHERE ts < TIMESTAMP'2024-05-01 06:00:00'")
    val esH = TableCommit.entries(s"$wh/eh")
    assert(esH.size === 6, s"expected 6 hour files: $esH")
    assert(esH.flatMap(_.part).forall(_.startsWith("hours=")))
    // a time transform over a non-timestamp refuses at CREATE
    val eB = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.tbad (d DATE, x BIGINT) " +
        "PARTITIONED BY (days(d))")
    }
    assert(eB.getMessage.contains("TIMESTAMP"), eB.getMessage)
    spark.catalog.dropTempView("cat_time_src")
    spark.catalog.dropTempView("cat_month_src")
  } }

  test("multi-column layouts: (d, region) rotation, SPJ on both keys, subset metadata DELETE (X328)") { noBroadcast {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.md (d DATE, region STRING, " +
      "x BIGINT) PARTITIONED BY (d, region)")
    val root = s"$wh/md"
    // 3 days × 3 regions × 10 rows
    spark.range(90L).select(
      date_add(lit(java.sql.Date.valueOf("2024-06-01")),
        (col("id") % 3L).cast("int")).as("d"),
      element_at(array(lit("AP"), lit("EU"), lit("US")),
        ((col("id") / 3L) % 3L).cast("int") + 1).as("region"),
      col("id").as("x")).createOrReplaceTempView("cat_md_src")
    spark.sql(s"INSERT INTO $cat.md SELECT d, region, x FROM cat_md_src")
    val es = TableCommit.entries(root)
    assert(es.size === 9, s"expected 9 rotated (day, region) files: $es")
    // per-column proofs: min == max + nn witness on BOTH columns;
    // tags name both columns
    assert(es.forall(e =>
      Seq("d", "region").forall(c =>
        e.stats.get(c).exists(cs => cs.min == cs.max) &&
          TableCommit.nullFree(e, c))), s"broken tuple layout: $es")
    assert(es.flatMap(_.part).forall(p =>
      p.matches("d=2024-06-0[1-3]/region=(AP|EU|US)")),
      s"tuple tags broken: ${es.flatMap(_.part)}")
    // both-key pruning plans exactly one file
    val one = spark.table(s"$cat.md")
      .filter(col("d") === lit(java.sql.Date.valueOf("2024-06-02")) &&
        col("region") === "EU")
    assert(one.rdd.getNumPartitions === 1)
    assert(one.count() === 10L)
    // SPJ on the full tuple: join ON (d, region) plans zero shuffles
    spark.sql(s"CREATE TABLE $cat.md2 (d DATE, region STRING, " +
      "y BIGINT) PARTITIONED BY (d, region)")
    spark.sql(s"INSERT INTO $cat.md2 SELECT d, region, x * 2 AS y " +
      "FROM cat_md_src")
    val j = spark.sql(s"SELECT a.d FROM $cat.md a JOIN $cat.md2 b " +
      "ON a.d = b.d AND a.region = b.region")
    assert(j.count() === 900L) // 10×10 per (day, region) × 9
    j.collect()
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
      "tuple-partitioned tables must storage-partition their join:\n" +
        j.queryExecution.executedPlan.toString)
    // GROUP BY the full tuple is exchange-free too
    val ag = spark.sql(
      s"SELECT d, region, SUM(x) AS sx FROM $cat.md GROUP BY d, region")
    ag.collect()
    assert(!ag.queryExecution.executedPlan.toString.contains("Exchange"),
      "GROUP BY the tuple must not shuffle")
    // X324 on a SUBSET conjunct: one day's DELETE drops all three
    // region files of the day — pure metadata
    TableCommit.DmlPruneProbe.lastDropped = None
    spark.sql(s"DELETE FROM $cat.md WHERE d = DATE'2024-06-02'")
    assert(TableCommit.DmlPruneProbe.lastDropped === Some(3),
      s"expected 3 whole drops: ${TableCommit.DmlPruneProbe.lastDropped}")
    assert(!TableCommit.entries(root).exists(
      _.stats.contains(TableCommit.DvKey)))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.md").collect()(0)
      .getLong(0) === 60L)
    // and on the full tuple: exactly one file leaves
    spark.sql(s"DELETE FROM $cat.md WHERE d = DATE'2024-06-01' " +
      "AND region = 'EU'")
    assert(TableCommit.DmlPruneProbe.lastDropped === Some(1))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.md").collect()(0)
      .getLong(0) === 50L)
    // maintenance preserves the tuple layout
    spark.sql(s"INSERT INTO $cat.md SELECT d, region, x + 100 FROM " +
      "cat_md_src WHERE d = DATE'2024-06-03'")
    spark.sql(s"SELECT * FROM graft_compact('$root', 4)").collect()
    val esC = TableCommit.entries(root)
    assert(esC.forall(e =>
      Seq("d", "region").forall(c =>
        e.stats.get(c).exists(cs => cs.min == cs.max) &&
          TableCommit.nullFree(e, c))),
      s"compact broke the tuple layout: $esC")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.md").collect()(0)
      .getLong(0) === 80L)
    val j2 = spark.sql(s"SELECT a.d FROM $cat.md a JOIN $cat.md2 b " +
      "ON a.d = b.d AND a.region = b.region")
    j2.collect()
    assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
      "SPJ must survive a tuple-layout compact")
    // NULL in EITHER column refuses
    def hasNullMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage)
        .exists(_.contains("NULL partition values")) ||
        hasNullMsg(t.getCause))
    val eN = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.md VALUES (DATE'2024-06-01', NULL, 1)")
    }
    assert(hasNullMsg(eN), s"expected the NULL refusal, got $eN")
    // multi-column non-identity transforms refuse at CREATE
    val eB = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.mbad (d DATE, k BIGINT) " +
        "PARTITIONED BY (d, bucket(4, k))")
    }
    assert(eB.getMessage.contains("identity columns only"), eB.getMessage)
    spark.catalog.dropTempView("cat_md_src")
  } }

  test("INSERT OVERWRITE under dynamic mode replaces only the written partitions (X331)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.dyo (g BIGINT, x BIGINT) " +
      "PARTITIONED BY (g)")
    spark.range(300L).select((col("id") % 6L).as("g"),
      col("id").as("x")).createOrReplaceTempView("cat_dyo_src")
    spark.sql(s"INSERT INTO $cat.dyo SELECT g, x FROM cat_dyo_src")
    val root = s"$wh/dyo"
    val fpBefore = dataFingerprint(root)
    val esBefore = TableCommit.entries(root)
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        "dynamic")
      spark.sql(s"INSERT OVERWRITE $cat.dyo " +
        s"SELECT g, x + 10000 AS x FROM cat_dyo_src WHERE g IN (1, 4)")
      val es = TableCommit.entries(root)
      // untouched partitions survive BYTE-IDENTICAL
      val survivors = esBefore.filter(e =>
        !Set("1", "4")(e.stats("g").min))
      assert(survivors.size === 4)
      val fpAfter = dataFingerprint(root)
      survivors.foreach { e =>
        assert(es.exists(_.path == e.path),
          s"untouched partition file ${e.path} must survive")
        assert(fpAfter(s"$root/${e.path}") == fpBefore(s"$root/${e.path}"),
          "untouched partition files must be byte-identical")
      }
      // replaced partitions carry exactly the new rows
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dyo").collect()(0)
        .getLong(0) === 300L)
      assert(spark.sql(s"SELECT MIN(x) FROM $cat.dyo WHERE g = 1")
        .collect()(0).getLong(0) >= 10000L)
      assert(spark.sql(s"SELECT MAX(x) FROM $cat.dyo WHERE g = 0")
        .collect()(0).getLong(0) < 10000L)
      // an existing file WITHOUT a layout proof refuses loudly —
      // replacing around unknown keys could keep overwritten rows
      val rogue = spark.range(5L).select(lit(1L).as("g"),
        (col("id") + 90000L).as("x"))
      TableCommit.commitAppend(rogue.coalesce(1), root) // no stats
      def overwrite(): Unit =
        spark.sql(s"INSERT OVERWRITE $cat.dyo " +
          s"SELECT g, x FROM cat_dyo_src WHERE g = 1")
      def hasMsg(t: Throwable, m: String): Boolean =
        t != null && (Option(t.getMessage).exists(_.contains(m)) ||
          hasMsg(t.getCause, m))
      val e = intercept[Exception] { overwrite() }
      assert(hasMsg(e, "no layout proof"), s"expected the refusal: $e")
      // compact restores the proof; the overwrite then lands
      spark.sql(s"SELECT * FROM graft_compact('$root', 6)").collect()
      overwrite()
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dyo WHERE g = 1")
        .collect()(0).getLong(0) === 50L)
      assert(spark.sql(
        s"SELECT COUNT(*) FROM $cat.dyo WHERE x >= 90000").collect()(0)
        .getLong(0) === 0L, "the rogue file's rows were g=1 and must go")
    } finally spark.conf.set(
      "spark.sql.sources.partitionOverwriteMode", prev)
    // static mode (the default) still truncate-replaces the whole table
    spark.sql(s"INSERT OVERWRITE $cat.dyo " +
      s"SELECT g, x FROM cat_dyo_src WHERE g = 2")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dyo").collect()(0)
      .getLong(0) === 50L)
    spark.catalog.dropTempView("cat_dyo_src")
  }

  test("X324 whole-file drops require the null witness — a mixed NULL file keeps the DV path (ADVICE r15)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.nw (g BIGINT, x BIGINT) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.nw VALUES (5, 0), (6, 1)")
    val root = s"$wh/nw"
    // an engine-API append has no NULL refusal and no rotation: one
    // file mixing {g=5, g=NULL} whose g envelope reads min = max = 5 —
    // exactly the file a stats-only all-rows proof would wrongly drop
    val sch = StructType(Seq(StructField("g", LongType),
      StructField("x", LongType)))
    val mixed = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(5L, 10L),
      org.apache.spark.sql.Row(null, 11L)), sch).coalesce(1)
    TableCommit.commitAppend(mixed, root, statsCols = Seq("g"))
    val e = TableCommit.entries(root).find(en =>
      en.rows.contains(2L)).get
    assert(e.stats("g") === TableCommit.ColStats("5", "5"))
    assert(!TableCommit.nullFree(e, "g"),
      "a file holding NULLs must not carry the nn: witness")
    TableCommit.DmlPruneProbe.lastDropped = None
    spark.sql(s"DELETE FROM $cat.nw WHERE g = 5")
    // only the rotated (witnessed) g=5 file drops whole; the mixed
    // file takes a deletion vector for its matching row
    assert(TableCommit.DmlPruneProbe.lastDropped === Some(1),
      s"expected 1 witnessed drop, got ${TableCommit.DmlPruneProbe.lastDropped}")
    // the NULL row SURVIVED — the bug this witness exists to prevent
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.nw WHERE g IS NULL")
      .collect()(0).getLong(0) === 1L)
    assert(spark.sql(s"SELECT x FROM $cat.nw ORDER BY x").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 11L))
  }

  test("a slice replace after a SQL INSERT swaps the INSERTed slices: tags are raw values, '/' and ':' included") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.te (s STRING, v BIGINT) PARTITIONED BY (s)")
    spark.sql(s"INSERT INTO $cat.te VALUES ('a/b', 1), ('c', 2), ('d:e', 3)")
    val root = s"$wh/te"
    TableCommit.commitReplacePartitions(
      Seq(("a/b", 10L), ("c", 20L), ("d:e", 30L)).toDF("s", "v"), root, "s")
    val got = spark.sql(s"SELECT s, v FROM $cat.te ORDER BY s, v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("a/b", 10L), ("c", 20L), ("d:e", 30L)))
    assert(TableCommit.entries(root).flatMap(_.part).distinct.sorted ===
      Seq("a/b", "c", "d:e"))
  }

  test("a task that wrote no rows publishes no file: a one-row INSERT over 8 partitions is one entry") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.zr (k BIGINT, v STRING)")
    spark.range(0L, 80L, 1L, 8).select(col("id").as("k"),
      col("id").cast("string").as("v")).createOrReplaceTempView("cat_zr_src")
    spark.sql(s"INSERT INTO $cat.zr SELECT k, v FROM cat_zr_src WHERE k = 45")
    val root = s"$wh/zr"
    assert(TableCommit.entries(root).map(_.rows) === Seq(Some(1L)))
    // partition 0's schema file was dropped from disk, not just the log
    assert(dataFingerprint(root).keys.count(_.endsWith(".parquet")) === 1)
    // the commit verbs stage through the same writer
    val r2 = Files.createTempDirectory("graft_cat_zr_").toString
    TableCommit.commitAppend(
      spark.table("cat_zr_src").where(col("k") === 45L), r2)
    assert(TableCommit.entries(r2).map(_.rows) === Seq(Some(1L)))
    // an all-empty write still leaves partition 0's one file, so the
    // schema stays inferable
    val r3 = Files.createTempDirectory("graft_cat_zr_").toString
    TableCommit.commitOverwrite(
      spark.table("cat_zr_src").where(col("k") < 0L), r3)
    assert(TableCommit.entries(r3).map(_.rows) === Seq(Some(0L)))
    assert(TableCommit.readCurrent(spark, r3).schema.fieldNames.toSeq ===
      Seq("k", "v"))
    spark.catalog.dropTempView("cat_zr_src")
  }

  test("a replayed dynamic partition overwrite with a txn id lands nothing") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.dr (g BIGINT, x BIGINT) PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.dr VALUES (1, 1), (2, 2)")
    val root = s"$wh/dr"
    def overwrite(): Unit =
      spark.range(3L).select(lit(1L).as("g"), (col("id") + 100L).as("x"))
        .writeTo(s"$cat.dr").option("txnid", "7").overwritePartitions()
    overwrite()
    val v = TableCommit.currentVersion(root)
    assert(TableCommit.lastTxnId(root) === Some(7L))
    overwrite()
    assert(TableCommit.currentVersion(root) === v, "the replay must not commit")
    assert(spark.sql(s"SELECT g, x FROM $cat.dr ORDER BY g, x").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 100L), (1L, 101L), (1L, 102L), (2L, 2L)))
  }

  test("a racing INSERT into a dynamically overwritten partition aborts the overwrite (X274)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.dz (g BIGINT, x BIGINT) PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.dz VALUES (1, 1), (2, 2)")
    val root = s"$wh/dz"
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    // the racing INSERT lands between the overwrite's base read and its
    // publish; the catalog's default retries would otherwise rebase the
    // overwrite over it and erase the racing row
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      spark.sql(s"INSERT INTO $cat.dz VALUES (1, 555)")
      ()
    }
    val v0 = TableCommit.currentVersion(root).get
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val e = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE $cat.dz VALUES (1, 100)")
      }
      def conflictOf(t: Throwable): Option[Throwable] =
        Option(t).flatMap {
          case c: TableCommit.DmlConflictException => Some(c)
          case o => conflictOf(o.getCause)
        }
      assert(conflictOf(e).exists(_.getMessage.contains("replaced slice")),
        s"expected the X274 conflict: $e")
    } finally {
      TableCommit.publishRaceHook = () => ()
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    }
    assert(TableCommit.currentVersion(root) === Some(v0 + 1L),
      "only the racing INSERT may publish")
    assert(spark.sql(s"SELECT g, x FROM $cat.dz ORDER BY g, x").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (1L, 555L), (2L, 2L)))
  }
}
