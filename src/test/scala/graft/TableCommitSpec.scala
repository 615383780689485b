package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit

/** The copy-on-write table format (SURVEY §5: MERGE/D1 atomicity):
  * versioned manifests, atomic adoption, retention, partition-slice
  * replace, crash invisibility. */
class TableCommitSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def root(): String =
    Files.createTempDirectory("graft_tc_spec_").toString

  test("virgin root reads empty with the given schema; no version exists") {
    val r = root()
    assert(TableCommit.currentVersion(r).isEmpty)
    val df = TableCommit.read(spark, r, schema)
    assert(df.schema === schema && df.count() === 0)
  }

  test("overwrite commit round-trips, bumps the version, retires the predecessor's files") {
    val r = root()
    val v1 = TableCommit.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), r)
    assert(v1 === 1L)
    val gen1Files = TableCommit.entries(r).map(_.path)
    assert(gen1Files.nonEmpty)
    val v2 = TableCommit.commitOverwrite(Seq((3L, "c")).toDF("k", "v"), r)
    assert(v2 === 2L)
    assert(TableCommit.read(spark, r, schema).collect().map(_.getLong(0)).toSet
      === Set(3L))
    // predecessor data files and manifest are gone
    gen1Files.foreach(p => assert(!Files.exists(Paths.get(s"$r/$p"))))
    assert(TableCommit.currentVersion(r) === Some(2L))
  }

  test("append commit accumulates rows and keeps prior files live") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), r)
    val before = TableCommit.entries(r).map(_.path).toSet
    TableCommit.commitAppend(Seq((2L, "b")).toDF("k", "v"), r)
    val after = TableCommit.entries(r).map(_.path).toSet
    assert(before.subsetOf(after) && after.size > before.size)
    assert(TableCommit.read(spark, r, schema).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
  }

  test("replacePartitions swaps only the slices present in the new data") {
    val r = root()
    TableCommit.commitReplacePartitions(
      Seq(("d1", 1L), ("d2", 2L)).toDF("day", "n"), r, "day")
    // second load recomputes d2 only (new value) — d1 must survive untouched
    val d1Files = TableCommit.entries(r)
      .filter(_.part.contains("d1")).map(_.path).toSet
    TableCommit.commitReplacePartitions(
      Seq(("d2", 20L)).toDF("day", "n"), r, "day")
    val got = TableCommit.readCurrent(spark, r)
      .collect().map(x => x.getAs[String]("day") -> x.getAs[Long]("n")).toMap
    assert(got === Map("d1" -> 1L, "d2" -> 20L))
    assert(TableCommit.entries(r)
      .filter(_.part.contains("d1")).map(_.path).toSet === d1Files)
    // manifest-pruned read: listing-time file pruning keeps exactly the
    // d2 files (their single-valued `day` stats prove the slice)
    val dayN = StructType(Seq(StructField("day", StringType),
      StructField("n", LongType)))
    val d2 = col("day") === "d2"
    assert(TableCommit.pruneAt(spark, r, dayN, d2).map(_.path).toSet ===
      TableCommit.entries(r).filter(_.part.contains("d2")).map(_.path).toSet)
    val pruned = TableCommit.read(spark, r, dayN, Some(d2))
    assert(pruned.collect().map(_.getAs[Long]("n")).toSet === Set(20L))
  }

  test("a refused partition replace drops its staged files") {
    val r = root()
    TableCommit.commitReplacePartitions(
      Seq(("d1", 1L), ("d2", 2L)).toDF("day", "n"), r, "day", retain = 8)
    // a plain compaction drops the layout proof, so the next replace
    // is refused before it claims a version
    TableCommit.commitCompact(spark, r, targetFiles = 1, retain = 8)
    val v = TableCommit.currentVersion(r)
    val e = intercept[IllegalArgumentException](
      TableCommit.commitReplacePartitions(Seq(("d2", 20L)).toDF("day", "n"),
        r, "day", retain = 8))
    assert(e.getMessage.contains("no layout proof"))
    assert(TableCommit.currentVersion(r) === v)
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(r, "data"))
    val onDisk = try s.iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => Paths.get(r).relativize(p).toString).toSet
    finally s.close()
    // exactly the retained v1 files and the live compacted one
    val referenced = (TableCommit.entriesAtVersion(r, 1L) ++
      TableCommit.entries(r)).map(_.path).toSet
    assert(TableCommit.entries(r).size === 1)
    assert(onDisk === referenced && referenced.size === 3,
      s"on disk $onDisk, referenced $referenced")
  }

  test("a staged-but-unpublished batch is invisible; vacuum sweeps it, commits leave it alone") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), r)
    val orphan = TableCommit.stageBatch(
      Seq((99L, "crash")).toDF("k", "v"), r)
    assert(orphan.nonEmpty)
    assert(Files.exists(Paths.get(s"$r/${orphan.head.path}")))
    // invisible to readers
    assert(TableCommit.read(spark, r, schema).collect().map(_.getLong(0)).toSet
      === Set(1L))
    // a commit does NOT touch the unreferenced batch — it cannot tell a
    // crash orphan from a concurrent writer's in-flight stage
    TableCommit.commitAppend(Seq((2L, "b")).toDF("k", "v"), r)
    assert(Files.exists(Paths.get(s"$r/${orphan.head.path}")))
    // a fresh vacuum with a real retention age also leaves it (too young)
    TableCommit.vacuum(r)
    assert(Files.exists(Paths.get(s"$r/${orphan.head.path}")))
    // an age-0 vacuum (quiesced table) garbage-collects it
    TableCommit.vacuum(r, minAgeMs = 0L)
    assert(!Files.exists(Paths.get(s"$r/${orphan.head.path}")))
    assert(TableCommit.read(spark, r, schema).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
  }

  test("partition values with JSON-active characters survive the manifest") {
    val r = root()
    TableCommit.commitReplacePartitions(
      Seq(("""quo"te""", 1L)).toDF("day", "n"), r, "day")
    val es = TableCommit.entries(r)
    assert(es.nonEmpty)
    // value round-trips through the escaped manifest line (the raw
    // value as the tag, lossless)
    assert(es.head.part.isDefined)
    assert(TableCommit.readCurrent(spark, r).count() === 1L)
  }

  test("retain=2 keeps the predecessor readable via readAt; the window slides") {
    val r = root()
    val v1 = TableCommit.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), r, retain = 2)
    val gen1Files = TableCommit.entries(r).map(_.path)
    val v2 = TableCommit.commitOverwrite(
      Seq((3L, "c")).toDF("k", "v"), r, retain = 2)
    // both versions resolve; v1's files still on disk
    assert(TableCommit.readAt(spark, r, schema, v1)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(TableCommit.readAt(spark, r, schema, v2)
      .collect().map(_.getLong(0)).toSet === Set(3L))
    gen1Files.foreach(p => assert(Files.exists(Paths.get(s"$r/$p"))))
    // current read is unaffected by retention
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(3L))
    // third commit slides the window: v1 expires (manifest + files), v2 lives
    TableCommit.commitOverwrite(Seq((4L, "d")).toDF("k", "v"), r, retain = 2)
    gen1Files.foreach(p => assert(!Files.exists(Paths.get(s"$r/$p"))))
    intercept[IllegalArgumentException] {
      TableCommit.readAt(spark, r, schema, v1)
    }
    assert(TableCommit.readAt(spark, r, schema, v2)
      .collect().map(_.getLong(0)).toSet === Set(3L))
  }

  test("two-writer conflict: the stale writer aborts cleanly, the table stays at the winner's version") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), r)
    // Writer A begins an append transaction: reads v1's state, stages.
    val aBase = TableCommit.currentVersion(r).get
    val aPrior = TableCommit.entries(r)
    val aStaged = TableCommit.stageBatch(Seq((2L, "A")).toDF("k", "v"), r)
    // Writer B lands a full commit while A is still staging.
    TableCommit.commitAppend(Seq((3L, "B")).toDF("k", "v"), r)
    assert(TableCommit.currentVersion(r) === Some(2L))
    // A's publish must detect the stale base and abort — last-rename-wins
    // here would drop B's file from the manifest (the lost update).
    intercept[TableCommit.ConcurrentCommitException] {
      TableCommit.publish(r, aPrior ++ aStaged, expected = Some(aBase))
    }
    // Table is at B's consistent version; A's batch is an invisible orphan.
    assert(TableCommit.currentVersion(r) === Some(2L))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // Commits leave the aborted batch alone (it is indistinguishable from
    // a live writer's in-flight stage); an age-0 vacuum sweeps it.
    TableCommit.commitAppend(Seq((4L, "c")).toDF("k", "v"), r)
    TableCommit.vacuum(r, minAgeMs = 0L)
    aStaged.foreach(e => assert(!Files.exists(Paths.get(s"$r/${e.path}"))))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L, 4L))
  }

  test("concurrent appends from two threads never lose an update") {
    val r = root()
    TableCommit.commitOverwrite(Seq((0L, "base")).toDF("k", "v"), r)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val oks = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(1L, 2L).map { k =>
      new Thread(() => {
        gate.await()
        try { TableCommit.commitAppend(Seq((k, s"w$k")).toDF("k", "v"), r); oks.incrementAndGet() }
        catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    // Every failure must be the CLEAN conflict signal, never corruption…
    errors.forEach(e =>
      assert(e.isInstanceOf[TableCommit.ConcurrentCommitException],
        s"unexpected failure class: $e"))
    // …and every writer that REPORTED success has its row in the table
    // (no lost update), with the version advanced once per success.
    val got = TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(0L) && (got - 0L).size === oks.get())
    assert(TableCommit.currentVersion(r) === Some(1L + oks.get()))
  }

  test("withConflictRetry: contending appends all land; their rows accumulate") {
    val r = root()
    TableCommit.commitOverwrite(Seq((0L, "base")).toDF("k", "v"), r)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1L to 4L).map { k =>
      new Thread(() => {
        gate.await()
        try TableCommit.withConflictRetry(attempts = 8) {
          TableCommit.commitAppend(Seq((k, s"w$k")).toDF("k", "v"), r)
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(failures.isEmpty, s"retry loop leaked a failure: ${failures.peek()}")
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L, 4L))
  }

  test("forced check-to-create race, 100 rounds: exactly one winner, loser gets the clean conflict") {
    // The round-8 arbiter renamed onto the target; POSIX rename silently
    // replaces, so two same-base writers could BOTH report success and the
    // second buried the first's manifest (judge repro). This test removes
    // the luck: publishRaceHook parks both writers on a barrier AFTER the
    // version re-check and tmp write, so both provably reach the atomic
    // create with the same base — then exactly one link(2) must win. On
    // the old rename code this fails round 1 (two successes, version +1).
    val r = root()
    TableCommit.publish(r, Seq(TableCommit.Entry("seed", None)))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    TableCommit.publishRaceHook = () => {
      if (Thread.currentThread().getName.startsWith("graft-race-"))
        barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
    try {
      for (round <- 1 to 100) {
        val base = TableCommit.currentVersion(r).get
        val wins = new java.util.concurrent.atomic.AtomicInteger(0)
        val losses = new java.util.concurrent.atomic.AtomicInteger(0)
        val bad = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val ts = Seq("a", "b").map { w =>
          val t = new Thread(() => {
            try {
              TableCommit.publish(r,
                Seq(TableCommit.Entry(s"r$round-$w", None)),
                expected = Some(base))
              wins.incrementAndGet()
            } catch {
              case _: TableCommit.ConcurrentCommitException =>
                losses.incrementAndGet()
              case e: Throwable => bad.add(e)
            }
          })
          t.setName(s"graft-race-$round-$w")
          t
        }
        ts.foreach(_.start()); ts.foreach(_.join())
        assert(bad.isEmpty, s"round $round: non-conflict failure ${bad.peek()}")
        assert(wins.get() === 1 && losses.get() === 1,
          s"round $round: ${wins.get()} winners / ${losses.get()} losers")
        assert(TableCommit.currentVersion(r) === Some(base + 1))
        // the surviving manifest is the winner's, complete and parseable
        assert(TableCommit.entries(r).size === 1)
      }
    } finally TableCommit.publishRaceHook = () => ()
    // 100 rounds, one winner each: version walked from 1 to 101
    assert(TableCommit.currentVersion(r) === Some(101L))
    // losers cleaned their tmp files: only version manifests remain
    import scala.jdk.CollectionConverters._
    val leftover = Files.list(Paths.get(r, "_log")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".tmp-")).toSeq
    assert(leftover.isEmpty, s"leaked tmp manifests: $leftover")
  }

  test("vacuum(minAgeMs=1h) beside retrying live writers never sweeps a staged-but-unpublished batch") {
    // The age gate is the ONLY thing separating a live writer's in-flight
    // stage from a crash orphan. Hammer vacuum throughout a contended
    // multi-writer run; every writer that retries re-stages, so fresh
    // unreferenced batches exist the whole time — none may be swept.
    val r = root()
    TableCommit.commitOverwrite(Seq((0L, "base")).toDF("k", "v"), r)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val vacThread = new Thread(() => {
      while (!stop.get()) TableCommit.vacuum(r, minAgeMs = 3600000L)
    })
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val writers = (1L to 4L).map { k =>
      new Thread(() => {
        gate.await()
        try TableCommit.withConflictRetry(attempts = 10) {
          TableCommit.commitAppend(Seq((k, s"w$k")).toDF("k", "v"), r)
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    vacThread.start(); writers.foreach(_.start()); gate.countDown()
    writers.foreach(_.join()); stop.set(true); vacThread.join()
    assert(failures.isEmpty, s"writer lost to vacuum: ${failures.peek()}")
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L, 4L))
    // …and the gate is not vacuously open: an orphan OLDER than the window
    // is swept by the very same call.
    val orphan = TableCommit.stageBatch(Seq((99L, "dead")).toDF("k", "v"), r)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000L)
    orphan.foreach(e =>
      Files.setLastModifiedTime(Paths.get(s"$r/${e.path}"), old))
    TableCommit.vacuum(r, minAgeMs = 3600000L)
    orphan.foreach(e => assert(!Files.exists(Paths.get(s"$r/${e.path}"))))
  }

  test("retained snapshots share unrewritten files under append without double-delete") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), r, retain = 2)
    TableCommit.commitAppend(Seq((2L, "b")).toDF("k", "v"), r, retain = 2)
    TableCommit.commitAppend(Seq((3L, "c")).toDF("k", "v"), r, retain = 2)
    // v2 (=1,2) and v3 (=1,2,3) both live and share the v1/v2 batches
    assert(TableCommit.readAt(spark, r, schema, 2L)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
  }

  // ---- write–audit–publish (X229) ----

  test("WAP: staged batch is invisible, audit reads it, publish is one atomic bump") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), r)
    val staged = TableCommit.stageForAudit(Seq((2L, "b")).toDF("k", "v"), r)
    // invisibility: current snapshot and version unchanged while staged
    assert(TableCommit.currentVersion(r) === Some(1L))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L))
    // the audit sees exactly the staged rows, nothing else
    assert(TableCommit.readStaged(spark, staged, schema)
      .collect().map(_.getLong(0)).toSet === Set(2L))
    val v = TableCommit.publishStaged(staged)
    assert(v === 2L && TableCommit.currentVersion(r) === Some(2L))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("WAP: aborted batch deletes its files, never bumps the version; abort is idempotent") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), r)
    val staged = TableCommit.stageForAudit(Seq((666L, "bad")).toDF("k", "v"), r)
    assert(staged.entries.nonEmpty)
    staged.entries.foreach(e =>
      assert(Files.exists(Paths.get(s"$r/${e.path}"))))
    TableCommit.abortStaged(staged)
    staged.entries.foreach(e =>
      assert(!Files.exists(Paths.get(s"$r/${e.path}"))))
    TableCommit.abortStaged(staged) // idempotent
    assert(TableCommit.currentVersion(r) === Some(1L))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L))
    // the batch DIRECTORY is pruned too, not just the files — an aborted
    // stage must leave no data/ debris for vacuum to age out
    val batchDirs = staged.entries
      .map(e => Paths.get(r, e.path.split('/').take(2).mkString("/")))
      .distinct
    batchDirs.foreach(d => assert(!Files.exists(d)))
  }

  test("WAP: a commit landing between stage and publish aborts the publish") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), r)
    val staged = TableCommit.stageForAudit(Seq((2L, "b")).toDF("k", "v"), r)
    TableCommit.commitAppend(Seq((3L, "c")).toDF("k", "v"), r)
    intercept[TableCommit.ConcurrentCommitException] {
      TableCommit.publishStaged(staged)
    }
    // the loser's rows never became visible; the winner's did
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    TableCommit.abortStaged(staged)
  }

  test("change feed: per-version rows exact, composition = full range, exactly-once") {
    val r = root()
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b2 = Seq((3L, "c")).toDF("k", "v")
    val b3 = Seq((4L, "d"), (5L, "e")).toDF("k", "v")
    TableCommit.commitAppend(b1, r, retain = 4)
    TableCommit.commitAppend(b2, r, retain = 4)
    TableCommit.commitAppend(b3, r, retain = 4)
    def keysAt(df: org.apache.spark.sql.DataFrame, v: Long): Set[Long] =
      df.filter(col("_commit_version") === v)
        .collect().map(_.getLong(0)).toSet
    val full = TableCommit.readChanges(spark, r, schema, 0L, 3L)
    assert(keysAt(full, 1L) === Set(1L, 2L))
    assert(keysAt(full, 2L) === Set(3L))
    assert(keysAt(full, 3L) === Set(4L, 5L))
    // split consumption composes to the full range with no overlap
    val part1 = TableCommit.readChanges(spark, r, schema, 0L, 1L)
    val part2 = TableCommit.readChanges(spark, r, schema, 1L, 3L)
    val union = part1.unionByName(part2)
      .collect().map(x => (x.getLong(0), x.getLong(2))).sorted
    assert(union === full.collect()
      .map(x => (x.getLong(0), x.getLong(2))).sorted)
    // empty range reads empty with the widened schema
    val none = TableCommit.readChanges(spark, r, schema, 3L, 3L)
    assert(none.count() === 0L &&
      none.schema.fieldNames.contains("_commit_version"))
  }

  test("change feed: file-level diff is additive; a rewrite version is refused") {
    val r = root()
    TableCommit.commitAppend(Seq((1L, "a")).toDF("k", "v"), r, retain = 4)
    TableCommit.commitAppend(Seq((2L, "b")).toDF("k", "v"), r, retain = 4)
    val chs = TableCommit.changesBetween(r, 0L, 2L)
    assert(chs.map(_.version) === Seq(1L, 2L))
    assert(chs.forall(_.removedPaths.isEmpty))
    // added files across the feed = the full v2 manifest (append-only)
    assert(chs.flatMap(_.added).map(_.path).toSet ===
      TableCommit.entriesAtVersion(r, 2L).map(_.path).toSet)
    // an overwrite removes files: the feed must fail loudly, not
    // double-read rewritten bytes
    TableCommit.commitOverwrite(Seq((9L, "z")).toDF("k", "v"), r, retain = 4)
    val ex = intercept[IllegalArgumentException] {
      TableCommit.readChanges(spark, r, schema, 0L, 3L)
    }
    assert(ex.getMessage.contains("append-only"))
    // but a feed range past the rewrite works again
    TableCommit.commitAppend(Seq((10L, "y")).toDF("k", "v"), r, retain = 4)
    val after = TableCommit.readChanges(spark, r, schema, 3L, 4L)
    assert(after.collect().map(_.getLong(0)).toSet === Set(10L))
  }

  test("full CDF: rewrite emits delete+insert, carried files stay out, append-only agrees") {
    val r = root()
    val v1 = TableCommit.commitReplacePartitions(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "v")
        .withColumnRenamed("v", "p"), r, "p", retain = 4)
    // v2 replaces slice 'a' (k=1,2 → 10,20); slice 'b' carries forward
    TableCommit.commitReplacePartitions(
      Seq((10L, "a"), (20L, "a")).toDF("k", "p"), r, "p", retain = 4)
    // v3 appends
    val v3 = TableCommit.commitAppend(Seq((7L, "c")).toDF("k", "p"), r,
      retain = 4)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("p", StringType)))
    val feed = TableCommit.readChangesFull(spark, r, schema, v1, v3)
      .collect().map(x => (x.getLong(2), x.getString(3), x.getLong(0))).toSet
    assert(feed === Set(
      (2L, "delete", 1L), (2L, "delete", 2L),
      (2L, "insert", 10L), (2L, "insert", 20L),
      (3L, "insert", 7L)),
      s"feed content drifted: $feed")
    // the carried-forward slice 'b' (k=3) never entered the feed ✓ (by
    // the set equality above) — and on an append-only range the full
    // feed is the insert-only feed plus the type column
    val fullTail = TableCommit.readChangesFull(spark, r, schema, 2L, v3)
    assert(fullTail.collect().forall(_.getString(3) == "insert"))
    assert(fullTail.drop("_change_type").collect().map(_.toString).sorted
      === TableCommit.readChanges(spark, r, schema, 2L, v3)
        .collect().map(_.toString).sorted)
  }

  test("CDF replication: the applied mirror equals the source row set exactly") {
    val src = root()
    val mir = root()
    val pSchema = StructType(Seq(
      StructField("k", LongType), StructField("p", StringType)))
    val v1 = TableCommit.commitReplacePartitions(
      Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("k", "p"),
      src, "p", retain = 4)
    TableCommit.commitReplacePartitions(
      Seq((1L, "a"), (5L, "a")).toDF("k", "p"), src, "p", retain = 4)
    val vLast = TableCommit.commitAppend(
      Seq((9L, "c")).toDF("k", "p"), src, retain = 4)
    TableCommit.commitOverwrite(
      TableCommit.readAt(spark, src, pSchema, v1), mir, retain = 2)
    ((v1 + 1L) to vLast).foreach { v =>
      val batch = TableCommit.readChangesFull(spark, src, pSchema, v - 1L, v)
      val applied = TableCommit.readCurrent(spark, mir)
        .join(batch.filter(col("_change_type") === "delete").select(col("k")),
          Seq("k"), "left_anti")
        .unionByName(batch.filter(col("_change_type") === "insert")
          .select(col("k"), col("p")))
      TableCommit.commitOverwrite(applied, mir, retain = 2)
    }
    val mirror = TableCommit.readCurrent(spark, mir)
    val source = TableCommit.readCurrent(spark, src)
    assert(mirror.exceptAll(source).count() === 0L &&
      source.exceptAll(mirror).count() === 0L,
      "mirror must equal the source row multiset exactly")
    assert(mirror.collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 3L, 4L, 5L, 9L))
  }

  test("checked commit: whole-batch rejection, SQL null semantics, all checks reported") {
    val r = root()
    val checks = Seq(
      "k_positive" -> (col("k") > 0L),
      "v_known" -> col("v").isin("a", "b"))
    TableCommit.commitAppendChecked(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), r, checks)
    // a batch with BOTH violations (and one valid row) rejects WHOLE,
    // with every failing check counted
    val ex = intercept[TableCommit.ConstraintViolationException] {
      TableCommit.commitAppendChecked(spark,
        Seq((3L, "a"), (-4L, "a"), (-5L, "z"), (6L, "q")).toDF("k", "v"),
        r, checks)
    }
    assert(ex.violations === Map("k_positive" -> 2L, "v_known" -> 2L))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L),
      "rejected batch must leave no rows — not even its valid ones")
    // the rejected batch's staged files are aborted, not orphaned
    val dataDirs = {
      val s = Files.list(Paths.get(r, "data"))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.size } finally s.close()
    }
    assert(dataDirs === 1, "abort must remove the rejected batch dir")
    // SQL CHECK null semantics: NULL (unknown) passes; only FALSE fails
    val withNull: org.apache.spark.sql.DataFrame =
      Seq((7L, "a"), (8L, null.asInstanceOf[String])).toDF("k", "v")
    TableCommit.commitAppendChecked(spark, withNull, r, checks)
    assert(TableCommit.read(spark, r, schema).count() === 4L,
      "a NULL predicate must pass, as in standard SQL CHECK")
  }

  test("shallow clone: zero-copy, isolated both ways, retention never touches source files") {
    val src = root()
    val dst = root() + "/clone"
    TableCommit.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      src, retain = 2)
    val srcFiles = TableCommit.entries(src)
      .map(e => Paths.get(src, e.path))
    TableCommit.cloneTable(src, dst, retain = 2)
    // zero-copy: the clone's data dir does not exist yet — its manifest
    // points at the source's files in place (absolute entries)
    assert(!Files.isDirectory(Paths.get(dst, "data")),
      "clone must not copy bytes")
    assert(TableCommit.entries(dst).forall(_.path.startsWith("/")))
    assert(TableCommit.read(spark, dst, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // divergence is isolated both ways
    TableCommit.commitAppend(Seq((10L, "c")).toDF("k", "v"), dst, retain = 2)
    TableCommit.commitAppend(Seq((99L, "z")).toDF("k", "v"), src, retain = 2)
    assert(TableCommit.read(spark, dst, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 10L),
      "post-clone source writes must not leak into the clone")
    assert(TableCommit.read(spark, src, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 99L),
      "clone writes must not leak into the source")
    // retention guard: overwrite the clone (retain=1) so its
    // absolute-entry versions retire — the source's files must survive
    TableCommit.commitOverwrite(Seq((7L, "q")).toDF("k", "v"), dst)
    TableCommit.commitOverwrite(Seq((8L, "r")).toDF("k", "v"), dst)
    srcFiles.foreach(p => assert(Files.exists(p),
      s"clone retention deleted a SOURCE file: $p"))
    assert(TableCommit.read(spark, src, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 99L),
      "source must read intact after clone retention churn")
  }

  test("consumer ledger: virgin = 0, atomic overwrite advances, survives re-read") {
    val dir = Files.createTempDirectory("graft_ledger_spec_")
    val p = s"$dir/consumer.v"
    assert(TableCommit.readConsumerLedger(p) === 0L)
    TableCommit.writeConsumerLedger(p, 2L)
    assert(TableCommit.readConsumerLedger(p) === 2L)
    TableCommit.writeConsumerLedger(p, 7L) // overwrite, not CREATE_NEW
    assert(TableCommit.readConsumerLedger(p) === 7L)
    // no tmp litter left beside the ledger (and close the dir stream —
    // the EMFILE lesson from the vacuum hammer)
    val s = Files.list(dir)
    val names =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toList
      } finally s.close()
    assert(names === List("consumer.v"))
  }

  test("delta manifests: appends write batch-sized logs + periodic checkpoints, reads unchanged (VERDICT r10 task 5)") {
    val r = root()
    val N = 24; val ce = 8
    (1 to N).foreach { i =>
      TableCommit.commitAppend(Seq((i.toLong, s"r$i")).toDF("k", "v")
        .coalesce(1), r, retain = N + 1, checkpointEvery = ce)
    }
    def mpath(v: Long) = Paths.get(r, "_log", f"v$v%020d.json")
    def lines(v: Long) = Files.readAllLines(mpath(v)).size
    // checkpoint cadence: v1 bootstraps full; thereafter a full manifest
    // lands whenever the chain would reach `ce` links. The checkpoint
    // itself is link 1 of the next chain, so after v8 the period is
    // ce-1: v8, v15, v22.
    val checkpoints = Set(1L, 8L, 15L, 22L)
    (1L to N).foreach { v =>
      if (checkpoints(v))
        assert(lines(v) === v + 1, s"checkpoint v$v must carry all $v entries")
      else
        assert(lines(v) === 3,
          s"delta v$v must be header + 1 batch entry + terminator, got ${lines(v)}")
    }
    // the O(N²) → O(N·batch + checkpoints) claim, concretely: total
    // manifest lines are under half of what full rewrites would cost
    val actual = (1L to N).map(lines(_).toLong).sum
    val naive = (1 to N).map(i => i + 1L).sum
    assert(actual * 2 < naive, s"manifest bytes not sublinear: $actual vs $naive")
    // read surface identical through the chain: time travel, current,
    // and the change feed all see the same world as full manifests did
    Seq(5L, 8L, 13L, 23L).foreach(v =>
      assert(TableCommit.readAt(spark, r, schema, v).count() === v))
    assert(TableCommit.read(spark, r, schema).count() === N.toLong)
    val feed = TableCommit.readChanges(spark, r, schema, 0L, N.toLong)
      .groupBy(col("_commit_version")).count().collect()
    assert(feed.length === N && feed.forall(_.getLong(1) === 1L))
  }

  test("every append route writes a batch-sized delta manifest (X303 on every route)") {
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    def batch(k: Long) = Seq((k, s"r$k")).toDF("k", "v").coalesce(1)
    val routes: Seq[(String, String => Unit)] = Seq(
      "commitAppend" -> (r => TableCommit.commitAppend(batch(10L), r, retain = 8)),
      "commitAppend(txnId)" -> (r =>
        TableCommit.commitAppend(batch(10L), r, retain = 8, txnId = Some(1L))),
      "commitAppend(trackRowIds)" -> (r =>
        TableCommit.commitAppend(batch(10L), r, retain = 8, trackRowIds = true)),
      "publishStaged" -> (r => TableCommit.publishStaged(
        TableCommit.stageForAudit(batch(10L), r), retain = 8)),
      "commitAppendChecked" -> (r => TableCommit.commitAppendChecked(spark,
        batch(10L), r, Seq("k_pos" -> (col("k") > 0L)), retain = 8)),
      "commitAppendBloom" -> (r => TableCommit.commitAppendBloom(spark,
        batch(10L), r, "v", retain = 8)),
      "DSv2 append" -> (r => batch(10L).write.format("graft-table")
        .option("root", r).option("retain", "8").mode("append").save()),
      "streaming epoch" -> { r =>
        val src = Files.createTempDirectory("graft_tc_src_").toString
        batch(10L).write.mode("append").parquet(src)
        spark.readStream.schema("k LONG, v STRING").parquet(src)
          .writeStream.format("graft-table")
          .option("root", r).option("retain", "8")
          .option("checkpointLocation", s"$src/_ckpt")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      })
    val bad = routes.flatMap { case (name, append) =>
      val r = root()
      (1L to 3L).foreach(i => TableCommit.commitAppend(batch(i), r, retain = 8))
      append(r)
      val top = TableCommit.currentVersion(r).get
      val added = TableCommit.entries(r).map(_.path).toSet --
        TableCommit.entriesAtVersion(r, 3L).map(_.path)
      val lines = Files.readAllLines(
        Paths.get(r, "_log", f"v$top%020d.json")).asScala.toSeq
      val paths = lines.filter(_.startsWith("{\"path\"")).map(l =>
        l.drop("{\"path\": \"".length).takeWhile(_ != '"'))
      if (top == 4L && lines.contains("{\"base\": 3}") && added.nonEmpty &&
          paths.toSet == added && paths.size == added.size) None
      else Some(s"$name: v$top carries ${paths.size} entries " +
        s"(batch ${added.size}), base header " +
        s"${lines.exists(_.startsWith("{\"base\""))}")
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("retention keeps a retained delta's base chain readable and sweeps past it") {
    val r = root()
    (1 to 12).foreach { i =>
      TableCommit.commitAppend(Seq((i.toLong, s"r$i")).toDF("k", "v")
        .coalesce(1), r, retain = 3, checkpointEvery = 8)
    }
    def mpath(v: Long) = Paths.get(r, "_log", f"v$v%020d.json")
    // retained = {10,11,12}; their chains reach back to the v8
    // checkpoint, so 8 and 9 must SURVIVE the window while 1..7 go
    (8L to 12L).foreach(v => assert(Files.exists(mpath(v)),
      s"chain member v$v must survive retention"))
    (1L to 7L).foreach(v => assert(!Files.exists(mpath(v)),
      s"v$v is in no retained chain and must be swept"))
    (10L to 12L).foreach(v =>
      assert(TableCommit.readAt(spark, r, schema, v).count() === v))
    // no data file was lost: all 12 rows still read
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === (1L to 12L).toSet)
  }

  test("clone-aware retention: source retire/vacuum spare clone-pinned files until unregistered") {
    // VERDICT r10 task 3: the r10 contract was "source vacuum can break
    // a clone" (documented footgun). Now the clone registers at its
    // owner and the owner's retention treats clone-referenced files as
    // live — until the clone is retired via unregisterClone.
    val src = root(); val dst = root()
    TableCommit.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), src)
    val v1Files = TableCommit.entries(src)
      .map(e => Paths.get(src, e.path).toAbsolutePath)
    TableCommit.cloneTable(src, dst)
    assert(TableCommit.registeredClones(src).nonEmpty)
    // source moves on at retain=1 — retire used to delete v1's files here
    TableCommit.commitOverwrite(Seq((3L, "c")).toDF("k", "v"), src)
    v1Files.foreach(p => assert(Files.exists(p),
      s"source retire broke a registered clone: $p"))
    // an aggressive (no-age-gate) vacuum must not either
    TableCommit.vacuum(src, 0L)
    v1Files.foreach(p => assert(Files.exists(p),
      s"source vacuum broke a registered clone: $p"))
    assert(TableCommit.read(spark, dst, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L),
      "clone must still read after source retention churn")
    // clone retire path: unregister → the pin is gone → vacuum reclaims
    TableCommit.unregisterClone(src, dst)
    TableCommit.vacuum(src, 0L)
    v1Files.foreach(p => assert(!Files.exists(p),
      "an unregistered clone must stop pinning source files"))
  }

  test("a deleted clone directory auto-unregisters and stops pinning") {
    val src = root(); val dst = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), src)
    val v1Files = TableCommit.entries(src)
      .map(e => Paths.get(src, e.path).toAbsolutePath)
    TableCommit.cloneTable(src, dst)
    // the clone vanishes without the courtesy of unregistering
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(dst))
    try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(p => Files.deleteIfExists(p))
    finally walk.close()
    TableCommit.commitOverwrite(Seq((2L, "b")).toDF("k", "v"), src)
    TableCommit.vacuum(src, 0L)
    v1Files.foreach(p => assert(!Files.exists(p),
      "a dead clone must not pin source files"))
    assert(TableCommit.registeredClones(src).isEmpty,
      "the stale registration must be swept")
  }

  test("clone of a clone stays pinned to the ORIGINAL owner") {
    val a = root(); val b = root(); val c = root()
    TableCommit.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), a)
    val aFiles = TableCommit.entries(a)
      .map(e => Paths.get(a, e.path).toAbsolutePath)
    TableCommit.cloneTable(a, b)
    TableCommit.cloneTable(b, c)
    // c's entries must point INTO a, not a b-glued concatenation
    TableCommit.entries(c).foreach(e =>
      assert(Paths.get(e.path).toAbsolutePath.startsWith(
        Paths.get(a).toAbsolutePath), s"grandclone entry ${e.path}"))
    // the middle clone retires entirely; c must keep pinning a's files
    TableCommit.unregisterClone(a, b)
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(b))
    try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(p => Files.deleteIfExists(p))
    finally walk.close()
    TableCommit.commitOverwrite(Seq((9L, "z")).toDF("k", "v"), a)
    TableCommit.vacuum(a, 0L)
    aFiles.foreach(p => assert(Files.exists(p),
      "grandclone must pin the original owner's files"))
    assert(TableCommit.read(spark, c, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("control chars in footer stat strings survive the manifest (ADVICE r10 high)") {
    // A string column whose min/max carry \n, \r, \t: before the escaping
    // fix, publish "succeeded" but the raw newline split the
    // line-delimited manifest — every read threw TornManifestException
    // and (retain=1) the aged vacuum would then sweep the committed
    // version's data files. End-to-end: commit with stats on that
    // column, read back both the rows and the exact stat strings.
    val r = root()
    val lo = "a\nlow\rrow\tend"
    val hi = "z\nhigh"
    val df = Seq((1L, lo), (2L, hi)).toDF("k", "v").coalesce(1)
    TableCommit.commitOverwrite(df, r, statsCols = Seq("v"))
    val got = TableCommit.read(spark, r, schema)
      .collect().map(_.getString(1)).toSet
    assert(got === Set(lo, hi), "rows must survive a newline-bearing stat")
    val st = TableCommit.entries(r).flatMap(_.stats.get("v"))
    assert(st.nonEmpty && st.forall(cs => cs.min == lo && cs.max == hi),
      s"stat strings must round-trip exactly, got $st")
  }

  test("commitAppendChecked publishes an EMPTY batch instead of NPE-ing (ADVICE r10)") {
    val r = root()
    TableCommit.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), r)
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    // sum() over zero rows is NULL — zero violations by definition
    val v = TableCommit.commitAppendChecked(spark, empty, r,
      Seq("k_pos" -> (col("k") > 0L)))
    assert(v === 2L)
    assert(TableCommit.read(spark, r, schema).count() === 1L)
  }

  test("FLOAT stats widen to double so boundary predicates stay lossless (ADVICE r10)") {
    // (double)0.1f = 0.100000001490116… > 0.1d: a file whose float max is
    // 0.1f DOES contain rows matching `x >= 0.1f` read back as doubles,
    // but the old canonical string "0.1" parsed to 0.1d and a predicate
    // range [0.100000001, …] would prune the file. The canonical string
    // must parse to the exact widened value.
    val r = root()
    val df = Seq(0.05f, 0.1f).toDF("x")
      .select(col("x").cast("float").as("x")).coalesce(1)
    TableCommit.commitOverwrite(df, r, statsCols = Seq("x"))
    val cs = TableCommit.entries(r).flatMap(_.stats.get("x"))
    assert(cs.nonEmpty)
    val trueMax = 0.1f.toDouble // exact widening
    cs.foreach { c =>
      assert(c.max.toDouble === trueMax,
        s"canonical max '${c.max}' must parse to the widened $trueMax")
      // the boundary predicate that used to prune wrongly now keeps it
      val kept = TableCommit.pruneAt(spark, r,
        StructType(Seq(StructField("x", FloatType))), col("x") === 0.1f)
      assert(kept.nonEmpty, "boundary prune must keep the file")
    }
  }

  test("txn-stamped appends are exactly-once: a replayed batch id lands zero rows (X271)") {
    val r = root()
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b1 = Seq((3L, "c")).toDF("k", "v")
    TableCommit.commitAppend(b0, r, txnId = Some(0L), retain = 8)
    TableCommit.commitAppend(b1, r, txnId = Some(1L), retain = 8)
    assert(TableCommit.read(spark, r, schema).count() === 3L)
    assert(TableCommit.lastTxnId(r) === Some(1L))
    // the foreachBatch replay: same ids re-delivered after a restart —
    // both must be version no-ops landing zero rows
    val cur = TableCommit.currentVersion(r).get
    assert(TableCommit.commitAppend(b0, r, txnId = Some(0L)) === cur)
    assert(TableCommit.commitAppend(b1, r, txnId = Some(1L)) === cur)
    assert(TableCommit.read(spark, r, schema).count() === 3L)
    // an interleaved maintenance commit WITHOUT a txn stamp must not
    // erase the high-water (the walk skips over it)
    TableCommit.commitCompact(spark, r, targetFiles = 1, retain = 8)
    assert(TableCommit.lastTxnId(r) === Some(1L))
    assert(TableCommit.commitAppend(b1, r, txnId = Some(1L)) ===
      TableCommit.currentVersion(r).get)
    assert(TableCommit.read(spark, r, schema).count() === 3L)
    // the next id applies normally
    TableCommit.commitAppend(Seq((4L, "d")).toDF("k", "v"), r,
      txnId = Some(2L), retain = 8)
    assert(TableCommit.lastTxnId(r) === Some(2L))
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
  }

  test("the txn high-water survives retention retiring the stamped manifest (ADVICE r12: self-propagation)") {
    val r = root()
    val b0 = Seq((1L, "a")).toDF("k", "v")
    TableCommit.commitAppend(b0, r, txnId = Some(7L), retain = 1)
    // an unstamped maintenance commit under retain=1 retires the ONLY
    // manifest that carried the stamp — before the header
    // self-propagated, lastTxnId forgot the high-water here and a
    // crash-replayed foreachBatch id double-applied
    TableCommit.commitCompact(spark, r, targetFiles = 1, retain = 1)
    assert(TableCommit.lastTxnId(r) === Some(7L),
      "the txn high-water must survive an unstamped maintenance commit")
    val cur = TableCommit.currentVersion(r).get
    assert(TableCommit.commitAppend(b0, r, txnId = Some(7L),
      retain = 1) === cur, "the replayed id must stay a no-op")
    assert(TableCommit.read(spark, r, schema).count() === 1L)
    // several maintenance generations deep, still durable; a NEWER id
    // advances it
    TableCommit.commitCompact(spark, r, targetFiles = 1, retain = 1)
    TableCommit.commitOverwrite(Seq((9L, "z")).toDF("k", "v"), r)
    assert(TableCommit.lastTxnId(r) === Some(7L))
    TableCommit.commitAppend(Seq((10L, "y")).toDF("k", "v"), r,
      txnId = Some(8L), retain = 1)
    assert(TableCommit.lastTxnId(r) === Some(8L))
  }

  test("an unreadable head manifest fails the txn high-water read instead of falling back") {
    val r = root()
    TableCommit.commitAppend(Seq((1L, "a")).toDF("k", "v"), r,
      txnId = Some(1L), retain = 4)
    TableCommit.commitAppend(Seq((2L, "b")).toDF("k", "v"), r,
      txnId = Some(2L), retain = 4)
    assert(TableCommit.lastTxnId(r) === Some(2L))
    // truncate the head: the older manifest still reads txn 1, and
    // reporting it would let a replay of batch 2 apply twice
    val head = Paths.get(r, "_log",
      f"v${TableCommit.currentVersion(r).get}%020d.json")
    Files.write(head, Array.emptyByteArray)
    intercept[TableCommit.TornManifestException](TableCommit.lastTxnId(r))
    intercept[TableCommit.TornManifestException](
      TableCommit.txnHighWaters(r))
  }

  test("history introspection (X282): kinds, counts and headers per retained version; retired-baseline fallback") {
    val r = root()
    def one(rows: Seq[(Long, String)]) =
      rows.toDF("k", "v").repartition(1).sortWithinPartitions("k")
    TableCommit.commitAppend(one(Seq((2L, "a"), (4L, "b"))), r,
      txnId = Some(9L), retain = 16, trackRowIds = true)
    TableCommit.commitAppend(one(Seq((1L, "c"))), r,
      txnId = Some(10L), retain = 16, trackRowIds = true)
    TableCommit.commitDeleteRows(spark, r, schema, col("k") === 2L,
      retain = 16)
    TableCommit.commitRenameColumn(r, "v", "label", retain = 16)
    TableCommit.commitCompact(spark, r, targetFiles = 1, retain = 16,
      preserveRowIds = true)
    val h = TableCommit.history(r)
    assert(h.map(_.version) === Seq(1L, 2L, 3L, 4L, 5L))
    assert(h.map(_.kind) === Seq("full", "delta", "full", "full", "full"))
    assert(h.map(i => (i.added, i.removed, i.dvGrown)) === Seq(
      (1L, 0L, 0L), (1L, 0L, 0L), (0L, 0L, 1L), (0L, 0L, 0L),
      (1L, 2L, 0L)))
    assert(h.map(_.txn) === Seq(Some(9L), Some(10L), Some(10L),
      Some(10L), Some(10L)), "the txn high-water self-propagates")
    assert(h.map(_.ridHighWater) === Seq(Some(2L), Some(3L), Some(3L),
      Some(3L), Some(3L)), "the rid high-water self-propagates")
    assert(h.map(_.mapped) === Seq(false, false, false, true, true))
    // a tight retention window: the oldest RETAINED version reports
    // its full entry count as the baseline (its predecessor is gone).
    // checkpointEvery=1 forces FULL manifests so no delta chain pins
    // the predecessor alive.
    val r2 = root()
    TableCommit.commitOverwrite(one(Seq((1L, "x"), (2L, "y"))), r2)
    TableCommit.commitAppend(one(Seq((3L, "z"))), r2, retain = 2,
      checkpointEvery = 1)
    TableCommit.commitAppend(one(Seq((4L, "w"))), r2, retain = 2,
      checkpointEvery = 1)
    val h2 = TableCommit.history(r2)
    assert(h2.map(_.version) === Seq(2L, 3L))
    assert(h2.head.added === 2L,
      "the retired-predecessor baseline reports its full entry count")
    assert(h2.last.added === 1L)
  }

  test("optimistic append retry: N forced-collision writers all land, no lost update (X273)") {
    val r = root()
    val n = 4
    // every writer's FIRST publish attempt parks on a shared barrier, so
    // all n provably reach the link with the same base: exactly one wins
    // round 1 and the other n-1 must rebase-and-retry to completion
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val first = ThreadLocal.withInitial[java.lang.Boolean](() => true)
    TableCommit.publishRaceHook = () => {
      if (Thread.currentThread().getName.startsWith("graft-oc-") &&
          first.get) {
        first.set(false)
        barrier.await(20, java.util.concurrent.TimeUnit.SECONDS)
      }
      ()
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val ts = (0 until n).map { w =>
        val df = Seq((w.toLong, s"w$w")).toDF("k", "v")
        val t = new Thread(() => {
          try {
            TableCommit.commitAppend(df, r, retain = n + 1,
              conflictRetries = n * 4)
            ()
          }
          catch { case e: Throwable => errs.add(e) }
        })
        t.setName(s"graft-oc-$w"); t
      }
      ts.foreach(_.start()); ts.foreach(_.join())
    } finally TableCommit.publishRaceHook = () => ()
    assert(errs.isEmpty, s"a retried append still failed: ${errs.peek()}")
    assert(TableCommit.currentVersion(r) === Some(n.toLong),
      "exactly one commit per writer")
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === (0 until n).map(_.toLong).toSet)
  }

  test("dual writers racing the SAME txn id: exactly one applies, loser drops its staged copy (X271+X273)") {
    val r = root()
    TableCommit.commitAppend(Seq((0L, "seed")).toDF("k", "v"), r,
      txnId = Some(0L), retain = 8)
    val batch = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val first = ThreadLocal.withInitial[java.lang.Boolean](() => true)
    TableCommit.publishRaceHook = () => {
      if (Thread.currentThread().getName.startsWith("graft-zw-") &&
          first.get) {
        first.set(false)
        barrier.await(20, java.util.concurrent.TimeUnit.SECONDS)
      }
      ()
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      // the zombie-failover shape: two live writers of the same stream
      // both deliver batch id 1, provably racing the same base
      val ts = (0 until 2).map { w =>
        val t = new Thread(() => {
          try {
            TableCommit.commitAppend(batch, r, txnId = Some(1L),
              retain = 8, conflictRetries = 8)
            ()
          }
          catch { case e: Throwable => errs.add(e) }
        })
        t.setName(s"graft-zw-$w"); t
      }
      ts.foreach(_.start()); ts.foreach(_.join())
    } finally TableCommit.publishRaceHook = () => ()
    assert(errs.isEmpty, s"a racing txn writer failed: ${errs.peek()}")
    // the batch landed EXACTLY once
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    assert(TableCommit.lastTxnId(r) === Some(1L))
    assert(TableCommit.currentVersion(r) === Some(2L),
      "the loser must not have published a second copy")
    // and the loser's staged-but-never-published batch dir is GONE:
    // every parquet under data/ is referenced by the live manifest
    val referenced = TableCommit.entries(r).map(_.path).toSet
    val onDisk = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(r, "data"))
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => java.nio.file.Paths.get(r).relativize(p).toString)
        .toSet
      finally s.close()
    }
    assert(onDisk === referenced,
      s"staged debris survived the no-op: ${onDisk -- referenced}")
  }

  test("DML rebase: a racing append composes with a row-level delete (X274)") {
    val r = root()
    TableCommit.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), r, retain = 8)
    // self-disarming hook: the racing append lands INSIDE the delete's
    // publish window (after its conflict check, before its link), so
    // the delete's first attempt deterministically loses the race
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitAppend(Seq((100L, "x")).toDF("k", "v"), r,
        retain = 8)
      ()
    }
    try {
      val v = TableCommit.commitDeleteRows(spark, r, schema,
        col("k") === 2L, retain = 8, conflictRetries = 4)
      assert(v === 3L, "delete must have rebased onto the racing append")
    } finally TableCommit.publishRaceHook = () => ()
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L, 100L),
      "rebase lost the append or the delete")
  }

  test("DML conflict: racing deletes on the SAME file abort loudly (X274)") {
    val r = root()
    // one physical file, so both predicates provably hit the same leaf
    TableCommit.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1),
      r, retain = 8)
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitDeleteRows(spark, r, schema, col("k") === 1L,
        retain = 8)
      ()
    }
    try {
      val e = intercept[TableCommit.DmlConflictException] {
        TableCommit.commitDeleteRows(spark, r, schema, col("k") === 2L,
          retain = 8, conflictRetries = 4)
      }
      assert(e.getMessage.contains("row-level DML"))
    } finally TableCommit.publishRaceHook = () => ()
    // the racing delete won whole; the conflicted one applied NOTHING
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("DML rebase: racing deletes on DISJOINT files both apply (X274)") {
    val r = root()
    TableCommit.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), r, retain = 8)
    TableCommit.commitAppend(
      Seq((101L, "x"), (102L, "y"), (103L, "z")).toDF("k", "v"), r,
      retain = 8)
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitDeleteRows(spark, r, schema, col("k") === 101L,
        retain = 8)
      ()
    }
    try {
      TableCommit.commitDeleteRows(spark, r, schema, col("k") === 1L,
        retain = 8, conflictRetries = 4)
      ()
    } finally TableCommit.publishRaceHook = () => ()
    assert(TableCommit.read(spark, r, schema)
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L, 102L, 103L),
      "the rebased delete must carry BOTH deletion vectors")
  }

  test("MERGE conflicts with ANY racing addition; a disjoint delete rebases (X274)") {
    val r = root()
    TableCommit.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), r, retain = 8)
    // (1) racing append → conflict: the merge's key-match read the
    // whole table and cannot prove the new rows miss its keys
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitAppend(Seq((9L, "n")).toDF("k", "v"), r,
        retain = 8)
      ()
    }
    try {
      val e = intercept[TableCommit.DmlConflictException] {
        TableCommit.commitMergeRows(spark, r, schema,
          Seq((2L, "B"), (5L, "E")).toDF("k", "v"), Seq("k"),
          retain = 8, conflictRetries = 4)
      }
      assert(e.getMessage.contains("added file"))
    } finally TableCommit.publishRaceHook = () => ()
    assert(TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getString(1))).toSet
      === Set(1L -> "a", 2L -> "b", 9L -> "n"),
      "the conflicted merge must have applied nothing")
    // (2) racing DISJOINT delete (no added files) → the merge rebases
    TableCommit.commitAppend(
      Seq((201L, "p"), (202L, "q")).toDF("k", "v"), r, retain = 8)
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitDeleteRows(spark, r, schema, col("k") === 201L,
        retain = 8)
      ()
    }
    try {
      TableCommit.commitMergeRows(spark, r, schema,
        Seq((2L, "B"), (5L, "E")).toDF("k", "v"), Seq("k"),
        retain = 8, conflictRetries = 4)
      ()
    } finally TableCommit.publishRaceHook = () => ()
    assert(TableCommit.read(spark, r, schema)
      .collect().map(r0 => (r0.getLong(0), r0.getString(1))).toSet
      === Set(1L -> "a", 2L -> "B", 5L -> "E", 9L -> "n", 202L -> "q"),
      "the rebased merge must upsert AND keep the racing delete")
  }

  test("replacePartitions: disjoint racing slices rebase, a write into a replaced slice conflicts (X274)") {
    val r = root()
    val pSchema = StructType(Seq(StructField("day", StringType),
      StructField("n", LongType)))
    TableCommit.commitReplacePartitions(
      Seq(("d1", 1L), ("d2", 2L)).toDF("day", "n"), r, "day", retain = 8)
    // (1) racing replace of the OTHER slice → rebase, both land
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitReplacePartitions(
        Seq(("d2", 20L)).toDF("day", "n"), r, "day", retain = 8)
      ()
    }
    try {
      TableCommit.commitReplacePartitions(
        Seq(("d1", 10L)).toDF("day", "n"), r, "day", retain = 8,
        conflictRetries = 4)
      ()
    } finally TableCommit.publishRaceHook = () => ()
    assert(TableCommit.read(spark, r, pSchema)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      === Map("d1" -> 10L, "d2" -> 20L))
    // (2) racing append INTO the replaced slice → conflict (the
    // replace would silently erase it)
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitAppend(Seq(("d1", 11L)).toDF("day", "n"), r,
        retain = 8, partCol = Some("day"))
      ()
    }
    try {
      val e = intercept[TableCommit.DmlConflictException] {
        TableCommit.commitReplacePartitions(
          Seq(("d1", 12L)).toDF("day", "n"), r, "day", retain = 8,
          conflictRetries = 4)
      }
      assert(e.getMessage.contains("replaced slice"))
    } finally TableCommit.publishRaceHook = () => ()
    assert(TableCommit.read(spark, r, pSchema)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toSet
      === Set("d1" -> 10L, "d1" -> 11L, "d2" -> 20L),
      "the conflicted replace must have applied nothing")
    // (3) a plain compaction drops the layout: the replace cannot tell
    // which rows of the compacted file are slice d2, so it refuses
    // rather than keep the stale d2 row
    val rB = root()
    TableCommit.commitReplacePartitions(
      Seq(("d1", 1L), ("d2", 2L)).toDF("day", "n"), rB, "day")
    TableCommit.commitCompact(spark, rB, targetFiles = 1)
    val vB = TableCommit.currentVersion(rB)
    val eB = intercept[IllegalArgumentException] {
      TableCommit.commitReplacePartitions(
        Seq(("d2", 20L)).toDF("day", "n"), rB, "day")
    }
    assert(eB.getMessage.contains("no layout proof"), eB.getMessage)
    assert(TableCommit.currentVersion(rB) === vB)
    assert(TableCommit.read(spark, rB, pSchema)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toSet
      === Set("d1" -> 1L, "d2" -> 2L))
    // (4) a table laid out by column a, replaced by column b: a file's
    // part tag names an a value, never a b slice, so the replace refuses
    val rC = root()
    val abSchema = StructType(Seq(StructField("a", StringType),
      StructField("b", StringType), StructField("n", LongType)))
    TableCommit.commitReplacePartitions(
      Seq(("x", "y", 1L), ("z", "x", 2L)).toDF("a", "b", "n"), rC, "a")
    val vC = TableCommit.currentVersion(rC)
    val eC = intercept[IllegalArgumentException] {
      TableCommit.commitReplacePartitions(
        Seq(("q", "x", 3L)).toDF("a", "b", "n"), rC, "b")
    }
    assert(eC.getMessage.contains("no layout proof"), eC.getMessage)
    assert(TableCommit.currentVersion(rC) === vC)
    assert(TableCommit.read(spark, rC, abSchema).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
      === Set(("x", "y", 1L), ("z", "x", 2L)))
  }

  test("a vacuum(0) racing retire's trash window never sweeps a restored manifest's files (ADVICE r13)") {
    val r = root()
    // two full manifests that a retain=1 commit will try to retire
    TableCommit.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      r, retain = 10)
    TableCommit.commitOverwrite(Seq((3L, "c")).toDF("k", "v"), r,
      retain = 10)
    // park a vacuum(0) in retire's trash window: manifests are in
    // `.trash-…`, the third pin read has passed, the delete+sweep has
    // not — the vacuum "age-restores" the trash (its crash-recovery
    // UNDO), and the retire pass must then treat those manifests as
    // live again instead of sweeping their data files
    TableCommit.retireTrashHook = () => TableCommit.vacuum(r, 0L)
    try TableCommit.commitOverwrite(Seq((4L, "d")).toDF("k", "v"), r,
      retain = 1)
    finally TableCommit.retireTrashHook = () => ()
    // the restored manifests resolve AND their data files exist — the
    // pre-fix pass deleted the files of every manifest it had trashed,
    // leaving the restored v1/v2 referencing swept bytes
    assert(TableCommit.readAt(spark, r, schema, 1L)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(TableCommit.readAt(spark, r, schema, 2L)
      .collect().map(_.getLong(0)).toSet === Set(3L))
    // and the next unraced commit retires them cleanly
    TableCommit.commitOverwrite(Seq((5L, "e")).toDF("k", "v"), r,
      retain = 1)
    assert(!Files.exists(Paths.get(r, "_log", f"v${1L}%020d.json")))
  }

  test("a failed clone publish rolls back the registrations it created (ADVICE r11)") {
    val src = root(); val dst = root() + "/clone"
    TableCommit.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      src)
    // dst already exists as a table, and a racing commit lands between
    // cloneTable's base read and its publish — the one-shot race hook
    // makes the window deterministic; the clone's publish must lose
    // and the registration it minted at src must be rolled back, or a
    // permanently-registered never-published clone pins src forever
    TableCommit.commitOverwrite(Seq((9L, "z")).toDF("k", "v"), dst)
    TableCommit.publishRaceHook = () => {
      TableCommit.publishRaceHook = () => ()
      TableCommit.commitAppend(Seq((8L, "y")).toDF("k", "v"), dst,
        retain = 4)
    }
    try {
      intercept[TableCommit.ConcurrentCommitException] {
        TableCommit.cloneTable(src, dst, retain = 4)
      }
    } finally TableCommit.publishRaceHook = () => ()
    assert(TableCommit.registeredClones(src).isEmpty,
      "a failed clone publish must not leave a registration behind")
    // src retention is unimpeded: vacuum reclaims normally
    val v1Files = TableCommit.entries(src)
      .map(e => Paths.get(src, e.path).toAbsolutePath)
    TableCommit.commitOverwrite(Seq((3L, "c")).toDF("k", "v"), src)
    TableCommit.vacuum(src, 0L)
    v1Files.foreach(p => assert(!Files.exists(p),
      "no live clone, so src retention must reclaim freely"))
  }

  test("vacuum GCs an inert aged registration; a pinning one survives (VERDICT r11 task 8)") {
    val src = root(); val dst = root()
    TableCommit.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      src)
    TableCommit.cloneTable(src, dst, retain = 1)
    // still pinning: an aggressive-age vacuum must NOT GC the
    // registration (its manifests reference src files)
    TableCommit.vacuum(src, 0L)
    assert(TableCommit.registeredClones(src).nonEmpty,
      "a pinning registration must survive the GC")
    // the clone diverges completely — overwrite at retain=1 drops every
    // source reference from its retained manifests; the registration is
    // now inert (pins nothing, blocks nothing, costs every sweep)
    TableCommit.commitOverwrite(Seq((7L, "q")).toDF("k", "v"), dst,
      retain = 1)
    TableCommit.vacuum(src, 0L)
    assert(TableCommit.registeredClones(src).isEmpty,
      "an aged registration pinning nothing must be GC'd")
    // and the clone still reads its own world
    assert(TableCommit.read(spark, dst, schema)
      .collect().map(_.getLong(0)).toSet === Set(7L))
  }
}
