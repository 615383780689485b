package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** X1/X2 dedup semantics on crafted corpora. */
class DedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("exact dedup: identical texts collapse, smallest doc_id is keeper") {
    val docs = Seq(
      (5L, "same text"), (3L, "same text"), (9L, "other text")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupByHash(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (keeper, n_copies)
    assert(out.toSet === Set((3L, 2L), (9L, 1L)))
  }

  test("exact dedup is content-sensitive: one-char difference survives") {
    val docs = Seq((1L, "abc"), (2L, "abd")).toDF("doc_id", "text")
    assert(Dedup.dedupByHash(docs).count() === 2)
  }

  test("minhash finds identical and near-identical docs, skips disjoint") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " changed"
    val disjoint = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, nearDup), (4L, disjoint))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // disjoint excluded
  }

  test("minhash output is ordered pairs (doc_a < doc_b) with jaccard >= threshold") {
    val t = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq((10L, t), (2L, t)).toDF("doc_id", "text")
    val rows = Dedup.minhashPairs(docs).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 2L && rows.head.getLong(1) === 10L)
    assert(rows.head.getDouble(2) === 1.0)
  }

  test("docs with fewer than 3 words cannot shingle and never pair") {
    val docs = Seq((1L, "one two"), (2L, "one two")).toDF("doc_id", "text")
    assert(Dedup.minhashPairs(docs).count() === 0)
  }

  test("ngram inverted-index dedup finds near-dups and agrees with minhash") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " changed"
    val disjoint = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, nearDup), (4L, disjoint))
      .toDF("doc_id", "text")
    val ngram = Dedup.ngramPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val minhash = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // inverted index is exact-recall at this scale; minhash pairs ⊆ ngram
    assert(minhash.subsetOf(ngram))
    assert(ngram.map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("clusters: reps are component minima, pair endpoints co-cluster") {
    val sfDir = "/root/testdata/sf0.001"
    val labels = Dedup.dedupClustersQ(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty)
    labels.foreach { case (d, rep) =>
      assert(rep <= d, s"rep $rep above member $d")
      assert(labels(rep) == rep, s"rep $rep is not its own rep (not a fixpoint)")
    }
    // every verified near-dup pair must land in one cluster
    Dedup.dedupMinhashQ(spark, sfDir).collect().foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) split across clusters")
    }
  }

  test("connected components: union-find and fixpoint paths agree exactly") {
    // A multi-hop chain (1-7-3-9, min 1), a disjoint pair (2-8, min 2), and
    // a triangle with a redundant edge (4-5, 5-6, 4-6, min 4). The chain's
    // diameter exercises real propagation; the redundant edge exercises
    // union of already-joined roots.
    val pairs = Seq(
      (7L, 1L), (3L, 7L), (9L, 3L),
      (2L, 8L),
      (4L, 5L), (5L, 6L), (4L, 6L)
    ).toDF("doc_a", "doc_b")
    val expected = Map(
      1L -> 1L, 7L -> 1L, 3L -> 1L, 9L -> 1L,
      2L -> 2L, 8L -> 2L,
      4L -> 4L, 5L -> 4L, 6L -> 4L)
    def run(localMaxEdges: Long) = {
      val df = Dedup.connectedComponents(spark, pairs, localMaxEdges)
      // schema is part of the contract: dedupClustersQ renames these —
      // a diverging path would pass positional checks yet crash the query
      assert(df.columns.toSeq === Seq("node", "label"))
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val local = run(Long.MaxValue) // forces the single-task union-find
    val dist  = run(0L)            // forces the distributed fixpoint
    assert(local === expected)
    assert(dist === expected)
  }

  test("star-contraction CC handles high-diameter paths and agrees with " +
      "union-find") {
    import spark.implicits._
    // a 200-node path: diameter 199, the shape large-star/small-star
    // contraction exists for. Expected: everything labels to node 0.
    val longPath = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val starLabels = Dedup.connectedComponents(spark, longPath, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starLabels === (0L to 199L).map(_ -> 0L).toMap)
    val rounds = Dedup.ccLastRounds.get()
    assert(rounds <= 12, s"star contraction took $rounds rounds on a " +
      "200-node path — expected logarithmic convergence")
    // star contraction must agree with the single-task union-find
    // (self-pair + redundant edge included to pin those contracts)
    val mixed = ((0L until 30L).map(i => (i, i + 1)) ++
      Seq((100L, 100L), (40L, 41L), (41L, 40L))).toDF("doc_a", "doc_b")
    def labels(localMaxEdges: Long) =
      Dedup.connectedComponents(spark, mixed, localMaxEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStars = labels(0L)
    assert(viaStars === labels(Long.MaxValue))
    assert(viaStars(100L) === 100L) // self-pair-only node kept
    assert(viaStars(30L) === 0L)
  }

  test("native winnow selection equals the declarative window formulation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // tie-heavy corpus: 4-letter alphabet makes equal grams routine, so
    // the equal-min selection rule is exercised constantly; lengths span
    // below-N through hundreds; one doc carries supplementary-plane chars
    // to pin the code-point (not UTF-16-unit) position/order contract
    val rnd = new scala.util.Random(7)
    val texts = (0 until 40).map { i =>
      val len = rnd.nextInt(220)
      (i.toLong, (0 until len).map(_ => "abcd".charAt(rnd.nextInt(4))).mkString)
    } :+ (99L, "a😀bca😀bcaab😀caXbc" * 4)
    val docs = texts.toDF("doc_id", "text")
    val (n, w) = (3, 4)
    graft.functions.Winnow.ensureRegistered(spark)
    val native = docs.filter(length(col("text")) >= n)
      .select(col("doc_id"),
        explode(graft.functions.Winnow.winnowSelect(col("text"), n, w)).as("i"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val win = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(-(w - 1), Window.currentRow)
    val declarative = docs.filter(length(col("text")) >= n)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - n + 1)).as("i"))
      .select(col("doc_id"), col("i"),
        expr(s"substring(text, i, $n)").as("gram"))
      .withColumn("wmin", min(col("gram")).over(win))
      .filter(col("gram") === col("wmin"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(native === declarative)
    assert(native.nonEmpty)
  }

  test("substring dupes: a planted shared span surfaces, unique text never pairs") {
    // two docs share an exact 60-char boilerplate span inside different
    // surroundings (doc-level near-dup would miss them: jaccard is low);
    // the third doc is entirely unique
    val boiler = "LICENSE: redistribution permitted with attribution only."
      .padTo(60, 'x').mkString
    val docs = Seq(
      (1L, s"alpha bravo charlie $boiler delta echo foxtrot"),
      (2L, s"one two three four five six seven $boiler eight nine"),
      (3L, "totally original content with no repeats of any kind here at all")
    ).toDF("doc_id", "text")
    val out = Dedup.substrDupes(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty, "planted shared span produced no fingerprint hits")
    // every reported gram is multi-doc and must come from the planted span
    // (the winnowing guarantee: shared spans >= N+W-1 chars always select)
    // the full shared span includes the single space on each side of the
    // planted block (both docs embed " $boiler ")
    val shared = s" $boiler "
    out.foreach { case (gram, nDocs, nOcc) =>
      assert(nDocs >= 2)
      assert(nOcc >= nDocs)
      assert(shared.contains(gram), s"unexpected multi-doc gram '$gram'")
    }
  }

  test("incremental dedup: matches cross the split, one best match per batch doc") {
    val out = graft.operators.Dedup
      .dedupIncrementalQ(spark, "/root/testdata/sf0.01").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % graft.operators.Dedup.IncrBatchMod === 0,
        s"batch doc ${r.getLong(0)} not in the batch split")
      assert(r.getLong(1) % graft.operators.Dedup.IncrBatchMod !== 0,
        s"match doc ${r.getLong(1)} not in history")
      assert(r.getDouble(2) >= graft.operators.Dedup.JaccardThreshold)
    }
    val ids = out.map(_.getLong(0))
    assert(ids.distinct.length === ids.length, "a batch doc matched twice")
  }

  test("banding recall vs exact all-pairs Jaccard: >= 0.95, precision exactly 1") {
    // the dedup analogue of SimilaritySpec's ANN recall gates: banding is
    // the only approximate stage (verification re-checks exact Jaccard),
    // so precision is 1 BY CONSTRUCTION and the number that needs
    // measuring is candidate-generation RECALL. At J >= 0.8 with 6 bands
    // x 2 rows the collision bound is 1-(1-J^2)^6 >= 0.998, so a 0.95
    // floor has real slack only for tiny true-pair counts.
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val sgById = Dedup.shingled(docs)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](r.fieldIndex("sg")).toSet).toMap
    val ids = sgById.keys.toArray.sorted
    val exact = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      a = sgById(ids(i)); b = sgById(ids(j))
      inter = (a & b).size
      if inter.toDouble / (a.size + b.size - inter) >= Dedup.JaccardThreshold
    } yield (ids(i), ids(j))).toSet
    val found = Dedup.dedupMinhashQ(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture has no true near-dup pairs to measure")
    assert(found.subsetOf(exact), // exact-verify stage => no false positives
      s"verified pairs outside the exact set: ${found.diff(exact).take(3)}")
    val recall = found.size.toDouble / exact.size
    assert(recall >= 0.95, s"banding recall $recall (${found.size}/${exact.size})")
  }

  test("containment: prefix filter is lossless vs brute force, and the relation is directed") {
    val sfDir = "/root/testdata/sf0.001"
    val found = Dedup.dedupContainmentQ(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force the same spec: every ordered pair sharing >=1 shingle,
    // exact set intersection over the hashed shingle arrays
    val sets = Dedup.shingled(
      graft.engine.Tables.documents(spark, sfDir))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toSet).toMap
    val brute = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a != b && (sa & sb).size * Dedup.ContainDen >= sa.size * Dedup.ContainNum
    } yield (a, b)).toSet
    assert(found === brute,
      s"prefix filter diverged: missing=${(brute -- found).take(3)} " +
        s"extra=${(found -- brute).take(3)}")
    // directionality: the pair set is NOT forced symmetric (containment
    // of a short doc in a long one rarely reverses); assert at least one
    // one-way pair exists in the fixture so the asymmetry is exercised
    assert(found.nonEmpty, "fixture has no containment pairs")
    assert(found.exists { case (a, b) => !found.contains((b, a)) },
      "every pair symmetric — fixture no longer exercises directedness")
  }

  test("ngram df-cap drops stop-shingles: universally shared text can't pair") {
    // one shingle shared by MORE than DfCap docs is a stop-shingle; docs
    // sharing ONLY it generate no candidates
    val common = "alpha beta gamma"
    val docs = (1L to (Dedup.DfCap + 2L)).map(i => (i, s"$common unique$i tail$i"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramPairs(docs).collect()
    assert(pairs.isEmpty)
  }

  test("containment Bloom prune is result-invariant (flag changes bytes, never rows)") {
    val sf = "/root/testdata/sf0.001"
    val off = Dedup.dedupContainmentWith(spark, sf, bloomPrune = false)
      .collect().map(_.toString).toSeq
    val on = Dedup.dedupContainmentWith(spark, sf, bloomPrune = true)
      .collect().map(_.toString).toSeq
    assert(on === off && off.nonEmpty)
  }

  test("index resume: day 2 never recomputes history signatures (corrupted-history proof)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.documents(spark, sf)
    val isBatch = col("doc_id") % Dedup.IncrBatchMod === 0
    // truth: the from-scratch incremental dedup
    val expected = Dedup.dedupIncrementalQ(spark, sf).collect().map(_.toString)
    assert(expected.nonEmpty, "fixture must produce at least one match")
    // day 1: commit the REAL history's signature index
    val root = java.nio.file.Files
      .createTempDirectory("graft_sigidx_spec_").toString + "/sig_index"
    val v1 = graft.engine.TableCommit.commitOverwrite(
      Dedup.sigIndexFrame(docs.filter(!isBatch)), root, retain = 2)
    // day 2 receives ONLY the batch docs — and to prove history text is
    // never touched, the batch frame is drawn from a table whose history
    // rows were REPLACED WITH GARBAGE: if any code path re-shingled
    // history documents, candidates/jaccards would change and the compare
    // below would fail. (The filter keeps batch rows genuine.)
    val corrupted = docs.withColumn("text",
      when(isBatch, col("text")).otherwise(lit("xx")))
    val day2 = Dedup.dedupIndexResumeDay2(spark, root, v1,
      corrupted.filter(isBatch))
    val got = day2.collect().map(_.toString)
    assert(got.toSeq === expected.toSeq)
    // and the plan really serves history from the committed root
    assert(day2.queryExecution.executedPlan.toString.contains(root),
      "day-2 plan must scan the committed signature index")
    // the append made the index self-extending: the current version holds
    // history + batch = exactly the full corpus's signature rows
    val full = Dedup.sigIndexFrame(docs).select("doc_id").as[Long]
      .collect().sorted.toSeq
    val v2 = graft.engine.TableCommit
      .readCurrent(spark, root).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(v2 === full, "v2 index must cover the whole corpus for tomorrow's resume")
  }

  test("q_edit_pairs: deletion-neighborhood candidates recover EXACTLY the brute-force ED<=1 pairs") {
    import org.apache.spark.sql.functions._
    // the FastSS losslessness claim, proven against brute force on the
    // sf0.001 id vocabulary (150 ids — 11k levenshtein calls, affordable
    // here, impossible at scale: exactly why the signatures exist)
    val sfDir = "/root/testdata/sf0.001"
    val got = graft.operators.Joins.editPairsQ(spark, sfDir)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    val ids = graft.engine.Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("string").as("w")).distinct()
    val brute = ids.select(col("w").as("wa"))
      .crossJoin(ids.select(col("w").as("wb")))
      .filter(col("wa") < col("wb") &&
        levenshtein(col("wa"), col("wb")) <= 1)
      .as[(String, String)].collect().toSet
    assert(got === brute, "signature join must lose no pair and add none")
    // every emitted pair really is ED 1 of the claimed kind
    graft.operators.Joins.editPairsQ(spark, sfDir).collect().foreach { r =>
      val (a, b, kind) = (r.getString(0), r.getString(1), r.getString(2))
      assert(if (kind == "sub") a.length == b.length
             else math.abs(a.length - b.length) == 1,
        s"kind mislabel for ($a, $b, $kind)")
    }
  }
}
