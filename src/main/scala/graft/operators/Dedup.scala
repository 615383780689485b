package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Num, Tables}

/** Deduplication operators for the LLM-training-data pipeline (SURVEY.md
  * §2.11). These generalize the reference's dedup shapes — W1 window dedup
  * (/root/reference/src/snowflake_loader.py:82) and J3 insert-only MERGE
  * (/root/reference/azure-functions/function_app.py:439-482) — to
  * content-addressed exact dedup and MinHash/LSH near-dedup over the
  * `documents` table.
  */
object Dedup {

  /** X1 `q_dedup_hash`: exact dedup by content hash. Every document is
    * bucketed by sha2(text) and the smallest doc_id per bucket wins
    * (deterministic keeper). Scale: a single hash-partitioned groupBy with
    * map-side partial aggregation — the shuffle carries one row per distinct
    * content, not per document; at 100 TB the 64-hex-char key keeps the
    * exchange narrow (no full text moves). */
  /** Core over any (doc_id, text) frame. */
  def dedupByHash(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        Num.countStar.as("n_copies"))
      .orderBy(col("keeper_doc_id"))

  def dedupHashQ(spark: SparkSession, sfDir: String): DataFrame =
    dedupByHash(Tables.documents(spark, sfDir))

  val dedupHashOracle: String =
    """SELECT sha256(text) AS content_hash,
      | MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin

  // ------------------------------------------------------------------
  // X2 `q_dedup_minhash`: banded MinHash/LSH near-duplicate detection.
  //
  // Pipeline (never all-pairs — all-pairs is O(n²) and dead at 100 TB):
  //   words → distinct 3-word shingles → 60-bit md5-derived shingle hashes
  //   → K=12 minhash signature (universal-hash permutations (a·h+b) mod p)
  //   → 6 bands of 2 rows → groupBy band bucket → candidate pairs only from
  //   shared buckets → exact shingle-Jaccard verification ≥ 0.8.
  //
  // Scale: the only wide operations are (1) the band-bucket self-join, whose
  // input is 6 small (band, key) rows per document — not the text — and
  // (2) the verify join back to shingle sets, a key-partitioned shuffle join
  // on doc_id. A giant bucket (degenerate key) would be capped/salted at
  // 100 TB; harness data has none. The signature computation itself is
  // narrow, codegen'd Column work (no UDF).
  //
  // Determinism: the shingle hash is the first 15 hex chars of md5 parsed
  // base-16 (60 bits, positive) — computable bit-identically in DuckDB via
  // CAST(concat('0x', …) AS BIGINT) — then folded mod p = 2^31-1 so the
  // permutation multiply stays within int64. The oracle replicates the FULL
  // pipeline (including banding), so even the probabilistic misses match.
  // ------------------------------------------------------------------

  /** Universal-hash permutation constants (a, b) — fixed, shared verbatim
    * with the oracle SQL. a odd, both < MinhashPrime. */
  val Perms: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L), (214013L, 2531011L), (69069L, 362437L),
    (1664525L, 1013904223L), (22695477L, 1L), (134775813L, 1L),
    (214903917L, 11L), (100000007L, 999983L), (1299709L, 15485863L),
    (179424673L, 32452843L), (15485867L, 49979687L), (32452867L, 67867967L))
  val MinhashPrime: Long = 2147483647L // 2^31-1
  val Bands = 6 // × 2 rows/band = 12 hashes; LSH threshold ≈ (1/6)^(1/2) ≈ 0.41
  val JaccardThreshold = 0.8

  /** 60-bit integer hash of a string: first 15 hex chars of md5, base-16.
    * Oracle twin: CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT). */
  private def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** doc_id + distinct 3-word shingle set, each shingle already hashed to a
    * 60-bit long (docs with <3 words drop out). Hashing BEFORE the first
    * shuffle means no raw text ever moves between stages — at 100 TB the
    * posting/band exchanges carry 8-byte keys, not strings — and the exact
    * set ops (Jaccard intersect/union) run on longs. The oracle applies the
    * identical hash, so even a (≈2⁻⁶⁰-rare) collision would produce the
    * same result on both engines. */
  private[graft] def shingled(docs: DataFrame): DataFrame = {
    val ws = graft.engine.Text.words
    docs
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), array_distinct(
        transform(sequence(lit(1), size(col("ws")) - 2), i =>
          md5Hash60(concat_ws(" ", element_at(col("ws"), i),
            element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2))))).as("sg"))
  }

  /** Eagerly materialize a frame that several DAG branches reuse — see
    * graft.engine.Materialize for why this is disk-backed. */
  private def materialize(df: DataFrame): DataFrame =
    graft.engine.Materialize.diskBacked(df)

  /** The shingle → minhash-signature → banded-key front shared by every
    * MinHash consumer (pair detection, clustering, the incremental
    * batch-vs-corpus variant): returns the MATERIALIZED shingle frame and
    * the (doc_id, band, key) rows. One definition — a banding change can't
    * silently fork the detectors. */
  /** The Bands-element band-key array derived from a doc's reduced shingle
    * array `hs` — ONE definition of the banding for the in-flight path
    * ([[bandedSignatures]]) and the persisted index ([[sigIndexFrame]]),
    * so a banding change can't silently make a committed index and a
    * fresh batch disagree on bucket keys. */
  private def bandKeysExpr(hs: Column): Column = {
    val p = MinhashPrime
    val minhashes: Seq[Column] = Perms.map { case (a, b) =>
      array_min(transform(hs, h => (lit(a) * h + lit(b)) % p))
    }
    // 6 band keys, each the concatenation of 2 adjacent signature rows.
    array((0 until Bands).map { j =>
      concat_ws("_", minhashes(2 * j), minhashes(2 * j + 1))
    }: _*)
  }

  private[operators] def bandedSignatures(docs: DataFrame): (DataFrame, DataFrame) = {
    val p = MinhashPrime
    val sh = materialize(shingled(docs)
      .withColumn("hs", transform(col("sg"), s => s % p)))
    (sh, sh.select(col("doc_id"),
      posexplode(bandKeysExpr(col("hs"))).as(Seq("band", "key"))))
  }

  /** Core over any (doc_id, text) frame. */
  def minhashPairs(docs: DataFrame): DataFrame = {
    val (sh, bands) = bandedSignatures(docs)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val x = sh.select(col("doc_id").as("doc_a"), col("sg").as("sg_a"))
    val y = sh.select(col("doc_id").as("doc_b"), col("sg").as("sg_b"))
    cand.join(x, Seq("doc_a")).join(y, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sg_a"), col("sg_b"))).cast("double") /
          size(array_union(col("sg_a"), col("sg_b")))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def dedupMinhashQ(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(Tables.documents(spark, sfDir))

  /** Shared oracle CTE: doc_id + hashed distinct 3-shingle set — the SQL
    * twin of `shingled` (used by the dedup oracles and Curation's
    * decontamination oracle). */
  val shingleCteSql: String =
    """words AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                w -> w <> '') AS ws
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(ws)-1),
      |      i -> CAST(concat('0x', substr(md5(
      |             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),1,15)) AS BIGINT)
      |      )) AS sg
      |  FROM words WHERE len(ws) >= 3
      |)""".stripMargin

  /** The full MinHash pipeline as a reusable CTE chain (words → shingles →
    * signatures → bands → candidates → exact-Jaccard `verified`) — shared
    * by the pair oracle and the cluster oracle. */
  private[operators] val minhashCteSql: String = {
    val p = MinhashPrime
    val minExprs = Perms.map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (${a}*h + ${b}) % ${p}))"
    }.mkString(",\n       ")
    val bandExprs = (0 until Bands).map { j =>
      s"mh[${2 * j + 1}] || '_' || mh[${2 * j + 2}]"
    }.mkString(", ")
    s"""$shingleCteSql, hashed AS (
       |  SELECT doc_id, sg, list_transform(sg, s -> s % ${p}) AS hs
       |  FROM sh
       |), sigs AS (
       |  SELECT doc_id, sg, [${minExprs}] AS mh
       |  FROM hashed
       |), bands AS (
       |  SELECT doc_id, b.band, [${bandExprs}][b.band + 1] AS key
       |  FROM sigs, (SELECT unnest(range(0, ${Bands})) AS band) b
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(x.sg, y.sg)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.sg, y.sg))) AS jaccard
       |  FROM cand
       |  JOIN sigs x ON x.doc_id = doc_a
       |  JOIN sigs y ON y.doc_id = doc_b
       |)""".stripMargin
  }

  val dedupMinhashOracle: String =
    s"""WITH $minhashCteSql
       |SELECT doc_a, doc_b, jaccard FROM verified
       |WHERE jaccard >= ${JaccardThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Deterministic batch membership: every 1-in-IncrBatchMod doc plays the
    * "newly arrived" batch; the rest are the historical corpus. */
  val IncrBatchMod = 5

  /** `q_dedup_incremental`: near-dup dedup of an INCOMING BATCH against the
    * historical corpus — the production shape of X2: a daily ingest must
    * not re-pair history against itself (that quadratic work was already
    * paid), it only asks "is each new doc a near-dup of anything we
    * already hold?".
    *
    * Shape: one shared signature pass (shingle → minhash → bands, longs
    * only), then candidates come from history-bands ⋈ batch-bands on
    * (band, key) — the join output is bounded by the BATCH's bucket
    * collisions, not the corpus pair count, and at 100 TB the history
    * band index is the precomputed artifact a real pipeline keeps
    * partitioned on key while only the (small) batch side is fresh work.
    * Exact-Jaccard verify runs on the candidates only; each batch doc then
    * keeps its best match (max jaccard, min history id — a window over
    * candidate matches, batch-sized input) as the drop-decision evidence. */
  /** Bucket count for the persisted history band index. */
  val IncrBandBuckets = 8

  def dedupIncrementalQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (sh, bands) = bandedSignatures(Tables.documents(spark, sfDir))
    val isBatch = col("doc_id") % IncrBatchMod === 0
    // The history band index is the PERSISTED artifact of this pipeline: a
    // daily run must not re-shuffle the (corpus-sized) index to join a
    // small batch against it. Written once `bucketBy(band, key)` (X38's
    // discipline — the bucket layout IS the hash partitioning, kept on
    // disk), so the candidate join needs no exchange on the history side;
    // only the fresh batch bands shuffle, and they are batch-sized. The
    // bucket columns are exactly the join keys (band, key): a subset
    // bucketing is not co-partition-compatible and the planner would
    // disable the bucketed scan entirely.
    // PlanSpec asserts the history side scans bucketed with no exchange.
    val tHist = s"graft_bandidx_${Tables.sfTag(sfDir)}"
    bands.filter(!isBatch)
      .write.mode("overwrite")
      .bucketBy(IncrBandBuckets, "band", "key").sortBy("band", "key")
      .saveAsTable(tHist)
    bestBatchMatches(spark.table(tHist), bands.filter(isBatch), sh, sh)
  }

  /** Shared incremental-dedup tail: (band,key) candidate join between a
    * HISTORY band index and a fresh BATCH's bands, exact-Jaccard verify
    * on the hashed shingle sets, then each batch doc keeps its best match
    * (max jaccard, min history id). One definition for the bucketed-table
    * variant (X61) and the committed-index resume variant (X205), so the
    * two can't drift semantically. */
  private def bestBatchMatches(bandsH: DataFrame, bandsN: DataFrame,
      sigsN: DataFrame, sigsH: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = bandsH.as("h")
      .join(bandsN.as("n"),
        col("h.band") === col("n.band") && col("h.key") === col("n.key"))
      .select(col("n.doc_id").as("batch_doc"), col("h.doc_id").as("match_doc"))
      .distinct()
    val x = sigsN.select(col("doc_id").as("batch_doc"), col("sg").as("sg_n"))
    val y = sigsH.select(col("doc_id").as("match_doc"), col("sg").as("sg_h"))
    val best = Window.partitionBy(col("batch_doc"))
      .orderBy(col("jaccard").desc, col("match_doc").asc)
    cand.join(x, Seq("batch_doc")).join(y, Seq("match_doc"))
      .select(col("batch_doc"), col("match_doc"),
        (size(array_intersect(col("sg_n"), col("sg_h"))).cast("double") /
          size(array_union(col("sg_n"), col("sg_h")))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("batch_doc"))
  }

  /** Persisted-signature-index schema: the hashed shingle set (the exact-
    * verify artifact — 8-byte longs, never raw text) plus the Bands
    * precomputed band keys per doc. */
  private[graft] val SigIndexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sg", ArrayType(LongType)),
      StructField("bands", ArrayType(StringType))))
  }

  /** The PERSISTABLE form of [[bandedSignatures]]: one row per doc with
    * its hashed shingle set and precomputed band keys — what a production
    * dedup service checkpoints so tomorrow's run never re-shingles
    * yesterday's corpus. */
  private[graft] def sigIndexFrame(docs: DataFrame): DataFrame = {
    val p = MinhashPrime
    shingled(docs)
      .withColumn("hs", transform(col("sg"), s => s % p))
      .select(col("doc_id"), col("sg"), bandKeysExpr(col("hs")).as("bands"))
  }

  /** `q_dedup_index_resume` (X205): X61's incremental dedup with the
    * signature index PERSISTED as a TableCommit table instead of
    * recomputed per run — the operating mode of a production dedup
    * service at 100 TB, where re-shingling the historical corpus daily
    * is the dominant (and pointless) cost. Day 1 ingests the history and
    * commits its signature index (v1). Day 2 — [[dedupIndexResumeDay2]],
    * which by CONSTRUCTION receives only the batch documents and the
    * table root — time-travels to v1 for the history signatures, computes
    * signatures for the fresh batch only, appends them to the index in
    * one transaction (v2 = tomorrow's history), and runs the candidate
    * join + exact verify. The gate shares X61's oracle verbatim: the
    * resumed two-batch run must hash-match the from-scratch incremental
    * dedup — a stale index, a dropped append, or a banding drift between
    * committed and fresh signatures all break it. DedupSpec proves the
    * "never recomputes" half structurally: day 2 still produces the
    * correct result when every history document's TEXT is corrupted,
    * because history flows only through the committed index. */
  def dedupIndexResumeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.engine.TempWarehouse.createManaged("graft_sigidx_") + "/sig_index"
    val docs = Tables.documents(spark, sfDir)
    val isBatch = col("doc_id") % IncrBatchMod === 0
    // DAY 1: history ingest — commit the signature index, retain 2 so the
    // day-2 read can pin v1 while the append publishes v2
    val v1 = graft.engine.TableCommit.commitOverwrite(
      sigIndexFrame(docs.filter(!isBatch)), root, retain = 2)
    dedupIndexResumeDay2(spark, root, v1, docs.filter(isBatch))
  }

  /** Day-2 of the resumed incremental dedup. Takes ONLY the batch
    * documents and the committed index root — history text is
    * unreachable from here, which IS the no-recompute guarantee. */
  private[graft] def dedupIndexResumeDay2(spark: SparkSession, root: String,
      v1: Long, batchDocs: DataFrame): DataFrame = {
    val hist = graft.engine.TableCommit.readAt(spark, root, SigIndexSchema, v1)
    val batchIdx = materialize(sigIndexFrame(batchDocs))
    // the same run extends the index: v2 = v1 ⊎ batch, one transaction —
    // tomorrow resumes from v2 exactly as today resumed from v1
    graft.engine.TableCommit.commitAppend(batchIdx, root, retain = 2)
    def explodeBands(idx: DataFrame): DataFrame =
      idx.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "key")))
    bestBatchMatches(explodeBands(hist), explodeBands(batchIdx),
      batchIdx, hist)
  }

  val dedupIncrementalOracle: String =
    s"""WITH $minhashCteSql,
       |xcand AS (
       |  SELECT DISTINCT n.doc_id AS batch_doc, h.doc_id AS match_doc
       |  FROM bands h JOIN bands n
       |    ON h.band = n.band AND h.key = n.key
       |  WHERE h.doc_id % ${IncrBatchMod} <> 0
       |    AND n.doc_id % ${IncrBatchMod} = 0),
       |xver AS (
       |  SELECT batch_doc, match_doc,
       |    CAST(len(list_intersect(x.sg, y.sg)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.sg, y.sg))) AS jaccard
       |  FROM xcand
       |  JOIN sigs x ON x.doc_id = batch_doc
       |  JOIN sigs y ON y.doc_id = match_doc)
       |SELECT batch_doc, match_doc, jaccard FROM (
       |  SELECT batch_doc, match_doc, jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY batch_doc
       |      ORDER BY jaccard DESC, match_doc ASC) AS rn
       |  FROM xver WHERE jaccard >= ${JaccardThreshold})
       |WHERE rn = 1
       |ORDER BY batch_doc""".stripMargin

  /** Edge-count threshold below which connected components runs as a
    * single-task union-find over the whole pair set — the broadcast-join
    * analogue for graphs. 10M edges is ~160 MB of long pairs plus the
    * union-find table: comfortably one executor's working set, and the
    * near-dup pair graph of even a 100 TB corpus is usually far smaller
    * than the corpus (pairs exist only where near-dups exist). Above the
    * threshold the distributed min-label fixpoint takes over. */
  val LocalCcMaxEdges: Long = 10000000L

  /** `q_dedup_clusters`: the CANONICALIZATION step the pair detectors feed —
    * connected components over the verified MinHash near-dup pairs, mapping
    * every clustered document to its component's minimum doc_id (the kept
    * representative; everything else in the cluster is a drop candidate).
    * Deterministic (min is min), so the oracle states the same fixpoint
    * with a recursive CTE regardless of which path below computed it. */
  def dedupClustersQ(spark: SparkSession, sfDir: String): DataFrame =
    connectedComponents(spark,
      minhashPairs(Tables.documents(spark, sfDir))
        .select(col("doc_a"), col("doc_b")),
      LocalCcMaxEdges)
      .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
      .orderBy(col("doc_id"))

  /** Connected components over an undirected pair set; every endpoint node
    * comes back labeled with its component MINIMUM. Size-adaptive, the same
    * way Spark picks broadcast vs shuffle joins by size:
    *
    *  - pair count ≤ `localMaxEdges`: ALL pairs shuffle to one task and a
    *    path-compressed union-find labels them in O(m α(m)) — one narrow
    *    exchange and zero driver rounds. (Union always attaches the larger
    *    root under the smaller, so a component's root is its min id.)
    *  - above the threshold: alternating large-star/small-star
    *    contraction (r17) — O(log²) distributed rounds regardless of
    *    component diameter, each round one min-aggregate + one join on
    *    the edge set.
    *
    * The adaptive switch matters because the fixpoint's floor cost is
    * multiple scheduled jobs: on the small graphs near-dup detection
    * actually emits, the loop is pure scheduling overhead, while the
    * union-find path is one job. Both paths compute the identical
    * fixpoint (DedupSpec pins the equivalence by forcing each path). */
  private[graft] def connectedComponents(
      spark: SparkSession, pairsIn: DataFrame,
      localMaxEdges: Long): DataFrame = {
    val (pairs, nPairs) = graft.engine.Materialize.diskBackedWithCount(pairsIn)
    if (nPairs <= localMaxEdges) localCc(spark, pairs)
    else distributedCc(spark, pairs)
  }

  /** Dev counter (read by graft.tools.ScaleProbe ccstars): distributed
    * rounds the last CC fixpoint ran. Outside any query's dataflow. */
  private[graft] val ccLastRounds =
    new java.util.concurrent.atomic.AtomicInteger

  /** Single-task union-find CC (the ≤-threshold path). */
  private def localCc(spark: SparkSession, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    import graft.engine.Primitives
    pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        // primitive long→long parent table (node-sized, ~24 B/entry) —
        // the boxed LongMap alternative triples that
        val parent = new Primitives.LongLongMap()
        def find(x0: Long): Long = {
          var r = x0
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x0
          while (parent.getOrElse(c, c) != c) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        // snapshot the keys first — find() path-compresses (mutates) as
        // the final labels are read off
        val ks = new scala.collection.mutable.ArrayBuilder.ofLong
        parent.foreachEntry((k, _) => ks += k)
        ks.result().iterator.map(n => (n, find(n)))
      }
      .toDF("node", "label")
  }

  /** Distributed CC via alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    * the variant VERDICT r16 asked for). The r16 min-label propagation
    * walked one hop per step, so a high-diameter component paid
    * O(diameter) distributed rounds; star contraction halves long paths
    * every iteration (O(log²) rounds worst case), with each round the
    * same two-exchange shape a propagation step already paid.
    *
    * Both operators keep the edge set's connectivity and node set
    * exactly (every node stays incident to an edge: via its group's
    * minimum if locally minimal, via its smaller neighbor's emission
    * otherwise), and both only ever REWIRE an edge's far endpoint to a
    * smaller node:
    *
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(N(u) ∪ {u});
    *  - small-star(u): every neighbor v < u (plus u itself) re-points
    *    to m = min of those neighbors.
    *
    * Joint fixpoint argument (why "both steps unchanged" certifies the
    * answer): SS unchanged ⇒ every node has at most ONE smaller
    * neighbor (two would rewire) ⇒ the edge set is a parent forest;
    * LS unchanged on a forest ⇒ no node has both a parent and a child
    * (a grandchild would gain an edge to its grandparent) ⇒ every tree
    * is depth 1 — a star whose center is its component minimum (any
    * non-min center would still carry its own smaller neighbor).
    * Labels read off the stars directly: member → center,
    * center → itself. */
  private def distributedCc(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val sessParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Canonical undirected form (hi > lo), self-loops dropped — the two
    // star operators are defined on loop-free neighborhoods. Self-loop
    // ONLY nodes (a caller may feed (x, x) witnesses — the incremental
    // CC's committed label table does for star centers) are re-attached
    // as singletons at the end, keeping the contract (shared with
    // localCc) that every input endpoint comes back labeled.
    val canon0 = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .where(col("hi") =!= col("lo")).distinct()
    // Eager localCheckpoint, NOT a bare persist: each round's operators
    // reference the previous frame several times (sym = canon ∪ swap,
    // join-with-mins, the convergence except), so an unpruned LOGICAL
    // plan grows multiplicatively per round and planning/plan-stringing
    // goes exponential long before execution does (a bare persist caches
    // execution but keeps the full lineage). The checkpoint truncates
    // the plan to the materialized RDD each round — the same
    // checkpoint-every-round discipline iterative graph algorithms use.
    def persisted(df: DataFrame): (DataFrame, Long) = {
      val p = df.localCheckpoint(true)
      (p, p.count())
    }
    var (cur, curCnt) = persisted(canon0)
    // Parallelism sized to the EDGE COUNT, not the corpus-scale session
    // default (the near-dup graph is orders of magnitude smaller than
    // the corpus): ~1M edges/partition, capped at the session width.
    val nParts = math.max(1L,
      math.min(sessParts.toLong, curCnt / 1000000L + 1L)).toInt
    def rep(df: DataFrame, k: String): DataFrame =
      df.repartition(nParts, col(k))
    // large-star: for every u, each neighbor v > u re-points to
    // m = min(N(u) ∪ {u}). m ≤ u < v keeps the (hi, lo) orientation.
    def largeStar(canon: DataFrame): DataFrame = {
      val sym = canon.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(canon.select(col("lo").as("u"), col("hi").as("v")))
      val symR = rep(sym, "u")
      val m = symR.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      symR.join(m, Seq("u")).where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }
    // small-star: the canon rows ARE the edges oriented to their larger
    // endpoint, so each group hi's smaller neighbors are its lo values;
    // all of them (and hi itself) re-point to their minimum.
    def smallStar(canon: DataFrame): DataFrame = {
      val canonR = rep(canon, "hi")
      val m = canonR.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      canonR.join(m, Seq("hi")).where(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(m.select(col("hi"), col("m").as("lo")))
        .distinct()
    }
    // Set equality on persisted distinct frames: equal counts + empty
    // difference. Counts come free with the persist-forcing action, so a
    // non-converged round (counts differ) pays no except() join.
    def sameAs(a: DataFrame, aCnt: Long, b: DataFrame, bCnt: Long): Boolean =
      aCnt == bCnt && a.except(b).isEmpty
    var converged = false
    var rounds = 0
    val maxRounds = 64 // star contraction halves paths per round; 64 is
                       // unreachable for any graph that fits storage
    while (!converged && rounds < maxRounds) {
      val (ls, lsCnt) = persisted(largeStar(cur))
      val (ss, ssCnt) = persisted(smallStar(ls))
      converged = sameAs(ls, lsCnt, cur, curCnt) &&
        sameAs(ss, ssCnt, ls, lsCnt)
      // superseded checkpoints are unreferenced after this assignment;
      // the context cleaner reclaims their blocks
      cur = ss
      curCnt = ssCnt
      rounds += 1
    }
    ccLastRounds.set(rounds)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds " +
          "star-contraction rounds")
    // Stars → labels: members to their center, centers to themselves.
    val labels = cur.select(col("hi").as("node"), col("lo").as("label"))
      .unionByName(
        cur.select(col("lo").as("node"), col("lo").as("label")).distinct())
    // Re-attach self-loop-only nodes (dropped from canon0) as their own
    // component — exact: a self-loop adds no connectivity.
    val loops = pairs.where(col("doc_a") === col("doc_b"))
      .select(col("doc_a").as("node")).distinct()
    labels.unionByName(
      loops.join(labels.select(col("node")), Seq("node"), "left_anti")
        .withColumn("label", col("node")))
  }

  val dedupClustersOracle: String =
    s"""WITH RECURSIVE $minhashCteSql,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM verified WHERE jaccard >= ${JaccardThreshold}
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), reach AS (
       |  SELECT src AS node, src AS label FROM edges
       |  UNION
       |  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
       |)
       |SELECT node AS doc_id, MIN(label) AS cluster_rep
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // `q_minhash_est` (X202): sketch-accuracy evaluation for MinHash
  // ------------------------------------------------------------------

  /** `q_minhash_est`: per candidate pair, the MinHash JACCARD ESTIMATE
    * (matching signature positions / K) beside the exact Jaccard and
    * their per-mille error — the sketch-accuracy leg of the evaluation
    * family applied to the dedup stack: K = 12 permutations give the
    * estimate a ~1/√12 ≈ 29% standard error, and whether that is
    * acceptable for a given dedup threshold is a MEASURED question, not
    * a belief (the X192 recall discipline pointed at X2's sketch).
    * Candidates are the banded pairs (no threshold filter — the
    * accuracy profile must include the pairs the threshold would
    * reject); the estimate is an exact integer (match count), so the
    * artifact hash-gates including the error column.
    *
    * Scale: everything rides the existing banded-candidate machinery;
    * the signature comparison is a 12-element zip per candidate pair. */
  def minhashEstQ(spark: SparkSession, sfDir: String): DataFrame = {
    val p = MinhashPrime
    val (sh, bands) = bandedSignatures(Tables.documents(spark, sfDir))
    val sig = sh.select(col("doc_id"), col("sg"),
      array(Perms.map { case (a, b) =>
        array_min(transform(col("hs"), h => (lit(a) * h + lit(b)) % p))
      }: _*).as("mh"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val matches = aggregate(
      zip_with(col("mh_a"), col("mh_b"), (x, y) =>
        when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sg").as("sg_a"),
        col("mh").as("mh_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sg").as("sg_b"),
        col("mh").as("mh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        matches.as("sig_match"),
        (size(array_intersect(col("sg_a"), col("sg_b"))).cast("long") * 1000)
          .as("i1000"),
        (size(array_union(col("sg_a"), col("sg_b"))).cast("long")).as("u"))
      .select(col("doc_a"), col("doc_b"), col("sig_match"),
        Num.divLong(col("sig_match") * 1000, Perms.size.toLong)
          .as("est_permille"),
        Num.divLong(col("i1000"), col("u")).as("jaccard_permille"))
      .withColumn("err_permille",
        abs(col("est_permille") - col("jaccard_permille")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: the shared MinHash CTE chain already carries the signatures
    * and the exact-Jaccard verify — add the positionwise match count. */
  val minhashEstOracle: String =
    s"""WITH $minhashCteSql,
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_filter(range(1, ${Perms.size + 1}),
       |      i -> x.mh[i] = y.mh[i])) AS BIGINT) AS sig_match,
       |    CAST(len(list_intersect(x.sg, y.sg)) AS BIGINT) * 1000 AS i1000,
       |    CAST(len(list_distinct(list_concat(x.sg, y.sg))) AS BIGINT) AS u
       |  FROM cand c
       |  JOIN sigs x ON x.doc_id = c.doc_a
       |  JOIN sigs y ON y.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, sig_match,
       |  sig_match * 1000 // ${Perms.size} AS est_permille,
       |  i1000 // u AS jaccard_permille,
       |  abs(sig_match * 1000 // ${Perms.size} - i1000 // u) AS err_permille
       |FROM est ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------------
  // `q_dedup_purgelist` (X194): cluster → keep/purge ACTIONS
  // ------------------------------------------------------------------

  /** `q_dedup_purgelist`: the ACTIONABLE half of near-dup clustering —
    * X45 labels each doc with its component, but a pipeline executes a
    * DELETE list, not a labeling: per cluster, keep ONE canonical
    * representative (longest text wins — the standard keep-the-richest
    * rule; ties break to the smaller doc_id for determinism) and emit
    * every other member as a purge row naming the doc it duplicates.
    * Singleton docs never appear (nothing to purge), so the output IS
    * the delete set a D1-style partition rewrite consumes.
    *
    * Plan: the component labeling is X45's size-adaptive CC; the rep
    * choice is one max_by-shaped aggregate over (cluster → (n_chars,
    * −doc_id)) and a broadcast-back join — cluster-bounded, nothing
    * data-sized beyond the labeling it already shares. */
  def dedupPurgelistQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val labeled = connectedComponents(spark,
      minhashPairs(docs).select(col("doc_a"), col("doc_b")),
      LocalCcMaxEdges)
      .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    // canonical rep per cluster: longest text, ties to the smaller id —
    // arg-max on the packed score n_chars·10^10 − doc_id (exact int64:
    // chars ≤ 10^5, ids ≪ 10^10 at any soak tier; the identical packed
    // expression runs on both engines, so tie-breaking matches exactly)
    val reps = labeled.groupBy(col("cluster_rep"))
      .agg(max_by(col("doc_id"),
        col("n_chars") * lit(10000000000L) - col("doc_id")).as("keep_doc"))
    labeled.join(broadcast(reps), Seq("cluster_rep"))
      .filter(col("doc_id") =!= col("keep_doc"))
      .select(col("doc_id").as("purge_doc"), col("keep_doc"),
        col("cluster_rep"), col("n_chars").as("purge_chars"))
      .orderBy(col("purge_doc"))
  }

  /** Oracle: X45's recursive-CC CTE extended with the same arg-max. */
  val dedupPurgelistOracle: String =
    s"""WITH RECURSIVE $minhashCteSql,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM verified WHERE jaccard >= ${JaccardThreshold}
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), reach AS (
       |  SELECT src AS node, src AS label FROM edges
       |  UNION
       |  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
       |), labeled AS (
       |  SELECT r.node AS doc_id, MIN(r.label) AS cluster_rep
       |  FROM reach r GROUP BY 1
       |), sized AS (
       |  SELECT l.doc_id, l.cluster_rep, d.n_chars
       |  FROM labeled l JOIN documents d ON d.doc_id = l.doc_id
       |), reps AS (
       |  SELECT cluster_rep,
       |    arg_max(doc_id, n_chars * 10000000000 - doc_id) AS keep_doc
       |  FROM sized GROUP BY 1
       |)
       |SELECT s.doc_id AS purge_doc, r.keep_doc, s.cluster_rep,
       |  s.n_chars AS purge_chars
       |FROM sized s JOIN reps r USING (cluster_rep)
       |WHERE s.doc_id <> r.keep_doc
       |ORDER BY purge_doc""".stripMargin

  // ------------------------------------------------------------------
  // `q_dedup_ngram`: exact n-gram-Jaccard near-dup detection with an
  // INVERTED-INDEX candidate generator — the other scalable candidate
  // pattern beside MinHash banding. Posting lists are built per shingle,
  // shingles with document frequency outside [2, DfCap] are dropped (df=1
  // cannot pair; df>DfCap are stop-shingles whose posting-list self-join
  // would explode quadratically at 100 TB — the cap bounds each list's
  // contribution to DfCap² pairs), candidates come from joining the
  // surviving lists, and every candidate is verified with exact Jaccard.
  // Near-dup pairs share many rare shingles, so a COUNT FILTER (the
  // PPJoin-family idea) prunes the coincidence pairs before the expensive
  // exact verify: a candidate must co-occur in >= MinSharedRare rare
  // posting lists. Measured on the harness corpus at sf0.1: 436k raw
  // candidate pairs -> 17k after the count filter, with 255/256 true pairs
  // retained (the one loss shares a single rare shingle — the documented
  // recall trade of count filtering; the oracle applies the identical
  // filter so the gate still matches exactly).
  // ------------------------------------------------------------------

  val DfCap = 10
  val MinSharedRare = 2

  def ngramPairs(docs: DataFrame): DataFrame = {
    val sh = materialize(shingled(docs))
    val postings = sh.select(col("doc_id"), explode(col("sg")).as("s"))
    // df gate first as a count-only aggregate (never materializes the
    // stop-shingles' giant posting lists), semi-joined back — `rare` is a
    // narrow key set, so Catalyst broadcasts it. The surviving lists are
    // ≤ DfCap elements, so they are collected per shingle and the candidate
    // pairs expanded in-line — replacing the posting-list self-join's second
    // full shuffle with a bounded per-row expansion.
    val rare = postings.groupBy(col("s")).agg(Num.countStar.as("df"))
      .filter(col("df") >= 2 && col("df") <= DfCap)
      .select(col("s"))
    val ds = array_sort(col("ds"))
    val pairsOfList = flatten(transform(sequence(lit(1), size(ds) - 1), i =>
      transform(sequence(i + 1, size(ds)), j =>
        struct(element_at(ds, i).as("doc_a"), element_at(ds, j).as("doc_b")))))
    val cand = postings.join(rare, Seq("s"))
      .groupBy(col("s")).agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(pairsOfList).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(Num.countStar.as("n_shared"))
      .filter(col("n_shared") >= MinSharedRare)
      .select(col("doc_a"), col("doc_b"))
    val x = sh.select(col("doc_id").as("doc_a"), col("sg").as("sg_a"))
    val y = sh.select(col("doc_id").as("doc_b"), col("sg").as("sg_b"))
    cand.join(x, Seq("doc_a")).join(y, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sg_a"), col("sg_b"))).cast("double") /
          size(array_union(col("sg_a"), col("sg_b")))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def dedupNgramQ(spark: SparkSession, sfDir: String): DataFrame =
    ngramPairs(Tables.documents(spark, sfDir))

  val dedupNgramOracle: String =
    s"""WITH $shingleCteSql, postings AS (
       |  SELECT doc_id, unnest(sg) AS s FROM sh
       |), rare AS (
       |  SELECT s FROM postings GROUP BY s
       |  HAVING COUNT(*) >= 2 AND COUNT(*) <= ${DfCap}
       |), indexed AS (
       |  SELECT p.doc_id, p.s FROM postings p JOIN rare r ON p.s = r.s
       |), cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM indexed a JOIN indexed b
       |    ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= ${MinSharedRare}
       |), verified AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(x.sg, y.sg)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.sg, y.sg))) AS jaccard
       |  FROM cand
       |  JOIN sh x ON x.doc_id = doc_a
       |  JOIN sh y ON y.doc_id = doc_b
       |)
       |SELECT doc_a, doc_b, jaccard FROM verified
       |WHERE jaccard >= ${JaccardThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** `q_chunk_cdc`: content-defined chunking — each document split at
    * rolling-hash-determined boundaries (graft.functions.Chunker, a native
    * codegen Expression; see its scaladoc for the exact Horner/rolling
    * definition), reported as per-doc chunk count, boundary checksum, and
    * max chunk length. CDC is the storage/dedup splitter whose boundaries
    * survive insertions — the chunk-level companion to the document-level
    * MinHash/SimHash family (LBFS-style anchoring, public rsync/casync
    * lineage).
    *
    * Plan: ONE narrow, codegen'd pass over the corpus — the expression
    * rolls the hash in O(n) per document and returns boundary positions;
    * the per-doc stats are array ops on that (bounded ~n/64 elements). No
    * shuffle at all until the final display sort. The DuckDB oracle
    * recomputes every window independently (O(n·W)) — same polynomial,
    * same boundaries, which is the cross-engine proof the rolling update
    * is algebraically right. */
  def chunkCdcQ(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.Chunker.ensureRegistered(spark)
    val bs = graft.functions.Chunker.chunkBoundaries(col("text"))
    val bsL = transform(col("bs"), x => (x + 1).cast("long"))
    val starts = concat(array(lit(0L)), bsL)
    val ends = concat(bsL, array(col("n_cp")))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_cp"),
        bs.as("bs"))
      .select(col("doc_id"), col("n_cp"),
        (size(col("bs")) + 1).cast("long").as("n_chunks"),
        coalesce(aggregate(col("bs"), lit(0L), (a, x) => a + x), lit(0L))
          .as("boundary_checksum"),
        array_max(zip_with(starts, ends, (s, e) => e - s)).as("max_chunk"))
      .orderBy(col("doc_id"))
  }

  val chunkCdcOracle: String = {
    import graft.functions.Chunker.{Base => B, BoundaryMod => M, Prime => P, Window => W}
    s"""WITH pos AS (
       |  SELECT doc_id, text, i
       |  FROM documents, UNNEST(range(${W - 1}, length(text))) AS u(i)),
       |hv AS (
       |  SELECT doc_id, i,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(0, ${W}),
       |        j -> CAST(unicode(substr(text, CAST(i AS INT) - ${W} + 2
       |               + CAST(j AS INT), 1)) AS BIGINT))),
       |      (acc, c) -> (acc * ${B} + c) % ${P}) AS h
       |  FROM pos),
       |b AS (SELECT doc_id, i FROM hv WHERE h % ${M} = 0),
       |bl AS (SELECT doc_id, list(i ORDER BY i) AS bs FROM b GROUP BY 1),
       |d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_cp
       |      FROM documents),
       |f AS (
       |  SELECT d.doc_id, d.n_cp,
       |    COALESCE(bs, CAST([] AS BIGINT[])) AS bs
       |  FROM d LEFT JOIN bl USING (doc_id)),
       |sp AS (
       |  SELECT doc_id, n_cp,
       |    CAST(len(bs) + 1 AS BIGINT) AS n_chunks,
       |    CAST(COALESCE(list_sum(bs), 0) AS BIGINT) AS boundary_checksum,
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(bs, x -> x + 1)) AS starts,
       |    list_append(list_transform(bs, x -> x + 1), n_cp) AS ends
       |  FROM f)
       |SELECT doc_id, n_cp, n_chunks, boundary_checksum,
       |  CAST(list_max(list_transform(range(1, len(starts) + 1),
       |    k -> ends[CAST(k AS INT)] - starts[CAST(k AS INT)])) AS BIGINT)
       |    AS max_chunk
       |FROM sp ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // `q_substr_dupes`: SUBSTRING-level duplication (winnowing fingerprints)

  /** Character n-gram length for substring fingerprinting. */
  val SubstrN = 20
  /** Winnowing window: a position is SELECTED when its gram is the
    * lexicographic minimum of the trailing `SubstrW`-position window — any
    * two identical spans of length ≥ SubstrN + SubstrW − 1 therefore share
    * at least one selected position, with selection density ~2/(SubstrW+1)
    * on non-repetitive text. The gram string itself is the winnowing
    * order: selection needs any content-determined total order, and the
    * raw string avoids per-position hashing entirely (and hash-collision
    * merges, since the aggregate groups the same strings the order is
    * defined on). The cost is biased sampling (grams opening with
    * low-codepoint chars are over-selected), which matters not at all for
    * shared-span detection — both copies of a span bias identically. */
  val SubstrW = 8
  /** Most-duplicated substrings reported. */
  val SubstrTopK = 20

  /** `q_substr_dupes`: cross-document REPEATED-SUBSTRING detection — the
    * substring-level pass of training-data dedup (boilerplate headers,
    * license blocks, templated spans that doc-level MinHash can't see
    * because the surrounding document differs). Every character position
    * yields a `SubstrN`-gram fingerprint; winnowing keeps only trailing-
    * window minima, and the kept grams aggregate to (distinct docs,
    * occurrences) with the multi-doc top-K reported.
    *
    * Scale shape: the winnow runs INSIDE the scan stage — the native
    * `graft_winnow` expression (functions/Winnow.scala) selects positions
    * in one monotonic-deque pass per document, so only the ~2/(W+1)
    * selected positions ever become rows and no gram string materializes
    * for a discarded position. NO repartition, NO sort, NO window exec:
    * the single wide op in the whole query is the selected-gram
    * aggregate. (The declarative twin — explode every position, string
    * window min, filter — is what the DuckDB oracle still runs, so the
    * correctness gate doubles as the native/declarative equivalence
    * proof; DedupSpec pins the same equivalence inside Spark.) */
  def substrDupesQ(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.Winnow.ensureRegistered(spark)
    substrDupes(Tables.documents(spark, sfDir))
  }

  /** Core over any (doc_id, text) frame (session must have
    * `graft_winnow` registered — `Winnow.ensureRegistered`). */
  def substrDupes(docs: DataFrame): DataFrame = {
    graft.functions.Winnow.ensureRegistered(docs.sparkSession)
    docs
      .filter(length(col("text")) >= SubstrN)
      .select(col("doc_id"), col("text"),
        explode(graft.functions.Winnow.winnowSelect(col("text"), SubstrN, SubstrW)).as("i"))
      .select(col("doc_id"),
        expr(s"substring(text, i, $SubstrN)").as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        Num.countStar.as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
      .limit(SubstrTopK)
  }

  val substrDupesOracle: String =
    s"""WITH pos AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1, LENGTH(text) - ${SubstrN} + 1)) AS i,
       |    text
       |  FROM documents WHERE LENGTH(text) >= ${SubstrN}),
       |grams AS (
       |  SELECT doc_id, i, substr(text, i, ${SubstrN}) AS gram
       |  FROM pos),
       |sel AS (
       |  SELECT doc_id, gram,
       |    MIN(gram) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN ${SubstrW - 1} PRECEDING AND CURRENT ROW) AS wmin
       |  FROM grams)
       |SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_occ
       |FROM sel WHERE gram = wmin
       |GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY n_docs DESC, n_occ DESC, gram LIMIT ${SubstrTopK}""".stripMargin

  // `q_setsim_prefix`: exact set-similarity join via prefix filtering

  /** Signature size: each doc is represented by its K globally-rarest
    * distinct 3-word shingle hashes (rarity = corpus document frequency,
    * ties by hash value — one deterministic total order for everyone).
    * Shingles, not unigrams: the synthetic corpus vocabulary is small
    * enough that rarest-word signatures collapse onto each other (the
    * unigram form emitted 72k "pairs" from 500 docs), while the shingle
    * space is sparse — exactly why every detector in this file keys on
    * shingles. */
  val SetsimSigK = 12
  /** Jaccard threshold over signatures. 1/2 keeps the qualifying test an
    * exact integer comparison: J ≥ 1/2 ⟺ 3·|x∩y| ≥ |x|+|y|. */
  val SetsimTauNum = 1
  val SetsimTauDen = 2

  /** `q_setsim_prefix`: EXACT Jaccard set-similarity self-join with
    * prefix filtering (SSJoin/PPJoin candidate pruning — Chaudhuri et
    * al. ICDE'06, Xiao et al. WWW'08) — the third near-dup detector
    * family beside MinHash (X2, probabilistic) and fixed n-gram blocking
    * (X15): zero false negatives, no verification-of-everything. The
    * prefix principle: order every signature by one global rarity order;
    * if J(x,y) ≥ τ then |x∩y| ≥ ⌈τ·|x|⌉, and two sets overlapping that
    * much MUST share a token inside their first |x| − ⌈τ·|x|⌉ + 1
    * tokens — so equi-joining on prefix tokens finds every qualifying
    * pair while hub tokens (stopwords are everyone's suffix, never a
    * prefix, because prefixes hold the RAREST tokens) generate no
    * candidates.
    *
    * Scale shape: shingle once → explode to (doc, shingle-hash) →
    * shingle-keyed df aggregate joined back on the SAME exchange (the
    * shingle vocabulary grows with the corpus, so this is a
    * key-partitioned shuffle join, never a broadcast) → per-doc rank
    * window (doc-keyed, K-truncated) → prefix equi-join (rare-shingle
    * buckets only) → candidate-bounded verify join. No all-pairs product
    * anywhere; the verify cost is |candidates| × K. */
  /** (doc_id, w, rn, sz): each doc's rarest-K shingle signature with the
    * global rarity rank and the doc's signature size. Exposed
    * `private[graft]` so the losslessness test can brute-force the same
    * signatures without the prefix filter. */
  private[graft] def setsimSignatures(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The shingle frame MUST materialize before the explode: unfenced,
    // CollapseProject inlines the array-building transform into the
    // Generate so every emitted row re-evaluates the whole md5 array —
    // O(len²) hashing per doc (measured 65 s vs 1.5 s at sf0.1 for the
    // token fold alone). Also serves tok's two consumers (dfreq + probe
    // side) one computation. Same discipline as bandedSignatures.
    val tok = materialize(shingled(docs))
      .select(col("doc_id"), explode(col("sg")).as("w"))
    val dfreq = tok.groupBy(col("w")).agg(Num.countStar.as("df"))
    tok.join(dfreq, Seq("w"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("w").asc)))
      .filter(col("rn") <= SetsimSigK)
      .withColumn("sz", max(col("rn")).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("w"), col("rn"), col("sz"))
  }

  def setsimPrefixQ(spark: SparkSession, sfDir: String): DataFrame = {
    // sig carries each doc's size so the prefix length and the verify
    // test never need a second lookup
    val sig = graft.engine.Materialize.diskBacked(
      setsimSignatures(Tables.documents(spark, sfDir)))
    // prefix length |x| - ceil(tau*|x|) + 1, integer-exact:
    // ceil(n/d * sz) = (num*sz + den - 1) div den
    val prefLen = col("sz") -
      expr(s"(${SetsimTauNum} * sz + ${SetsimTauDen} - 1) div ${SetsimTauDen}") +
      lit(1)
    val pref = sig.filter(col("rn") <= prefLen)
      .select(col("doc_id"), col("w"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val inter = cand
      .join(sig.select(col("doc_id").as("da"), col("w"), col("sz").as("sa")),
        Seq("da"))
      .join(sig.select(col("doc_id").as("db"), col("w"), col("sz").as("sb")),
        Seq("db", "w"))
      .groupBy(col("da"), col("db"))
      .agg(Num.countStar.as("n_shared"),
        max(col("sa")).as("sa"), max(col("sb")).as("sb"))
    inter
      .filter(col("n_shared") * (SetsimTauNum + SetsimTauDen)
        >= (col("sa") + col("sb")) * SetsimTauNum)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("n_shared"),
        (col("sa") + col("sb") - col("n_shared")).as("n_union"),
        (col("n_shared").cast("double")
          / (col("sa") + col("sb") - col("n_shared"))).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: brute-force the same signature Jaccard (prefix filtering is
    * lossless, so the exact join IS the spec). */
  // ------------------------------------------------------------------
  // `q_dedup_containment` (X185): asymmetric near-containment
  // ------------------------------------------------------------------

  /** Containment threshold 9/10 as an exact integer ratio (the double
    * 0.9 never appears in a comparison on either engine). */
  val ContainNum = 9
  val ContainDen = 10

  /** `q_dedup_containment`: DIRECTED near-containment detection —
    * ordered pairs (a, b), a ≠ b, where C(a,b) =
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ 9/10: document a is
    * (near-)contained in document b. This is the decontamination-grade
    * primitive Jaccard dedup cannot express: a benchmark prompt pasted
    * into a 100×-longer web page has Jaccard ≈ 0.01 against it but
    * containment ≈ 1.0 — the standard reason training-data pipelines run
    * a containment pass beside the symmetric near-dup pass. Downstream of
    * the reference's scope but squarely in SURVEY §2's LLM-pipeline
    * charter (X32's exact decontamination is the k=0 special case).
    *
    * Candidate generation is the asymmetric prefix filter: order every
    * doc's shingles by GLOBAL rarity (df asc, shingle asc) and probe with
    * only the first |a| − ⌈t·|a|⌉ + 1 = ⌊|a|/10⌋+1 rarest shingles —
    * pigeonhole: a container missing ALL of them misses > ⌊|a|/10⌋
    * shingles, i.e. containment < t, so the filter is LOSSLESS for any
    * prefix subset; rarity ordering is purely the performance choice
    * (the probe joins the SHORTEST posting lists, PPJoin's discipline
    * pointed one-directionally). The index side must stay full — the
    * container has no prefix bound (that asymmetry IS the difference
    * from X145's symmetric Jaccard prefix join). Verify is exact set
    * intersection on the hashed shingle arrays; the threshold compare is
    * integer cross-multiplication (n_shared·10 ≥ n_a·9).
    *
    * Scale: candidates = Σ over probe-prefix shingles of that shingle's
    * posting length — rare-first probes keep each term near-minimal, and
    * the one data-sized shuffle is the (w)-keyed probe join; the window
    * rank is per-doc (bounded by doc length). 100 TB shape: identical to
    * the X145 prefix join it shares its frame with, plus the full-postings
    * index side whose hot shingles are exactly the ones NO probe prefix
    * selects. */
  def dedupContainmentQ(spark: SparkSession, sfDir: String): DataFrame =
    dedupContainmentWith(spark, sfDir, bloomPrune = false)

  /** Coverage diagnosis for the Bloom-prune decision (ScaleProbe
    * `containcover`): shares of the index side's distinct shingles and
    * posting ROWS that the probe-prefix shingle set selects. */
  private[graft] def containmentCoverage(spark: SparkSession,
      sfDir: String): String = {
    import org.apache.spark.sql.expressions.Window
    val sh = materialize(shingled(Tables.documents(spark, sfDir)))
    val tok = sh.select(col("doc_id"), explode(col("sg")).as("w"))
    val dfreq = tok.groupBy(col("w")).agg(Num.countStar.as("df"))
    val ranked = tok.join(dfreq, Seq("w"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("w").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val prefLen = col("n") -
      expr(s"(${ContainNum} * n + ${ContainDen} - 1) div ${ContainDen}") +
      lit(1)
    val prefW = materialize(
      ranked.filter(col("rn") <= prefLen).select(col("w")).distinct())
    val totalW = dfreq.count()
    val coveredW = prefW.count()
    val totalRows = tok.count()
    val coveredRows = tok.join(prefW, Seq("w"), "left_semi").count()
    f"distinct_shingles=$totalW%,d prefix_covered=$coveredW%,d " +
      f"(${coveredW * 100.0 / totalW}%.1f%%), posting_rows=$totalRows%,d " +
      f"covered_rows=$coveredRows%,d (${coveredRows * 100.0 / totalRows}%.1f%%)"
  }

  /** Bitmap size of the prefix-shingle Bloom prune (2^20 positions). */
  val ContainBloomBits: Long = 1L << 20

  /** One-hash Bloom position of a shingle for the index-side prune —
    * xxhash64 (codegen'd, executor-cheap); no oracle twin is needed
    * because the prune is RESULT-INVARIANT: the candidate join matches on
    * `w` itself, so a Bloom false positive is an index posting that joins
    * nothing, never a wrong pair. */
  private def containBloomPos(w: Column): Column =
    pmod(xxhash64(lit("cb"), w), lit(ContainBloomBits))

  /** `bloomPrune` toggles the index-side Bloom discipline so ScaleProbe
    * can measure the shuffle-bytes delta; production path is ON. */
  private[graft] def dedupContainmentWith(spark: SparkSession, sfDir: String,
      bloomPrune: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = materialize(shingled(Tables.documents(spark, sfDir)))
    val tok = sh.select(col("doc_id"), explode(col("sg")).as("w"))
    val dfreq = tok.groupBy(col("w")).agg(Num.countStar.as("df"))
    val ranked = tok.join(dfreq, Seq("w"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("w").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // probe prefix length: n − ⌈t·n⌉ + 1, integer-exact ceil
    val prefLen = col("n") -
      expr(s"(${ContainNum} * n + ${ContainDen} - 1) div ${ContainDen}") +
      lit(1)
    // materialized ONLY when the Bloom build makes this a two-consumer
    // frame; the default single-consumer path must not pay a disk persist
    val prefixRaw = ranked.filter(col("rn") <= prefLen)
      .select(col("doc_id").as("doc_a"), col("w"))
    val prefix = if (bloomPrune) materialize(prefixRaw) else prefixRaw
    // Index-side Bloom prune (VERDICT r9 task 6 / the X59 discipline):
    // the probe side is prefix-bounded but the index side would shuffle
    // EVERY posting on `w`, including the hot shingles no rare-first
    // prefix ever selects — and hot shingles are exactly where the
    // posting ROWS are. Summarize the distinct prefix shingles into a
    // fixed-size position set (map-side combine caps it at 2^20 rows ≈
    // the bitmask a real impl broadcasts) and semi-join the index scan
    // against it BEFORE the w-keyed exchange: no false negatives, so
    // every true candidate survives; a false positive is a posting that
    // joins nothing. Result-invariant by construction — the gate hash
    // cannot move, only the shuffled bytes can (measured in SCALING.md).
    val idxTok =
      if (!bloomPrune) tok
      else {
        val bits = prefix.select(containBloomPos(col("w")).as("pos")).distinct()
        tok.join(broadcast(bits), containBloomPos(col("w")) === col("pos"),
          "left_semi")
      }
    val cand = prefix
      .join(idxTok.select(col("doc_id").as("doc_b"), col("w")), Seq("w"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sg").as("sa")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sg").as("sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long")
          .as("n_shared"),
        size(col("sa")).cast("long").as("n_a"))
      .filter(col("n_shared") * ContainDen >= col("n_a") * ContainNum)
      .withColumn("containment",
        col("n_shared").cast("double") / col("n_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: the prefix filter is lossless (pigeonhole above), so the
    * spec is the exact all-candidate containment join — same shingle CTE,
    * same integer threshold. */
  val dedupContainmentOracle: String =
    s"""WITH $shingleCteSql,
       |tok AS (SELECT doc_id, unnest(sg) AS w FROM sh),
       |dfq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY 1),
       |r AS (
       |  SELECT t.doc_id, t.w,
       |    ROW_NUMBER() OVER (PARTITION BY t.doc_id
       |      ORDER BY d.df ASC, t.w ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY t.doc_id) AS n
       |  FROM tok t JOIN dfq d USING (w)),
       |pref AS (
       |  SELECT doc_id AS doc_a, w FROM r
       |  WHERE rn <= n - (${ContainNum} * n + ${ContainDen} - 1)
       |    // ${ContainDen} + 1),
       |cand AS (
       |  SELECT DISTINCT p.doc_a, t.doc_id AS doc_b
       |  FROM pref p JOIN tok t USING (w)
       |  WHERE p.doc_a <> t.doc_id),
       |v AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(x.sg, y.sg)) AS BIGINT) AS n_shared,
       |    CAST(len(x.sg) AS BIGINT) AS n_a
       |  FROM cand
       |  JOIN sh x ON x.doc_id = doc_a
       |  JOIN sh y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_shared, n_a,
       |  CAST(n_shared AS DOUBLE) / n_a AS containment
       |FROM v WHERE n_shared * ${ContainDen} >= n_a * ${ContainNum}
       |ORDER BY doc_a, doc_b""".stripMargin

  val setsimPrefixOracle: String =
    s"""WITH $shingleCteSql,
       |tok AS (SELECT doc_id, unnest(sg) AS w FROM sh),
       |dfq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY 1),
       |r AS (
       |  SELECT t.doc_id, t.w,
       |    ROW_NUMBER() OVER (PARTITION BY t.doc_id
       |      ORDER BY d.df ASC, t.w ASC) AS rn
       |  FROM tok t JOIN dfq d USING (w)),
       |sig AS (SELECT doc_id, w FROM r WHERE rn <= ${SetsimSigK}),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS s FROM sig GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS da, y.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS i
       |  FROM sig x JOIN sig y ON x.w = y.w AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT da AS doc_a, db AS doc_b, i AS n_shared,
       |  (sx.s + sy.s - i) AS n_union,
       |  CAST(i AS DOUBLE) / (sx.s + sy.s - i) AS jaccard
       |FROM inter
       |JOIN sz sx ON sx.doc_id = da
       |JOIN sz sy ON sy.doc_id = db
       |WHERE i * ${SetsimTauNum + SetsimTauDen} >= (sx.s + sy.s) * ${SetsimTauNum}
       |ORDER BY doc_a, doc_b""".stripMargin
}
