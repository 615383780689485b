package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guards: the properties that make these operators
  * survive a 100× scale-up, asserted against the actual physical plans so a
  * refactor can't silently regress them. */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    // Verify/Bench clear the cache between queries; mirror that isolation
    // here, or one query's Materialize.diskBacked frame substitutes into a
    // LATER query's identical subtree (Spark's cache manager rewrites any
    // matching fragment) and reshapes the plan under assertion.
    spark.catalog.clearCache()
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
  }

  test("medallion enrichment plans the combined text once per keyword count") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.{ConcatWs, Contains, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import graft.functions.MultiContainsCount
    import graft.pipeline.Medallion
    val staged = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Medallion.stagingSchema)
    val qe = Medallion.enrich(staged).queryExecution
    def count(p: LogicalPlan)(f: PartialFunction[Expression, Unit]): Int =
      p.collect { case n => n.expressions.map(_.collect(f).size).sum }.sum
    for ((name, p) <- Seq("analyzed" -> qe.analyzed,
        "optimized" -> qe.optimizedPlan)) {
      // one automaton per count (positive, negative), each over one copy
      // of the combined text; the unrolled form had 60 copies and 60
      // `contains`
      assert(count(p) { case _: MultiContainsCount => } === 2, name)
      assert(count(p) { case _: ConcatWs => } === 2, name)
      assert(count(p) { case _: Contains => } === 0, name)
    }
  }

  test("q_agg_pricing pushes the date filter into the parquet scan") {
    val p = plan("q_agg_pricing")
    assert(p.contains("PushedFilters"))
    assert(p.contains("l_shipdate"))
  }

  test("q_agg_daily_region reads only the referenced columns (pruning)") {
    val p = plan("q_agg_daily_region")
    // the orders scan must not read the unused o_orderkey/o_orderpriority
    val scanLine = p.linesIterator.find(l =>
      l.contains("orders.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("o_orderpriority"))
  }

  test("dedup candidate generation is never a cartesian/all-pairs join") {
    for (q <- Seq("q_dedup_minhash", "q_dedup_ngram", "q_dedup_embedding",
        "q_dedup_incremental")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plan contains a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a nested-loop join")
    }
  }

  test("q_dedup_incremental: history band index joins exchange-free (bucketed)") {
    // The candidate join's history side must come straight from the
    // persisted bucketBy(band, key) table — no exchange — so a daily batch
    // run never re-shuffles the corpus-sized index. Broadcast is disabled
    // for the assertion: at sf0.001 the tiny history side would broadcast
    // (correct locally) and the scale shape would go untested.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q_dedup_incremental")
      val scanLine = p.linesIterator.find(_.contains("graft_bandidx")).getOrElse("")
      assert(scanLine.contains("Bucketed: true"),
        s"history band index not read through its bucket layout:\n$scanLine")
      val bandKeyExchanges = p.linesIterator
        .count(_.matches(".*Exchange hashpartitioning\\(band#\\d+, key#\\d+.*"))
      assert(bandKeyExchanges == 1,
        s"expected exactly the batch-side (band, key) exchange, saw $bandKeyExchanges:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_mix_sources: allocation is bounded-frame work, thresholds broadcast") {
    val p = plan("q_mix_sources")
    // thresholds reach the doc scan via broadcast, never by re-shuffling it
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join should broadcast the sources-bounded alloc frame:\n$p")
    // the grand-total window must consume the per-source aggregate — its
    // single-partition exchange carries |sources| rows, not documents
    val lines = p.linesIterator.toVector
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0)
    val below = lines.drop(winIdx + 1)
    val aggIdx = below.indexWhere(_.contains("HashAggregate"))
    val scanIdx = below.indexWhere(_.contains("Scan parquet"))
    assert(aggIdx >= 0 && (scanIdx < 0 || aggIdx < scanIdx),
      s"allocation window consumes the raw scan, not the source counts:\n$p")
  }

  test("new joins never degrade to products (lm_quality, pq_rerank, orc)") {
    for (q <- Seq("q_lm_quality", "q_ann_pq_rerank", "q_orc_roundtrip")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a join product:\n$p")
    }
  }

  test("q_topk_per_group pushes a per-partition group limit below the shuffle") {
    assert(plan("q_topk_per_group").contains("WindowGroupLimit"))
  }

  test("q_range_join is a hash join on the bin key, never a nested loop") {
    val p = plan("q_range_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join fell back to a theta-join product")
  }

  test("q_asof_join is join-free (union+window) with dedup group limits") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), "as-of should be the union+window idiom, not a join")
    assert(p.contains("WindowGroupLimit"),
      "state dedup rn=1 should push a group limit below the shuffle")
  }

  /** True iff the (single-key) exchange matching `keyRe` is fed by a hash
    * aggregate, not the raw scan — the guard that a few-reducer window's
    * input is a pre-aggregated (domain-bounded) frame, not the data. The
    * plan prints parent-then-children, so the exchange's input subtree is
    * the lines after it; an aggregate line before the first scan line means
    * the shuffle carries aggregated rows. */
  private def exchangeFedByAggregate(p: String, keyRe: String): Boolean = {
    val lines = p.linesIterator.toVector
    val i = lines.indexWhere(_.matches(s".*Exchange hashpartitioning\\($keyRe.*"))
    i >= 0 && {
      val after = lines.drop(i + 1)
      val agg = after.indexWhere(l =>
        l.contains("HashAggregate") || l.contains("ObjectHashAggregate"))
      val scan = after.indexWhere(_.contains("Scan parquet"))
      agg >= 0 && (scan < 0 || agg < scan)
    }
  }

  /** The single-key event_type partitioning: exactly "(event_type#N, P)" —
    * no second grouping column riding along. */
  private val typeOnlyKey = "event_type#\\d+, \\d+\\)"

  test("q_percentiles windows rank the value histogram, not the raw rows") {
    val p = plan("q_percentiles")
    // The ~5-key event_type window partitioning would funnel the whole
    // table through ~5 reducers if it consumed the scan; it must consume
    // the groupBy(event_type, v) histogram (|distinct v| rows per type).
    assert(exchangeFedByAggregate(p, typeOnlyKey),
      s"event_type window shuffle is not fed by the histogram aggregate:\n$p")
    // histogram agg + window repartition + output range sort, nothing more
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 3, s"expected <= 3 exchanges, saw $exchanges:\n$p")
  }

  test("q_window_analytics ntile leg is histogram-ranked (no per-type sort)") {
    val p = plan("q_window_analytics")
    assert(!p.contains("ntile("),
      "builtin ntile would total-sort each event_type on one reducer")
    assert(p.contains("BroadcastHashJoin"),
      "the value histogram should broadcast back onto the events")
    // the only event_type-ONLY hash exchange belongs to the histogram
    // frame (aggregated input); rank shuffles go by (event_type, value)
    assert(exchangeFedByAggregate(p, typeOnlyKey),
      s"per-type shuffle is not fed by the histogram aggregate:\n$p")
  }

  test("q_quantile_sketch windows read the sketch, never the data") {
    val p = plan("q_quantile_sketch")
    val lines = p.linesIterator.toVector
    val lastWin = lines.lastIndexWhere(_.contains("Window"))
    assert(lastWin >= 0)
    val after = lines.drop(lastWin + 1)
    val gen = after.indexWhere(_.contains("Generate"))
    val scan = after.indexWhere(_.contains("Scan parquet"))
    // below the windows: the posexplode of the finished per-group sketch
    // (SketchBins rows/group), then the typed-Aggregator fold, then the scan
    assert(gen >= 0 && (scan < 0 || gen < scan),
      s"quantile read-off window consumes the raw table:\n$p")
  }

  test("q_search_matrix keeps top-N per (keyword, region) via group limits") {
    val p = plan("q_search_matrix")
    assert(p.contains("WindowGroupLimit"),
      "per-cell top-N should push a group limit below the shuffle")
    assert(p.contains("BroadcastHashJoin"), "region dim should broadcast")
  }

  test("q_word_topk pushes the limit into a TakeOrdered over the aggregate") {
    assert(plan("q_word_topk").contains("TakeOrderedAndProject"))
  }

  test("q_tfidf and q_simhash_pairs use group limits / hash joins, no products") {
    assert(plan("q_tfidf").contains("WindowGroupLimit"))
    for (q <- Seq("q_tfidf", "q_simhash_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains an all-pairs product")
    }
  }

  test("q_bucketed_join needs no hash-partition exchange (bucket co-location)") {
    val p = plan("q_bucketed_join")
    assert(!p.contains("Exchange hashpartitioning"),
      "join/aggregate re-shuffled despite the bucketed layout")
    assert(p.contains("SelectedBucketsCount"), "scan is not bucket-aware")
  }

  test("q_scan_meta prunes the file family at listing time (no row Filter)") {
    // The family predicate must be a pathGlobFilter (prunes files before a
    // byte is read), never a post-scan filter on input_file_name(). Scan
    // metadata prints as "PushedFilters:"/"DataFilters:" (plural, colon),
    // so "Filter " only matches an actual Filter operator node.
    val p = plan("q_scan_meta")
    assert(!p.contains("Filter "),
      s"q_scan_meta has a post-scan row filter:\n$p")
  }

  test("q_batched_lookup joins batched fetches, no per-id driver loop") {
    val p = plan("q_batched_lookup")
    assert(p.contains("BroadcastHashJoin"),
      "details lookup should broadcast at dim size")
    assert(p.contains("MapPartitions"),
      "the batched client call boundary should be a MapPartitions stage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_dedup_latest_salted equals the unsalted dedup row for row") {
    val salted = SparkEntry.queries("q_dedup_latest_salted")(spark, sfDir).collect()
    val plain = SparkEntry.queries("q_dedup_latest")(spark, sfDir).collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("q_centroids is a two-phase hash aggregate, no collected arrays") {
    val p = plan("q_centroids")
    assert(p.contains("HashAggregate"), "centroid sum should hash-aggregate")
    assert(!p.contains("collect_list") && !p.contains("ObjectHashAggregate"),
      "centroids must not buffer per-group value arrays (OOM at scale)")
  }

  test("q_pack_sequences shares one hash exchange between window and aggregate") {
    // hash(shard) clusters (shard, bin) too, so the bin aggregate must ride
    // the window's exchange; the only other exchange is the output sort's
    // range partitioning.
    val p = plan("q_pack_sequences")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected 1 hash exchange, saw $hashEx:\n$p")
  }

  test("q_sample_stratified is a narrow filter at the scan (no hash exchange)") {
    val p = plan("q_sample_stratified")
    assert(!p.contains("Exchange hashpartitioning"),
      s"sampling must not shuffle:\n$p")
  }

  test("q_zorder_layout buckets are tight rectangles (the pruning property)") {
    // An aligned 1024-cell slice of the 16-bit Z-curve is exactly a 32×32
    // square in (x, y) space — every bucket's bounding box must fit it.
    // That tightness is what lets file-level min/max stats prune on either
    // dimension after a z-sorted write.
    val rows = SparkEntry.queries("q_zorder_layout")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 31, s"x span loose in ${r}")
      assert(r.getLong(5) - r.getLong(4) <= 31, s"y span loose in ${r}")
    }
  }

  test("q_ann_pq scores the compressed index via broadcast tables only") {
    val p = plan("q_ann_pq")
    // encode and ADC both join a corpus-sized side to a broadcast table
    // (32-row codebook / 320-row distance table) — never a shuffled or
    // product join over vectors
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"),
      s"PQ scoring fell back to a product join:\n$p")
    // argmin-encode and ADC-sum must be two-phase hash aggregates, not
    // object aggregates buffering rows
    assert(!p.contains("ObjectHashAggregate"),
      "PQ encode/ADC should be plain HashAggregate")
  }

  test("q_pagerank reuses the materialized edge table across rounds") {
    val p = plan("q_pagerank")
    // the final round's output must execute against the materialized ranks
    // (its leaves are cached-table scans), never re-deriving the whole
    // 3-round lineage from the lineitem file scan
    assert(p.contains("InMemoryTableScan"),
      "edges should be served from the materialized table")
    val leaves = SparkEntry.queries("q_pagerank")(spark, sfDir)
      .queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.forall(_.nodeName.contains("InMemoryRelation")),
      s"uncached leaf in final plan: ${leaves.map(_.nodeName)}")
    // per-dst contribution sums are decimal hash aggregates
    assert(!p.contains("ObjectHashAggregate"))
  }

  test("q_bm25 aggregates tf map-side and broadcasts the corpus scalars") {
    val p = plan("q_bm25")
    // the one data-sized aggregate (doc_id, term) must have a partial
    // (map-side combine) phase; df/corpus stats join back as broadcasts
    assert(p.contains("partial_count"),
      "tf aggregate lost its map-side partial phase")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_bloom_join prunes via broadcast semi-joins, never a product") {
    val p = plan("q_bloom_join")
    assert(p.contains("LeftSemi"), "filter membership should be a semi-join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bloom probe degraded to a product join:\n$p")
  }

  test("q_triangles closes wedges with equi hash joins (no OR-join product)") {
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle closure degraded to a product join:\n$p")
  }

  test("no forced broadcast of the scale-proportional customer dim") {
    // nation (25 rows) may broadcast; the plan must not *hint* customer.
    // We assert on the analyzed plan: no ResolvedHint wrapping customer.
    val analyzed = SparkEntry.queries("q_agg_daily_region")(spark, sfDir)
      .queryExecution.analyzed.toString
    val hinted = analyzed.linesIterator.filter(_.contains("ResolvedHint")).toSeq
    assert(!hinted.exists(_.contains("customer")),
      "customer-sized dim is explicitly broadcast-hinted")
  }

  test("q_funnel stacks all three stage windows on ONE user_id exchange") {
    val p = plan("q_funnel")
    val userExchanges = p.linesIterator
      .count(_.matches(".*Exchange hashpartitioning\\(user_id#\\d+.*"))
    assert(userExchanges == 1,
      s"expected 1 user_id exchange shared by 3 windows + rollup, saw $userExchanges:\n$p")
    assert("Window".r.findAllMatchIn(p).size >= 3,
      s"expected the three stacked stage windows in one plan:\n$p")
  }

  test("q_chunk_cdc is a single narrow pass (no hash exchange at all)") {
    val p = plan("q_chunk_cdc")
    assert(!p.contains("Exchange hashpartitioning"),
      s"CDC chunking must not shuffle — boundaries are per-row work:\n$p")
    assert(p.contains("graft_chunks") || p.contains("chunkboundaries"),
      s"native chunk expression missing from the plan:\n$p")
  }

  test("q_domain_cap ranks via the histogram, never a per-source total sort") {
    val p = plan("q_domain_cap")
    // the only source-ONLY exchange must carry the aggregated length
    // histogram; the data-sized rank shuffle goes by (source, n_chars)
    assert(exchangeFedByAggregate(p, "source#\\d+, \\d+\\)"),
      s"per-source shuffle is not fed by the length histogram:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the pre-pruned histogram should broadcast back onto documents")
  }

  test("q_fuzzy_join candidates come from an equi-join, never all-pairs") {
    val p = plan("q_fuzzy_join")
    assert(!p.contains("CartesianProduct"),
      s"fuzzy join plan contains a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join plan contains a nested-loop join:\n$p")
    // canonical-block acceptance replaced the pair distinct: no exchange
    // may carry the (id_a, id_b) pair stream
    assert(!p.matches("(?s).*Exchange hashpartitioning\\(id_a#\\d+L, id_b#\\d+L.*"),
      s"pair stream must not shuffle (distinct crept back in):\n$p")
  }

  test("q_chi2 windows run over contingency cells, not raw rows") {
    val p = plan("q_chi2")
    assert(exchangeFedByAggregate(p, "lang#\\d+"),
      s"marginal windows must consume the (lang, source) cell aggregate:\n$p")
  }

  test("q_inverted_index heap-selects the top terms off the pruned vocabulary") {
    val p = plan("q_inverted_index")
    // the rank-≤-K window collapses to a per-partition top-K heap (no
    // single-partition exchange ever carries the vocabulary), and the
    // hapax Filter(df >= 2) sits below the heap so it sees the pruned
    // vocabulary, not the corpus
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-K should be a per-partition heap, not a full sort:\n$p")
    val lines = p.linesIterator.toVector
    val heap = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    val after = lines.drop(heap + 1)
    val filt = after.indexWhere(l => l.contains("Filter") && l.contains("df#"))
    val scan = after.indexWhere(_.contains("Scan parquet"))
    assert(filt >= 0 && (scan < 0 || filt < scan),
      s"hapax filter must feed the top-K heap:\n$p")
  }

  test("q_cdc_diff reconciles snapshots with one co-partitioned full-outer join") {
    val p = plan("q_cdc_diff")
    // the diff itself must be the key-partitioned equi full-outer join;
    // the 1-row max(k) offset broadcast (IdentityBroadcastMode under a
    // keyless aggregate) is the one nested-loop allowed in this plan
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"snapshot diff needs an equi full-outer join:\n$p")
    assert(!p.matches("(?s).*BroadcastNestedLoopJoin[^,]*, FullOuter.*"),
      "the snapshot diff must not degrade to a nested-loop full-outer")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size
    assert(bnlj <= 1 && (bnlj == 0 || p.contains("IdentityBroadcastMode")),
      s"only the scalar offset broadcast may nested-loop:\n$p")
  }

  test("q_ngram_lm reads the corpus once and heap-selects the top-K") {
    val p = plan("q_ngram_lm")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-K should be a per-partition heap, not a full sort:\n$p")
    // both join branches must read the materialized bigram frame (the
    // cached relation prints its own lineage, so count table scans of the
    // cache rather than parquet scans inside the description)
    val cacheReads = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(cacheReads >= 2,
      s"bigram frame must be materialized and reused by both branches:\n$p")
  }

  test("q_spearman windows rank histograms only; rank maps broadcast back") {
    val p = plan("q_spearman")
    assert(exchangeFedByAggregate(p, typeOnlyKey),
      s"rank window input is not the aggregated histogram:\n$p")
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 2,
      s"both rank maps should broadcast onto the rows:\n$p")
  }

  test("q_session_paths shares one user exchange across windows and pivot") {
    val p = plan("q_session_paths")
    val userExchanges = p.linesIterator
      .count(_.matches(".*Exchange hashpartitioning\\(user_id#\\d+.*"))
    assert(userExchanges == 1,
      s"session windows + prefix pivot must share one exchange, saw $userExchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "path top-K should be a per-partition heap")
  }

  test("q_ab_lift assigns arms at the scan (no assignment-table join)") {
    val p = plan("q_ab_lift")
    assert(!p.contains("Join"), s"hash assignment must not join:\n$p")
  }

  test("q_churn joins the distinct week frame with equi hash joins only") {
    val p = plan("q_churn")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"week-over-week comparison must stay an equi join:\n$p")
  }

  test("q_twap shares the user exchange between the lead window and rollup") {
    val p = plan("q_twap")
    val userExchanges = p.linesIterator
      .count(_.matches(".*Exchange hashpartitioning\\(user_id#\\d+.*"))
    assert(userExchanges == 1,
      s"lead window and (user, day) rollup must share one exchange:\n$p")
  }

  test("q_unpivot expands AFTER aggregation (flags-bounded, not data-sized)") {
    val p = plan("q_unpivot")
    val lines = p.linesIterator.toVector
    val expand = lines.indexWhere(_.contains("Expand"))
    assert(expand >= 0, s"native unpivot should plan an Expand:\n$p")
    val below = lines.drop(expand + 1)
    val agg = below.indexWhere(_.contains("HashAggregate"))
    val scan = below.indexWhere(_.contains("Scan parquet"))
    assert(agg >= 0 && (scan < 0 || agg < scan),
      s"Expand must consume the aggregated frame, not the scan:\n$p")
  }

  test("q_embed_quantize encodes against a broadcast scale (no per-row join)") {
    val p = plan("q_embed_quantize")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "dim stats should attach as a single broadcast row")
    // per-dim stats must be aggregated before broadcast: no second
    // data-sized exchange beyond the stats aggregate + final sort
    assert(exchangeFedByAggregate(p, "") || p.contains("BroadcastExchange"),
      s"stats side is not an aggregated frame:\n$p")
  }

  test("q_winsorize: clamped rollup reads the cached histogram, thresholds broadcast") {
    val p = plan("q_winsorize")
    // both consumers (threshold window + clamped sum) read the persisted
    // histogram, so a refactor can't silently re-scan the corpus twice.
    // (InMemoryRelation's rendering embeds the original FileScan, so count
    // the cache READS rather than asserting the scan string's absence.)
    val cacheReads = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(cacheReads >= 2,
      s"both histogram consumers should read the cache, saw $cacheReads:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"5-row threshold frame should broadcast onto the histogram:\n$p")
  }

  test("q_pseudonymize / q_pps_sample / q_table_checksum are single-scan, single-agg programs") {
    for ((q, table) <- Seq(("q_pseudonymize", "events.parquet"),
        ("q_pps_sample", "documents.parquet"),
        ("q_table_checksum", "orders.parquet"))) {
      val p = plan(q)
      val scans = p.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains(table))
      assert(scans == 1, s"$q: expected one $table scan, saw $scans:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q: tokenization/membership must be inline, not a join:\n$p")
    }
  }

  test("q_grouping_sets expands BEFORE the partial aggregate (one pass)") {
    val p = plan("q_grouping_sets")
    val lines = p.linesIterator.toVector
    val expand = lines.indexWhere(_.contains("Expand"))
    assert(expand >= 0, s"grouping sets should plan an Expand:\n$p")
    // exactly one data-sized exchange: the partial-agg shuffle on the
    // expanded grouping keys (plus nothing else data-wide)
    val exchanges = lines.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"grouping-sets report should shuffle once (partials), saw $exchanges:\n$p")
  }

  test("q_skyline: no quadratic dominance join, no global window") {
    val p = plan("q_skyline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dominance must come from the scan primitive, not an all-pairs join:\n$p")
    // the only Window anywhere would be a single-partition global sort
    // funnel — the scan primitive replaces it entirely
    assert(!p.contains("Window ["),
      s"skyline must not plan a window:\n$p")
  }

  test("q_substr_dupes: native winnow — no window, no sort, one exchange") {
    val p = plan("q_substr_dupes")
    // the native graft_winnow expression selects positions inside the
    // scan stage; the declarative window formulation (explode-all +
    // string window min + filter) must NOT be planned
    assert(p.contains("graft_winnow"),
      s"winnow must run through the native expression:\n$p")
    assert(!p.contains("Window ["),
      s"native winnow must not plan a window exec:\n$p")
    // only selected positions become rows, so the sole wide op is the
    // gram aggregate: below (after, top-down) the LAST HashAggregate
    // there must be neither a Sort nor a round-trip repartition of texts
    val lines = p.linesIterator.toSeq
    val lastAgg = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(lastAgg >= 0, s"expected the gram HashAggregate:\n$p")
    val below = lines.drop(lastAgg + 1)
    assert(!below.exists(l => l.contains("Sort ") || l.contains("REPARTITION")),
      s"nothing below the gram aggregate may sort or repartition:\n$p")
  }

  test("q_corr_matrix: one scan, one aggregate pair, no join") {
    val p = plan("q_corr_matrix")
    // all k + k(k+1)/2 moments must come from a SINGLE two-phase
    // aggregate over one scan — never per-pair jobs or a self-join
    assert(!p.contains("Join"), s"moment matrix must not join:\n$p")
    val nAgg = p.linesIterator.count(_.contains("HashAggregate"))
    assert(nAgg == 2, s"expected one partial+final aggregate pair, got $nAgg:\n$p")
    assert(p.linesIterator.count(_.contains("parquet")) <= 2,
      s"moment matrix must scan lineitem once:\n$p")
  }

  test("q_bpe_pairs: corpus collapses to vocab before the pair explode") {
    val p = plan("q_bpe_pairs")
    val lines = p.linesIterator.toSeq
    // plans print top-down: the vocab aggregate must sit BELOW (after)
    // the pair Generate — i.e. the explode consumes aggregated words,
    // not corpus tokens
    val gen = lines.indexWhere(l => l.contains("Generate explode") &&
      l.contains("sequence"))
    assert(gen >= 0, s"expected the pair-position Generate:\n$p")
    assert(lines.drop(gen).exists(_.contains("HashAggregate")),
      s"pair explode must consume the vocab aggregate, not raw tokens:\n$p")
    assert(!p.contains("Join"), s"BPE counting must not join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K must be a TakeOrdered, not a global sort:\n$p")
  }

  test("q_autocorr: events collapse to the date domain before lag pairing") {
    val p = plan("q_autocorr")
    // the daily aggregate is materialized once and feeds both pairing
    // sides through the cache (each InMemoryRelation PRINTOUT repeats the
    // cached subtree's scan line, so count cache reads, not scan lines)
    assert(p.contains("InMemoryTableScan"),
      s"lag pairing must consume the materialized daily frame:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"lag fan-out must be a broadcast, not a cartesian:\n$p")
  }

  test("q_rrf_fusion / q_hard_negatives: no cartesian; queries broadcast") {
    for (q <- Seq("q_rrf_fusion", "q_hard_negatives")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must broadcast its query side:\n$p")
      assert(p.contains("Broadcast"),
        s"$q's query side must be a broadcast:\n$p")
    }
  }

  test("q_kshot_sample: rank limit pushes into WindowGroupLimit") {
    val p = plan("q_kshot_sample")
    // each partition must pre-prune to its own top-k per label before the
    // exchange — the map-side top-k that keeps exact-k sampling off the
    // per-label sort funnel
    assert(p.contains("WindowGroupLimit"),
      s"k-shot rank filter must compile to WindowGroupLimit:\n$p")
  }

  test("q_wau: window expansion is generator-based, never a calendar join") {
    val p = plan("q_wau")
    assert(p.contains("Generate explode"),
      s"activity days must expand via a generator:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no data-sized join belongs in the WAU ledger:\n$p")
  }

  test("q_skew_join: AQE's skew split engages on the sentinel partition; plain variant stays unsplit") {
    import graft.operators.Joins
    // sf0.001's hot partition is a few KB, so scope the byte thresholds
    // below it — same mechanism the gated query scales for sf0.1 bytes.
    // 32 shuffle partitions (the spec session defaults to 4): with only 4,
    // the uniform remainder inflates every partition and the hot one no
    // longer exceeds median × factor — exactly how skew hides on
    // under-partitioned shuffles.
    val tiny = Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2048",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024")
    def executed(extra: (String, String)*): String = {
      spark.catalog.clearCache()
      graft.engine.Conf.scoped(spark,
        (Joins.skewScaleConfs ++ tiny ++ extra): _*) {
        val df = Joins.skewJoinPlan(spark, sfDir)
        df.collect()
        df.queryExecution.executedPlan.toString
      }
    }
    val split = executed()
    assert(split.contains("skew=true"),
      s"AQE skew split did not engage:\n${split.take(4000)}")
    val plain = executed("spark.sql.adaptive.skewJoin.enabled" -> "false")
    assert(!plain.contains("skew=true"),
      s"skew split engaged with skewJoin disabled:\n${plain.take(4000)}")
  }

  test("round-7 pair generators never degrade to cartesian/all-pairs") {
    for (q <- Seq("q_setsim_prefix", "q_ra_links")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plan contains a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a nested-loop join")
    }
    // BFS's local path broadcasts the 1-row seed frame (keyless aggregate
    // → IdentityBroadcastMode) — the one nested-loop allowed, same rule
    // as q_cdc_diff's scalar offset
    val p = plan("q_bfs_levels")
    assert(!p.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size
    assert(bnlj <= 1 && (bnlj == 0 || p.contains("IdentityBroadcastMode")),
      s"only the 1-row seed broadcast may nested-loop:\n$p")
  }

  test("q_ewma: one user_id exchange serves the rank window and the aggregate") {
    // Window partitioning satisfies the groupBy clustering (same key), so
    // the plan must hold exactly ONE user_id hash exchange.
    val p = plan("q_ewma")
    val userExchanges = p.linesIterator
      .count(_.matches(".*Exchange hashpartitioning\\(user_id#\\d+.*"))
    assert(userExchanges === 1,
      s"expected one user_id exchange, got $userExchanges:\n$p")
  }

  test("q_attribution: both window frames ride one user_id exchange, no self-join") {
    val p = plan("q_attribution")
    // last-touch and first-touch are frames of the same window spec — one
    // Window exec evaluates both above one exchange, and the attributed
    // frame is MATERIALIZED before fanning out to the two model rollups,
    // so both consumers print the SAME cached subtree (its AQE dump shows
    // the executed exchange plus its never-run Initial Plan twin — hence
    // <= 2 distinct ids). Unmaterialized, the subtree would be cloned per
    // branch: no InMemoryTableScan and 4 distinct exchange ids.
    assert(p.contains("InMemoryTableScan"),
      "attributed frame must be materialized before the two model rollups")
    val userExchanges = p.linesIterator
      .filter(_.matches(".*Exchange hashpartitioning\\(user_id#\\d+.*"))
      .map(_.trim).toSet.size
    assert(userExchanges <= 2,
      s"attributed subtree cloned per model branch ($userExchanges distinct user_id exchanges)")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "attribution must not self-join the event table")
  }

  test("q_setsim_prefix: the df-join is a shuffle join, never a vocab broadcast") {
    // The shingle vocabulary grows with the corpus — broadcasting the df
    // side would ship a corpus-proportional table to every task at 100 TB.
    // The prefix/verify joins on bounded keys MAY broadcast; the df join
    // keys on the raw shingle hash `w` with a count aggregate beneath, so
    // assert no BroadcastExchange feeds a HashAggregate-derived frame.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q_setsim_prefix")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Every single-partition exchange in `p` (the global-window funnels)
    * must carry aggregated rows, never the scan — the X22 histogram rule
    * for partitionBy() windows. */
  private def singlePartitionFedByAggregate(p: String): Boolean = {
    val lines = p.linesIterator.toVector
    val idxs = lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition")).map(_._2)
    idxs.nonEmpty && idxs.forall { i =>
      val after = lines.drop(i + 1)
      val agg = after.indexWhere(l =>
        l.contains("HashAggregate") || l.contains("ObjectHashAggregate"))
      val scan = after.indexWhere(_.contains("Scan parquet"))
      agg >= 0 && (scan < 0 || agg < scan)
    }
  }

  test("drift/audit/pareto/survival report windows walk histograms, not rows") {
    for (q <- Seq("q_tvd_drift", "q_benford", "q_abc_pareto", "q_survival")) {
      val p = plan(q)
      assert(singlePartitionFedByAggregate(p),
        s"$q: a global window consumes un-aggregated rows:\n$p")
    }
  }

  test("q_survival: only the 1-row observation-end broadcast may nested-loop") {
    val p = plan("q_survival")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size
    assert(bnlj <= 1 && !p.contains("CartesianProduct"),
      s"life table must not cross-join data-sized frames:\n$p")
  }

  test("q_rfm: ledger materialized once; only 1-row frames nested-loop") {
    val p = plan("q_rfm")
    // the customer ledger feeds 4 consumers (3 metric histograms + the
    // scoring pass) — materialized, not recomputed per branch
    assert(p.contains("InMemoryTableScan"),
      s"RFM ledger must be materialized once:\n$p")
    // the only nested-loop joins are the 1-row broadcasts: the three
    // quintile-threshold frames (the end-date join lives inside the
    // cached ledger). Count the TOP-LEVEL plan only — the cached
    // relation's stored dump re-prints its own subtree below.
    val topLevel = p.linesIterator
      .takeWhile(!_.contains("InMemoryRelation")).toVector
    assert(topLevel.count(_.contains("BroadcastNestedLoopJoin")) <= 3 &&
      !p.contains("CartesianProduct"),
      s"RFM must not cross-join data-sized frames:\n$p")
    assert(singlePartitionFedByAggregate(p),
      s"threshold windows must walk metric histograms, not customers:\n$p")
  }

  test("q_window_funnel: stage layers stack on one user_id exchange") {
    val p = plan("q_window_funnel")
    val userExchanges = p.linesIterator
      .count(_.matches(".*Exchange hashpartitioning\\(user_id#\\d+.*"))
    assert(userExchanges === 1,
      s"expected one user_id exchange, got $userExchanges:\n$p")
  }

  test("q_seasonal_anomaly: median window walks the calendar-day frame") {
    val p = plan("q_seasonal_anomaly")
    // the per-weekday rank window consumes the cached daily fold (its
    // exchange reads the InMemoryTableScan, not a raw parquet scan)
    assert(exchangeFedByAggregate(p, "dow#\\d+") ||
      p.contains("InMemoryTableScan"),
      s"weekday median must rank the daily frame, not raw orders:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 7-row median frame must broadcast back:\n$p")
  }

  test("q_boxplot: rank windows and fence census walk the value histogram") {
    val p = plan("q_boxplot")
    assert(exchangeFedByAggregate(p, typeOnlyKey),
      s"q_boxplot must shuffle the histogram, not the rows:\n$p")
  }

  test("q_trend_movers: equi-join + heap top-k, never a catalog sort") {
    val p = plan("q_trend_movers")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_poststrat: one equi-join, no cartesian, sample predicate in-scan") {
    val p = plan("q_poststrat")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the hash-slice predicate must not appear as a separate exchange-fed
    // filter stage on orders: it rides the customer projection
    assert(p.contains("md5"), s"hash-slice predicate missing:\n$p")
  }

  test("q_kmv_intersect / q_gini / q_assortativity plan shapes hold") {
    val pk = plan("q_kmv_intersect")
    // two 1-row sketch frames meet in the one permitted nested-loop
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(pk).size <= 1 &&
      !pk.contains("CartesianProduct"),
      s"sketch algebra must join 1-row frames only:\n$pk")
    val pg = plan("q_gini")
    assert(singlePartitionFedByAggregate(pg),
      s"gini rank walk must consume the spend histogram:\n$pg")
    val pa = plan("q_assortativity")
    assert(!pa.contains("CartesianProduct") &&
      !pa.contains("BroadcastNestedLoopJoin"),
      s"assortativity joins must stay equi:\n$pa")
    assert(pa.contains("InMemoryTableScan"),
      s"edge frame must be materialized for its three consumers:\n$pa")
  }

  test("q_cusum / q_bursts windows walk calendar-domain frames") {
    val pc = plan("q_cusum")
    assert(singlePartitionFedByAggregate(pc),
      s"cusum scan must walk the daily fold, not raw orders:\n$pc")
    val pb = plan("q_bursts")
    // both the median histogram and the island rank ride type-keyed
    // exchanges fed by the cached daily fold, never the event scan
    assert(pb.contains("InMemoryTableScan"),
      s"bursts daily frame must be materialized for its consumers:\n$pb")
    assert(!pb.contains("CartesianProduct"))
  }

  test("q_kcore: peel rounds are equi-joins off materialized edge frames") {
    val p = plan("q_kcore")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"peeling must stay equi-join-shaped:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"per-round edge frames must be materialized:\n$p")
  }

  test("q_kanon / q_disorder / q_cohort_ltv ride bounded exchanges") {
    val pk = plan("q_kanon")
    assert(!pk.contains("CartesianProduct") &&
      !pk.contains("BroadcastNestedLoopJoin"),
      s"kanon joins must stay equi:\n$pk")
    val pd = plan("q_disorder")
    // the running max must ride ONE user_id exchange — a per-type
    // ordering would funnel the table through a handful of reducers
    val userExchanges = pd.linesIterator
      .count(_.matches(".*Exchange hashpartitioning\\(user_id#\\d+.*"))
    assert(userExchanges === 1,
      s"disorder must ride one user_id exchange, got $userExchanges:\n$pd")
    val pl = plan("q_cohort_ltv")
    assert(pl.linesIterator.count(
      _.matches(".*Exchange hashpartitioning\\(user_id#\\d+.*")) === 1,
      s"cohort ltv first-touch must ride one user_id exchange:\n$pl")
  }

  test("q_above_avg: decorrelated aggregate broadcasts; q_trailing_range walks the day frame") {
    val pa = plan("q_above_avg")
    assert(pa.contains("BroadcastHashJoin"),
      s"the per-nation aggregate must broadcast back:\n$pa")
    assert(!pa.contains("CartesianProduct") &&
      !pa.contains("BroadcastNestedLoopJoin"))
    val pt = plan("q_trailing_range")
    assert(singlePartitionFedByAggregate(pt),
      s"the RANGE frame must consume the daily fold:\n$pt")
  }

  test("q_weighted_median: rank walk consumes the weight histogram") {
    val p = plan("q_weighted_median")
    assert(exchangeFedByAggregate(p, "l_returnflag#\\d+, \\d+\\)"),
      s"weighted rank walk must shuffle the bucket histogram, not rows:\n$p")
  }

  test("q_knn_graph: candidates are bucket-joined, never corpus-cross") {
    val p = plan("q_knn_graph")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"kNN-graph candidates must come from bucket equi-joins:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the signature frame must be materialized for both join sides:\n$p")
  }

  test("q_range_planner: histogram-fed walk; N-row boundary broadcast only") {
    val p = plan("q_range_planner")
    assert(singlePartitionFedByAggregate(p),
      s"boundary walk must consume the key histogram:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size
    assert(bnlj <= 1 && !p.contains("CartesianProduct"),
      s"only the 1-row boundary frame may nested-loop:\n$p")
  }

  test("q_lorenz / q_growth_accounting ride bounded frames") {
    val pl = plan("q_lorenz")
    assert(singlePartitionFedByAggregate(pl),
      s"lorenz decile walk must consume the spend histogram:\n$pl")
    val pg = plan("q_growth_accounting")
    assert(pg.contains("InMemoryTableScan"),
      s"(user, week) frame must be materialized for lag/lead + churn:\n$pg")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(pg).size
    assert(bnlj <= 1 && !pg.contains("CartesianProduct"),
      s"only the 1-row max-week broadcast may nested-loop:\n$pg")
  }

  test("q_mode walks the histogram; q_string_agg prunes via a rank heap") {
    val pm = plan("q_mode")
    assert(exchangeFedByAggregate(pm, typeOnlyKey),
      s"mode argmax must consume the value histogram:\n$pm")
    val ps = plan("q_string_agg")
    assert(ps.contains("WindowGroupLimit"),
      s"the rank<=N filter must prune via a per-group heap BEFORE collect:\n$ps")
  }

  test("q_hits: edge frame materialized once; all rank passes equi-join") {
    val p = plan("q_hits")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"HITS passes must stay equi-join-shaped:\n$p")
    // 4 score passes + the top-K legs all read the one cached edge frame
    assert(p.contains("InMemoryTableScan"),
      s"edges must be materialized once and reused:\n$p")
  }

  test("paged-source queries: pure aggregates over the fetch, DSv2 scan present") {
    for (q <- Seq("q_source_paged", "q_source_dsv2")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q must be fetch → two-level aggregate, no join at all:\n$p")
    }
    // the DSv2 leg must actually go through the connector scan node
    assert(plan("q_source_dsv2").contains("BatchScan"),
      "q_source_dsv2 must read through the DataSourceV2 BatchScan")
  }
  test("round-9 ops: no products, histogram/candidate discipline holds") {
    // candidate generation and window math never degrade to all-pairs or
    // data-sized frames. The no-BNLJ assertion applies only to queries
    // without the 1-row-broadcast crossJoin idiom (itemsets3 / waterfall
    // / shard_assign broadcast a 1-row totals frame, which PLANS as a
    // BuildRight-Cross BNLJ of one row — the suite-approved global-moment
    // pattern, not a product).
    for (q <- Seq("q_dedup_containment", "q_itemsets3", "q_trailing_p90",
        "q_quality_waterfall", "q_ngram_novelty", "q_shard_assign")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plan contains a cartesian product:\n$p")
    }
    for (q <- Seq("q_dedup_containment", "q_trailing_p90",
        "q_ngram_novelty")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a nested-loop join:\n$p")
    }
    // itemsets3: the L2 membership and candidate checks must be
    // broadcast semi-joins (infrequent brands pruned map-side, the
    // Apriori point), and the triple extend must not re-shuffle the
    // basket key it inherited from the materialized pair frame
    val i3 = plan("q_itemsets3")
    assert(i3.contains("BroadcastHashJoin") &&
      i3.matches("(?s).*BroadcastHashJoin.*LeftSemi.*"),
      s"itemsets3 must prune via broadcast semi-joins:\n$i3")
    // trailing p90: the rank walk windows over the fanned histogram —
    // whose key is (event_type, day) — never over raw event rows
    val tp = plan("q_trailing_p90")
    assert(tp.matches(
      "(?s).*Window.*windowspecdefinition\\(event_type#\\d+, day#\\d+,.*"),
      s"trailing p90 window must partition by (event_type, day):\n$tp")
  }

  test("q_avro_roundtrip aggregates through the same rollup shape as the other legs") {
    // the avro leg runs through RDD scan nodes (core-library reader);
    // the aggregate must still be two-phase (map-side partial + final),
    // whatever physical form the planner picks for the decimal sum
    val p = plan("q_avro_roundtrip")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"avro rollup lost its map-side partial aggregation:\n$p")
  }

  test("round-10 ops: broadcast/window/product discipline holds") {
    // impute: the group-means fill must come back as a BROADCAST join —
    // a sort-merge exchange on the 5-value group key would shuffle the
    // firehose to deliver 5 numbers
    val imp = plan("q_impute")
    assert(imp.contains("BroadcastHashJoin") && !imp.contains("SortMergeJoin"),
      s"impute means must broadcast back:\n$imp")
    // training examples: the data-sized window partitions by user_id
    // (the sessionize shuffle); the share window runs on the bounded
    // (ctx,label) rollup after aggregation
    val tex = plan("q_training_examples")
    assert(tex.matches("(?s).*Window.*windowspecdefinition\\(user_id#\\d+L?,.*"),
      s"training-example lags must window over user_id:\n$tex")
    // DiD: a classify pass + 4-cell aggregate + 1-row broadcast — no
    // data-sized join of any kind
    val did = plan("q_did")
    assert(!did.contains("SortMergeJoin") && !did.contains("CartesianProduct"),
      s"DiD must not join data-sized sides:\n$did")
    // curation pipeline + readability + AUC: straight-line aggregates,
    // no products, no nested loops on data-sized sides
    for (q <- Seq("q_curation_pipeline", "q_readability", "q_auc")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q must stay join-free:\n$p")
    }
    // cluster purity: the centroid side rides a broadcast (the |labels|-
    // row build side), never a shuffle join against the corpus
    val cp = plan("q_cluster_purity")
    assert(cp.contains("Broadcast") && !cp.contains("SortMergeJoin"),
      s"cluster purity centroids must broadcast:\n$cp")
  }

  test("X225-X233 ops: join/window/verify discipline holds") {
    // pr_auc: the PR walk windows over the (cohort, pm) HISTOGRAM —
    // partition key must be cohort (histogram-sized input), and nothing
    // joins data-sized sides
    val pr = plan("q_pr_auc")
    assert(pr.matches("(?s).*Window.*windowspecdefinition\\(cohort#\\d+L?,.*"),
      s"pr_auc windows must partition by cohort:\n$pr")
    assert(!pr.contains("SortMergeJoin") && !pr.contains("CartesianProduct"),
      s"pr_auc must stay on the histogram frame:\n$pr")
    // edit_pairs: candidates come from the signature EQUI-join (never a
    // product or nested loop), and the exact levenshtein verify runs
    // after candidate generation
    val ep = plan("q_edit_pairs")
    assert(!ep.contains("CartesianProduct") &&
      !ep.contains("BroadcastNestedLoopJoin"),
      s"edit_pairs must candidate via the signature equi-join:\n$ep")
    assert(ep.contains("levenshtein"),
      s"edit_pairs must verify candidates with exact levenshtein:\n$ep")
    // itemcf: owner counts come back via broadcast; the only data-sized
    // shuffle is the customer-keyed layout
    val cf = plan("q_itemcf")
    assert(cf.contains("BroadcastHashJoin") && !cf.contains("CartesianProduct"),
      s"itemcf owner counts must broadcast:\n$cf")
    // target_encode: group moments broadcast back over the second scan
    // (the impute discipline — never a 5-key sort-merge of the firehose)
    val te = plan("q_target_encode")
    assert(te.contains("BroadcastHashJoin") && !te.contains("SortMergeJoin"),
      s"target_encode moments must broadcast back:\n$te")
    // feature_hash: the multi-distinct aggregate must keep map-side
    // partials (expand + partial agg), and no join exists at all
    val fh = plan("q_feature_hash")
    assert(fh.contains("partial_count") && fh.contains("Expand") &&
      !fh.contains("Join"),
      s"feature_hash must be a join-free expand aggregate:\n$fh")
    // crosscorr: the lag pairing runs on the calendar-bounded daily
    // frame — no cartesian product anywhere (the 15-row lag frame rides
    // the approved broadcast idiom)
    val cc = plan("q_crosscorr")
    assert(!cc.contains("CartesianProduct"),
      s"crosscorr must not degrade to a product:\n$cc")
  }

  test("X234-X238 ops: mechanism/selection plans keep their shuffle discipline") {
    // randomized response: the mechanism is a narrow projection into a
    // date-bounded aggregate — joining anything would mean the privacy
    // noise left the scan
    val rr = plan("q_rand_response")
    assert(!rr.contains("Join"),
      s"rand_response must be a join-free narrow aggregate:\n$rr")
    // quantile normalize: the value-domain frames ride broadcasts, the
    // group CDF windows by g — never a data-sized sort-merge
    val qn = plan("q_quantile_normalize")
    assert(qn.contains("BroadcastHashJoin") ||
      qn.contains("BroadcastNestedLoopJoin"),
      s"quantile_normalize rank join must broadcast:\n$qn")
    assert(!qn.contains("SortMergeJoin") && !qn.contains("CartesianProduct"),
      s"quantile_normalize must stay on bounded frames:\n$qn")
    // MMR: three window-argmax rounds on query-bounded frames — no
    // product anywhere despite the pairwise-similarity self-join
    val mm = plan("q_mmr")
    assert(!mm.contains("CartesianProduct"),
      s"mmr must not degrade to a product:\n$mm")
    // association rules: marginals broadcast; the only data shuffle is
    // X65's basket-keyed layout
    val ar = plan("q_assoc_rules")
    assert(ar.contains("BroadcastHashJoin") && !ar.contains("CartesianProduct"),
      s"assoc_rules marginals must broadcast:\n$ar")
    // boilerplate: one data-sized frequency join is expected; a product
    // never is
    val bp = plan("q_boilerplate")
    assert(!bp.contains("CartesianProduct") &&
      !bp.contains("BroadcastNestedLoopJoin"),
      s"boilerplate frequency join must stay an equi-join:\n$bp")
  }

  test("X244-X251 ops: candidate/histogram/broadcast discipline holds") {
    // heavy hitters: the candidate set broadcasts back onto the word
    // stream (a sort-merge would mean the vocabulary shuffled — the exact
    // cost the MG pass exists to avoid)
    val hh = plan("q_heavy_hitters")
    assert(hh.contains("BroadcastHashJoin"),
      s"heavy_hitters verify pass must broadcast the candidates:\n$hh")
    assert(!hh.contains("SortMergeJoin") && !hh.contains("CartesianProduct"),
      s"heavy_hitters must never shuffle the vocabulary:\n$hh")
    // decile lift: every window runs over the ≤1000-bucket histogram —
    // the aggregate must sit BELOW the first window in the plan
    val dl = plan("q_decile_lift")
    val aggIdx = dl.indexOf("HashAggregate")
    val winIdx = dl.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < dl.lastIndexOf("HashAggregate"),
      s"decile_lift windows must consume the histogram, not raw rows:\n$dl")
    assert(!dl.contains("SortMergeJoin") && !dl.contains("CartesianProduct"))
    // conformal: predictor and q-hat ride broadcasts; three narrow scans,
    // never a data-sized sort-merge join
    val cf = plan("q_conformal")
    assert(cf.contains("BroadcastHashJoin"),
      s"conformal predictor join must broadcast:\n$cf")
    assert(!cf.contains("SortMergeJoin"),
      s"conformal must not sort-merge the event stream:\n$cf")
    // IPS: the whole estimator is one narrow pass into a day-bounded
    // aggregate — joining anything means the propensity left the scan
    val ips = plan("q_ips")
    assert(!ips.contains("Join"),
      s"ips must be a join-free narrow aggregate:\n$ips")
    // BPE training: rounds run on the vocab frame; the argmax must be a
    // top-1 TakeOrdered, never a global sort
    val bt = plan("q_bpe_train")
    assert(bt.contains("TakeOrderedAndProject"),
      s"bpe_train argmax must be TakeOrdered(1):\n$bt")
    assert(!bt.contains("CartesianProduct"))
    // PSM: rank windows partition by (bucket, sub, arm); the pair join is
    // an equi-join on the stratum key and the ATT broadcast is the only
    // nested-loop
    val ps = plan("q_psm")
    assert(!ps.contains("CartesianProduct"),
      s"psm must not degrade to a product:\n$ps")
    // DP release: the day histogram is the only aggregate input; the
    // ladder is pure projection (no join for the noise draw)
    val dp = plan("q_dp_release")
    assert(!dp.contains("SortMergeJoin") && !dp.contains("CartesianProduct"),
      s"dp_release noise must stay in the projection:\n$dp")
  }

  test("X256/X259/X260: estimator plans keep their fold-first discipline") {
    // IV: one user fold, a 2-row cell aggregate, one broadcast — never a
    // data-sized join
    val iv = plan("q_iv")
    assert(!iv.contains("SortMergeJoin") && !iv.contains("CartesianProduct"),
      s"iv must stay fold + broadcast:\n$iv")
    // Qini: both cumulative window passes consume the per-mille histogram
    // (an aggregate sits below the first window), and nothing joins
    val qn = plan("q_qini")
    val aggIdx = qn.indexOf("HashAggregate")
    val winIdx = qn.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 &&
      winIdx < qn.lastIndexOf("HashAggregate"),
      s"qini windows must consume the histogram, not raw rows:\n$qn")
    assert(!qn.contains("SortMergeJoin") && !qn.contains("CartesianProduct"))
    // Theil-Sen: the pairwise range join is DELIBERATE on the
    // calendar-bounded daily frame — assert the join consumes aggregated
    // inputs (a HashAggregate beneath it), and the median walks a
    // slope-HISTOGRAM (a second aggregate below the rank window)
    val ts = plan("q_theil_sen")
    assert(ts.contains("BroadcastNestedLoopJoin"),
      s"theil_sen pair join should broadcast the bounded daily frame:\n$ts")
    assert(ts.contains("HashAggregate"),
      s"theil_sen must fold to the daily frame before pairing:\n$ts")
  }
}
