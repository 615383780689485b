package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Materialize, Num, Tables}
import graft.functions.KmvSketch

/** Distribution statistics for the LLM-data-pipeline (SURVEY.md §2.11):
  * exact discrete percentiles and a KMV approximate-distinct sketch. Both
  * extend the reference's report surface (histograms + scalar counts,
  * /root/reference/src/youtube_collector.py:241-268,
  * src/snowflake_loader.py:166-171) to the shapes a corpus-curation job
  * needs at scale.
  */
object Stats {

  /** `q_percentiles`: exact DISCRETE percentiles (p50/p90 as the value at
    * rank ceil(q·n) of the sorted multiset) per event_type over
    * floor(value). Engine quantile builtins differ in interpolation rules
    * across engines, so BOTH sides state the rank-selection definition
    * explicitly — integer arithmetic end to end.
    *
    * Plan: VALUE-HISTOGRAM pre-aggregation. `partitionBy(event_type)` over
    * the raw table would funnel every row through ~5 reducers (the canonical
    * skewed-window scale-killer); instead the table folds to
    * groupBy(event_type, v) counts FIRST — a two-phase, map-side-combined
    * hash aggregate — and the window ranks only the distinct-value frame:
    * cum(v) = rows at-or-below v, so the rank-r value is min v with
    * cum(v) >= r. Reducer input drops from |rows| to |distinct v| per type
    * (bounded by the value domain, not the data volume), which is what
    * survives 100 TB. Same output, same oracle as the row-rank form. */
  def percentilesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val v = floor(col("value")).cast("long")
    val byV = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val all = Window.partitionBy(col("event_type"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), v.as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(Num.countStar.as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(byV))
      .withColumn("n", sum(col("cnt")).over(all))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_events"),
        min(col("v")).as("min_v"),
        // `/` on Columns is double division; the cast("long") truncation
        // makes it the integer ceil-rank formula (operands are positive).
        // cum is cumulative count through v, so the first v whose cum
        // reaches the rank IS the rank-r element of the sorted multiset.
        min(when(col("cum") >= ((col("n") + 1) / 2).cast("long"), col("v")))
          .as("p50"),
        min(when(col("cum") >= ((col("n") * 9 + 9) / 10).cast("long"), col("v")))
          .as("p90"),
        max(col("v")).as("max_v"))
      .orderBy(col("event_type"))
  }

  val percentilesOracle: String =
    """WITH t AS (
      |  SELECT event_type, CAST(floor(value) AS BIGINT) AS v FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM t)
      |SELECT event_type,
      |  MAX(n) AS n_events,
      |  MIN(v) AS min_v,
      |  MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS p50,
      |  MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN v END) AS p90,
      |  MAX(v) AS max_v
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Quantile-sketch geometry: SketchBins fixed-width bins over the value
    * domain [0, SketchBins·SketchBinWidth); out-of-domain values clamp into
    * the end bins. Constant state per group no matter the data volume. */
  val SketchBins = 64
  val SketchBinWidth = 16L

  /** `q_quantile_sketch`: the approx-quantile SCALE path that
    * `q_percentiles`' exact form calibrates — a fixed-boundary bin sketch as
    * a typed Aggregator (graft.functions.BinHistogram, the histogram
    * counterpart of the KMV sketch). One two-phase hash aggregate folds any
    * number of rows into SketchBins counters per event_type (no window over
    * data-proportional input anywhere); each quantile is then read off the
    * finished sketch as the lower boundary of the first bin whose cumulative
    * count reaches the rank — within one bin width of the exact discrete
    * quantile (StatsSpec asserts the bound against percentilesQ).
    *
    * Deterministic cross-engine like KMV/CMS: the bins are fixed literals
    * and the counts exact integers, so DuckDB replicates the sketch cell for
    * cell and the gate hash-matches despite "approximate" semantics. The
    * rank formulas are percentilesQ's, so both paths answer the same
    * question. */
  def quantileSketchQ(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = udaf(new graft.functions.BinHistogram(SketchBins))
    val bin = greatest(lit(0),
      least(lit(SketchBins - 1), floor(col("value") / SketchBinWidth).cast("int")))
    val byBin = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    val all = Window.partitionBy(col("event_type"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), bin.as("bin"))
      .groupBy(col("event_type"))
      .agg(hist(col("bin")).as("counts"))
      // quantile read-off: SketchBins rows per type, never data-proportional
      .select(col("event_type"), posexplode(col("counts")).as(Seq("bin", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("cum", sum(col("cnt")).over(byBin))
      .withColumn("n", sum(col("cnt")).over(all))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_events"),
        (min(when(col("cum") >= ((col("n") + 1) / 2).cast("long"), col("bin")))
          * SketchBinWidth).cast("long").as("p50_lo"),
        (min(when(col("cum") >= ((col("n") * 9 + 9) / 10).cast("long"), col("bin")))
          * SketchBinWidth).cast("long").as("p90_lo"))
      .orderBy(col("event_type"))
  }

  val quantileSketchOracle: String =
    s"""WITH b AS (
       |  SELECT event_type,
       |    GREATEST(0, LEAST(${SketchBins - 1},
       |      CAST(floor(value / ${SketchBinWidth}) AS BIGINT))) AS bin,
       |    COUNT(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |c AS (
       |  SELECT event_type, bin, cnt,
       |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
       |    SUM(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM b)
       |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
       |  CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN bin END)
       |       * ${SketchBinWidth} AS BIGINT) AS p50_lo,
       |  CAST(MIN(CASE WHEN cum >= (n * 9 + 9) // 10 THEN bin END)
       |       * ${SketchBinWidth} AS BIGINT) AS p90_lo
       |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin

  /** `q_quantile_merge`: quantile-sketch MERGE — the rollup-without-rescan
    * completion of the mergeable-sketch family (X62 merges HLL distinct
    * sketches, X160 intersects KMV sketches; this merges X48's bin
    * histograms): the per-type sketches fold element-wise into ONE global
    * sketch — never re-reading a row — and the global quantiles read off
    * the merged cells. The gated law IS merge-invariance: the oracle
    * computes the global histogram directly from the rows, so the gate
    * proves merged == direct, cell for cell and quantile for quantile.
    *
    * Scale shape: one two-phase sketch aggregate (64 counters per type),
    * then everything operates on type×bins cells — the merge is the
    * whole point: a 1000-partition or day-partitioned corpus rolls up
    * from stored sketches alone. */
  def quantileMergeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = udaf(new graft.functions.BinHistogram(SketchBins))
    val bin = greatest(lit(0),
      least(lit(SketchBins - 1), floor(col("value") / SketchBinWidth).cast("int")))
    val perType = Tables.events(spark, sfDir)
      .select(col("event_type"), bin.as("bin"))
      .groupBy(col("event_type"))
      .agg(hist(col("bin")).as("counts"))
    val byBin = Window.orderBy(col("bin"))
    val all = Window.partitionBy()
    perType
      .select(posexplode(col("counts")).as(Seq("bin", "cnt")))
      .groupBy(col("bin"))
      .agg(sum(col("cnt")).as("cnt"), Num.countStar.as("n_sketches"))
      .filter(col("cnt") > 0)
      .withColumn("cum", sum(col("cnt")).over(byBin))
      .withColumn("n", sum(col("cnt")).over(all))
      .groupBy(lit(1).as("one"))
      .agg(max(col("n")).as("n_events"),
        max(col("n_sketches")).as("n_sketches"),
        (min(when(col("cum") >= expr("(n + 1) div 2"), col("bin")))
          * SketchBinWidth).cast("long").as("p50_lo"),
        (min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("bin")))
          * SketchBinWidth).cast("long").as("p90_lo"))
      .drop("one")
  }

  val quantileMergeOracle: String =
    s"""WITH b AS (
       |  SELECT GREATEST(0, LEAST(${SketchBins - 1},
       |      CAST(floor(value / ${SketchBinWidth}) AS BIGINT))) AS bin,
       |    COUNT(*) AS cnt,
       |    COUNT(DISTINCT event_type) AS n_types
       |  FROM events GROUP BY 1),
       |c AS (
       |  SELECT bin, cnt,
       |    SUM(cnt) OVER (ORDER BY bin) AS cum,
       |    SUM(cnt) OVER () AS n
       |  FROM b)
       |SELECT CAST(MAX(n) AS BIGINT) AS n_events,
       |  (SELECT COUNT(DISTINCT event_type) FROM events) AS n_sketches,
       |  CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN bin END)
       |       * ${SketchBinWidth} AS BIGINT) AS p50_lo,
       |  CAST(MIN(CASE WHEN cum >= (n * 9 + 9) // 10 THEN bin END)
       |       * ${SketchBinWidth} AS BIGINT) AS p90_lo
       |FROM c""".stripMargin

  /** Sketch size: estimates engage once a group has >= k distinct hashes. */
  val KmvK = 64

  /** `q_kmv_distinct`: approximate COUNT(DISTINCT) per event_type via the
    * KMV sketch (graft.functions.KmvSketch) over 60-bit md5 hashes of
    * event_id. The estimate expression — fewer than k distinct -> exact,
    * else (k-1)·2^60 / h_k — is the SAME double arithmetic on both engines,
    * so the "approximate" result is still bit-exact cross-engine. No exact
    * countDistinct rides along: at scale the exact pass would cost more
    * than the sketch it calibrates (it was dropped in round 4 for exactly
    * that reason); the sketch path is what the bench times. */
  def kmvDistinctQ(spark: SparkSession, sfDir: String): DataFrame = {
    val kmv = udaf(new KmvSketch(KmvK))
    val h = conv(substring(md5(concat(lit("e"), col("event_id"))), 1, 15), 16, 10)
      .cast("long")
    Tables.events(spark, sfDir)
      .select(col("event_type"), h.as("h"))
      .groupBy(col("event_type"))
      .agg(Num.countStar.as("n_rows"),
        kmv(col("h")).as("hs"))
      .select(col("event_type"), col("n_rows"),
        when(size(col("hs")) < KmvK, size(col("hs")).cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * pow(lit(2.0), 60)
            / element_at(col("hs"), KmvK)).as("est_distinct"))
      .orderBy(col("event_type"))
  }

  /** HLL precision: 2^6 = 64 registers (±13% standard error). */
  val HllP = 6
  val HllM = 1 << HllP
  /** Remainder width of the 60-bit portable hash after bucket bits. */
  private val HllRestBits = 60 - HllP
  /** alpha_64 · m² · 2^(rest+1) — the whole estimator numerator as ONE
    * double literal, interpolated verbatim into the oracle SQL so both
    * engines divide the identical constant by the identical integer. */
  private val HllNumer: Double =
    0.709 * HllM * HllM * math.pow(2.0, HllRestBits + 1)

  /** `q_hll_distinct`: HyperLogLog COUNT(DISTINCT) per event_type — the
    * industry-standard distinct sketch beside X23's KMV. Spark's own
    * `approx_count_distinct` IS HLL++ but its hash/bias tables aren't
    * reproducible outside the JVM, so this is the transparent twin: 60-bit
    * portable md5 hash → top-6 bits pick 1 of 64 registers, register keeps
    * max(leading-zero rank rho) of the 54 remaining bits.
    *
    * Scale shape: groupBy(type, bucket).max(rho) is a two-phase hash
    * aggregate whose state is ≤64 rows per group at ANY corpus size —
    * registers merge by max, so map-side combine does almost all the work
    * and the estimate is partition-order independent BY ALGEBRA (unlike
    * a double sum). The harmonic mean is kept exact: registers fold to
    * S = Σ 2^(55-rho) as a BIGINT (absent registers contribute 2^55), and
    * the raw HLL estimate is one double division of a shared literal
    * numerator by S — no libm (ln) anywhere, so even the "approximate"
    * value hash-gates bit-exact. (The ln-based small-range correction is
    * deliberately omitted: it's only needed below ~2.5·m distinct, where a
    * KMV sketch — X23 — is exact anyway.) Rho arithmetic rides on
    * length(bin(rest)): both engines print minimal-length binary, so
    * 55 - bitlength(rest) IS the leading-zero count of the 54-bit field,
    * with the rest=0 row pinned to rho=55 explicitly. */
  /** Shared HLL front for X56/X62/X67: (group, bucket, reg) register table
    * from a seeded key hash — ONE definition, so a sketch-spec change
    * (HllP, the rho rule) can't silently fork the three consumers (the
    * same hazard Text.words centralizes the tokenizer against). */
  private def hllRegs(df: DataFrame, group: Column, key: Column,
      seed: String): DataFrame = {
    val h = conv(substring(md5(concat(lit(seed), key)), 1, 15), 16, 10)
      .cast("long")
    val rest = col("h").bitwiseAND(lit((1L << HllRestBits) - 1))
    val rho = when(rest === 0, lit(HllRestBits + 1))
      .otherwise(lit(HllRestBits + 1) - length(bin(rest)))
    df.select(group.as("g"), h.as("h"))
      .select(col("g"), shiftright(col("h"), HllRestBits).as("bucket"),
        rho.cast("int").as("rho"))
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
  }

  /** Shared estimator: (g, buckets_hit, s_int, est_hll) from a
    * (g, bucket, reg) register table — the exact-integer denominator
    * discipline in one place. */
  private def hllEstimate(regs: DataFrame): DataFrame = regs
    .groupBy(col("g"))
    .agg(Num.countStar.as("buckets_hit"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllRestBits + 1} - reg)"))
        .cast("long").as("s_hit"))
    .select(col("g"), col("buckets_hit"),
      (col("s_hit") + (lit(HllM.toLong) - col("buckets_hit"))
        * lit(1L << (HllRestBits + 1))).as("s_int"))
    .select(col("g"), col("buckets_hit"), col("s_int"),
      (lit(HllNumer) / col("s_int").cast("double")).as("est_hll"))

  def hllDistinctQ(spark: SparkSession, sfDir: String): DataFrame =
    hllEstimate(hllRegs(Tables.events(spark, sfDir),
      col("event_type"), col("event_id"), "e"))
      .withColumnRenamed("g", "event_type")
      .orderBy(col("event_type"))

  /** Shared oracle fragment: the (event_type, bucket, reg) register CTEs
    * over events with seed 'e' — the SQL twin of `hllRegs`, used by both
    * the X56 and X62 oracles so the two can't fork. */
  private val hllEventRegsSql: String = {
    val div = 1L << HllRestBits
    s"""h AS (
       |  SELECT event_type,
       |    CAST(concat('0x', substr(md5('e' || event_id), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |r AS (
       |  SELECT event_type, h // ${div} AS bucket,
       |    CASE WHEN h % ${div} = 0 THEN ${HllRestBits + 1}
       |         ELSE ${HllRestBits + 1} - length(bin(h % ${div})) END AS rho
       |  FROM h),
       |regs AS (
       |  SELECT event_type, bucket, MAX(rho) AS reg FROM r GROUP BY 1, 2)""".stripMargin
  }

  /** Shared oracle fragment: the estimator tail over a register CTE —
    * the SQL twin of `hllEstimate`. */
  private def hllEstimateSql(from: String): String = {
    val full = 1L << (HllRestBits + 1)
    s"""s AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS buckets_hit,
       |    CAST(SUM(CAST(1 AS BIGINT) << (${HllRestBits + 1} - reg)) AS BIGINT)
       |      + (${HllM} - COUNT(*)) * ${full} AS s_int
       |  FROM $from GROUP BY 1)
       |SELECT event_type, buckets_hit, CAST(s_int AS BIGINT) AS s_int,
       |  ${HllNumer} / CAST(s_int AS DOUBLE) AS est_hll
       |FROM s ORDER BY event_type""".stripMargin
  }

  val hllDistinctOracle: String =
    s"WITH $hllEventRegsSql,\n${hllEstimateSql("regs")}"

  /** `q_hll_est` (X252): HLL sketch-accuracy evaluation — the distinct-
    * count leg completing the sketch-error family (X202 MinHash-vs-
    * Jaccard, X241 SimHash-vs-cosine, X213/X192 index recall): the HLL
    * estimate BESIDE the exact distinct and the relative error in
    * per-mille, so "is ±2% at m=64 acceptable for this dashboard"
    * becomes a measured artifact rather than a belief about 1.04/√m.
    * The error column is two IEEE ops in pinned order over the
    * identically-computed estimate (one literal-by-integer division)
    * and the exact integer count — no sums of doubles, so it
    * hash-gates like every other randomized artifact here.
    *
    * Scale: the sketch fold is the same ≤64-registers-per-group
    * aggregate as X56; the exact leg is the expensive one (a
    * distinct-expand) and exists BECAUSE this is the evaluation gate —
    * production runs the sketch alone, this query is how it earns
    * that. */
  def hllEstQ(spark: SparkSession, sfDir: String): DataFrame = {
    val est = hllEstimate(hllRegs(Tables.events(spark, sfDir),
      col("event_type"), col("event_id"), "e"))
      .withColumnRenamed("g", "event_type")
    val exact = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("event_id")).as("n_exact"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("buckets_hit"),
        col("s_int"), col("est_hll"),
        floor(abs(col("est_hll") / col("n_exact") - 1.0) * 1000.0)
          .cast("long").as("err_permille"))
      .orderBy(col("event_type"))
  }

  val hllEstOracle: String = {
    val full = 1L << (HllRestBits + 1)
    s"""WITH $hllEventRegsSql,
       |s AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS buckets_hit,
       |    CAST(SUM(CAST(1 AS BIGINT) << (${HllRestBits + 1} - reg))
       |      AS BIGINT) + (${HllM} - COUNT(*)) * ${full} AS s_int
       |  FROM regs GROUP BY 1),
       |ex AS (
       |  SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT)
       |    AS n_exact
       |  FROM events GROUP BY 1)
       |SELECT s.event_type, ex.n_exact, s.buckets_hit,
       |  CAST(s.s_int AS BIGINT) AS s_int,
       |  ${HllNumer} / CAST(s.s_int AS DOUBLE) AS est_hll,
       |  CAST(FLOOR(abs(${HllNumer} / CAST(s.s_int AS DOUBLE)
       |    / ex.n_exact - 1.0) * 1000.0) AS BIGINT) AS err_permille
       |FROM s JOIN ex USING (event_type) ORDER BY event_type""".stripMargin
  }

  /** `q_hll_merge`: HLL MERGEABILITY — the property that makes sketches
    * the scale answer: registers merge by per-bucket max, so the global
    * sketch is computed FROM the per-group sketches (≤64 rows each), never
    * by re-scanning the data. This is exactly how a 1000-executor cluster
    * assembles one cardinality from per-partition sketches, and how a
    * dashboard rolls daily sketches into monthly ones without touching the
    * corpus again. Output = every per-type row of X56 plus an `__all__`
    * row whose registers are max-merged from the type rows; the merged
    * estimate is ALGEBRAICALLY identical to sketching the union directly
    * (max is associative/commutative — StatsSpec asserts it). */
  def hllMergeQ(spark: SparkSession, sfDir: String): DataFrame = {
    // MATERIALIZED: regs feeds both the union leg and the merged fold —
    // without it the events scan is embedded twice and "data never
    // rescanned" would rest on ReuseExchange firing (the reuse
    // Materialize.scala documents as untrustworthy)
    val regs = graft.engine.Materialize.diskBacked(
      hllRegs(Tables.events(spark, sfDir),
        col("event_type"), col("event_id"), "e"))
    // the merge: per-group registers fold again by max — data never rescanned
    val merged = regs.groupBy(col("bucket"))
      .agg(max(col("reg")).as("reg"))
      .select(lit("__all__").as("g"), col("bucket"), col("reg"))
    hllEstimate(regs.unionByName(merged))
      .withColumnRenamed("g", "event_type")
      .orderBy(col("event_type"))
  }

  val hllMergeOracle: String =
    s"""WITH $hllEventRegsSql,
       |allregs AS (
       |  SELECT event_type, bucket, reg FROM regs
       |  UNION ALL
       |  SELECT '__all__' AS event_type, bucket, MAX(reg) AS reg
       |  FROM regs GROUP BY 2),
       |${hllEstimateSql("allregs")}""".stripMargin

  /** Trailing window width for the rolling sketch (days). */
  val RollingHllDays = 7

  /** `q_rolling_hll` (X196): trailing-7-day DISTINCT USERS per day by
    * HLL register merge — the scalable form of the rolling-MAU family.
    * X109's WAU expands exact (user, day) activity ×7 — correct, but the
    * shuffle carries user-cardinality rows; a COUNT(DISTINCT) has no
    * per-day scalar algebra, so the exact form is the expensive one at
    * warehouse scale. Sketches restore the algebra: ONE fold to ≤64
    * registers per day, each register row fans to the ≤7 target days it
    * serves (the X187 histogram fan-out applied to sketch state), and
    * per-day max-merge yields the sketch OF THE UNION of the 7 daily
    * user sets exactly (max is associative/commutative — X62's law, used
    * on a sliding window). Everything after the first fold is
    * (days × 64)-sized. Deterministic cross-engine like X56: fixed md5
    * hash, exact-integer harmonic denominator, one closing division by a
    * shared literal numerator — the "approximate" estimate hash-gates
    * bit-exact; StatsSpec calibrates it against the exact trailing
    * distinct. */
  def rollingHllQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = graft.engine.Materialize.diskBacked(
      hllRegs(Tables.events(spark, sfDir),
        to_date(col("ts")), col("user_id"), "rw"))
    val spine = daily.select(col("g").as("day")).distinct()
    val fanned = daily
      .select(explode(sequence(col("g"),
        date_add(col("g"), RollingHllDays - 1))).as("day"),
        col("bucket"), col("reg"))
      .join(spine, Seq("day"), "left_semi")
      .groupBy(col("day"), col("bucket"))
      .agg(max(col("reg")).as("reg"))
    hllEstimate(fanned.withColumnRenamed("day", "g"))
      .select(date_format(col("g"), "yyyy-MM-dd").as("day"),
        col("buckets_hit"), col("s_int"), col("est_hll"))
      .orderBy(col("day"))
  }

  val rollingHllOracle: String = {
    val div = 1L << HllRestBits
    val full = 1L << (HllRestBits + 1)
    s"""WITH h AS (
       |  SELECT CAST(ts AS DATE) AS d,
       |    CAST(concat('0x', substr(md5('rw' || user_id), 1, 15)) AS BIGINT)
       |      AS h
       |  FROM events),
       |r AS (
       |  SELECT d, h // ${div} AS bucket,
       |    CASE WHEN h % ${div} = 0 THEN ${HllRestBits + 1}
       |         ELSE ${HllRestBits + 1} - length(bin(h % ${div})) END AS rho
       |  FROM h),
       |dregs AS (SELECT d, bucket, MAX(rho) AS reg FROM r GROUP BY 1, 2),
       |spine AS (SELECT DISTINCT d FROM h),
       |fanned AS (
       |  SELECT dr.d + CAST(o.off AS INTEGER) AS day, bucket,
       |    MAX(reg) AS reg
       |  FROM dregs dr,
       |    (SELECT unnest(range(0, ${RollingHllDays})) AS off) o
       |  WHERE dr.d + CAST(o.off AS INTEGER) IN (SELECT d FROM spine)
       |  GROUP BY 1, 2),
       |s AS (
       |  SELECT day, CAST(COUNT(*) AS BIGINT) AS buckets_hit,
       |    CAST(SUM(CAST(1 AS BIGINT) << (${HllRestBits + 1} - reg)) AS BIGINT)
       |      + (${HllM} - COUNT(*)) * ${full} AS s_int
       |  FROM fanned GROUP BY 1)
       |SELECT strftime(day, '%Y-%m-%d') AS day, buckets_hit,
       |  CAST(s_int AS BIGINT) AS s_int,
       |  ${HllNumer} / CAST(s_int AS DOUBLE) AS est_hll
       |FROM s ORDER BY day""".stripMargin
  }

  /** Laplace prior pseudo-counts (α successes, β failures). */
  val SmoothAlpha = 1L
  val SmoothBeta = 1L
  val SmoothTopK = 20

  /** `q_rate_smoothing` (X203): Laplace-smoothed success-rate ranking —
    * the small-sample correction every rate leaderboard needs: an item
    * with 1/1 purchases must not outrank one with 90/100, so each
    * item's purchase rate is shrunk toward the prior by pseudo-counts
    * ((s+α)/(n+α+β)) and the artifact carries BOTH rankings plus the
    * rank displacement — the gated evidence that smoothing actually
    * reordered the small-sample items. Rates are exact integer
    * per-mille; both rank columns are deterministic row_numbers with
    * full tiebreaks. Item key = the `k` field of the event props
    * payload (the reference's VARIANT-extract discipline, P1).
    *
    * Scale: one groupBy over the item domain, two windows over the
    * item-bounded aggregate, a top-K heap — nothing data-sized past the
    * first fold. */
  def rateSmoothingQ(spark: SparkSession, sfDir: String): DataFrame = {
    val item = get_json_object(col("props"), "$.k").cast("long")
    val agg = Tables.events(spark, sfDir)
      .select(item.as("item"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .filter(col("item").isNotNull)
      .groupBy(col("item"))
      .agg(Num.countStar.as("n"), sum(col("pos")).as("s"))
      .select(col("item"), col("n"), col("s"),
        Num.divLong(col("s") * 1000, col("n")).as("raw_permille"),
        Num.divLong((col("s") + SmoothAlpha) * 1000,
          col("n") + SmoothAlpha + SmoothBeta).as("smooth_permille"))
    val byRaw = Window.orderBy(col("raw_permille").desc, col("n").desc,
      col("item"))
    val bySmooth = Window.orderBy(col("smooth_permille").desc,
      col("n").desc, col("item"))
    agg
      .withColumn("rank_raw", row_number().over(byRaw))
      .withColumn("rank_smooth", row_number().over(bySmooth))
      .withColumn("displacement",
        abs(col("rank_raw") - col("rank_smooth")).cast("long"))
      .filter(col("rank_smooth") <= SmoothTopK)
      .orderBy(col("rank_smooth"))
  }

  val rateSmoothingOracle: String =
    s"""WITH a AS (
       |  SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
       |  FROM events),
       |g AS (
       |  SELECT item, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(pos) AS BIGINT) AS s
       |  FROM a WHERE item IS NOT NULL GROUP BY 1),
       |r AS (
       |  SELECT item, n, s,
       |    s * 1000 // n AS raw_permille,
       |    (s + ${SmoothAlpha}) * 1000 // (n + ${SmoothAlpha + SmoothBeta})
       |      AS smooth_permille
       |  FROM g),
       |rk AS (
       |  SELECT r.*,
       |    ROW_NUMBER() OVER (ORDER BY raw_permille DESC, n DESC, item)
       |      AS rank_raw,
       |    ROW_NUMBER() OVER (ORDER BY smooth_permille DESC, n DESC, item)
       |      AS rank_smooth
       |  FROM r)
       |SELECT item, n, s, raw_permille, smooth_permille,
       |  CAST(rank_raw AS INTEGER) AS rank_raw,
       |  CAST(rank_smooth AS INTEGER) AS rank_smooth,
       |  CAST(abs(rank_raw - rank_smooth) AS BIGINT) AS displacement
       |FROM rk WHERE rank_smooth <= ${SmoothTopK}
       |ORDER BY rank_smooth""".stripMargin

  /** Bootstrap replicate count. */
  val BootReplicates = 32
  /** Poisson(1) CDF thresholds on a per-mille uniform — P(X≤k)·1000 for
    * k = 0..4, shared verbatim with the oracle so the deterministic
    * "draw" is identical on both engines. */
  val BootPoissonCdf: Seq[Int] = Seq(368, 736, 920, 981, 996)

  /** `q_bootstrap_ci` (X200): POISSON-BOOTSTRAP confidence interval for
    * the mean event value — uncertainty estimation that survives scale.
    * Classical bootstrap resamples n rows B times (B shuffles of the
    * corpus — dead at 100 TB); the Poisson bootstrap replaces each
    * replicate's multinomial row counts with independent Poisson(1)
    * weights, so ALL B replicates compute in ONE pass as B weighted
    * sums (the published massively-parallel technique for exactly this
    * problem). Determinism: the "draw" is a per-(event, replicate)
    * md5-uniform per-mille mapped through the pinned Poisson(1) CDF
    * ladder — both engines draw the identical weights, so even the
    * randomized estimator hash-gates. Money stays exact cents; each
    * replicate's mean is one exact integer division; the interval is the
    * rank-walk over the 32 replicate means (2nd..31st — the 93.75%
    * rank-based interval at B = 32, extremes excluded).
    *
    * Scale: the ×B explode is a bounded fan-out on the narrow
    * (weight, cents) projection, folded by ONE two-phase aggregate to B
    * rows; everything after is replicate-bounded. */
  def bootstrapCiQ(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = floor(col("value") * 100).cast("long")
    val reps = Tables.events(spark, sfDir)
      .select(col("event_id"), cents.as("c"))
      .select(col("event_id"), col("c"),
        explode(sequence(lit(1), lit(BootReplicates))).as("b"))
      .withColumn("u",
        conv(substring(md5(concat(lit("boot"), col("event_id"),
          lit("_"), col("b"))), 1, 15), 16, 10).cast("long") % 1000)
      .withColumn("w",
        // first-match when-CHAIN (ascending thresholds), not a fold of
        // otherwise-nests — a fold would wrap later (larger) thresholds
        // OUTSIDE earlier ones and shadow them
        BootPoissonCdf.zipWithIndex.tail
          .foldLeft(when(col("u") < BootPoissonCdf.head, 0L)) {
            case (acc, (t, k)) => acc.when(col("u") < t, k.toLong)
          }.otherwise(5L))
    val repMeans = reps
      .groupBy(col("b"))
      .agg(sum(col("w") * col("c")).as("wc"), sum(col("w")).as("wn"))
      .select(col("b"), col("wn").as("n_eff"),
        Num.divLong(col("wc"), col("wn")).as("mean_cents"))
    val byMean = Window.orderBy(col("mean_cents"), col("b"))
    val ranked = repMeans.withColumn("rn", row_number().over(byMean))
    val ci = ranked.agg(
      min(when(col("rn") === 2, col("mean_cents"))).as("ci_lo_cents"),
      min(when(col("rn") === BootReplicates - 1, col("mean_cents")))
        .as("ci_hi_cents"))
    val point = Tables.events(spark, sfDir)
      .agg(Num.divLong(sum(cents), Num.countStar).as("point_mean_cents"))
    repMeans
      .crossJoin(broadcast(ci))
      .crossJoin(broadcast(point))
      .select(col("b"), col("n_eff"), col("mean_cents"),
        col("point_mean_cents"), col("ci_lo_cents"), col("ci_hi_cents"))
      .orderBy(col("b"))
  }

  val bootstrapCiOracle: String = {
    val ladder = BootPoissonCdf.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
    s"""WITH e AS (
       |  SELECT event_id, CAST(FLOOR(value * 100) AS BIGINT) AS c
       |  FROM events),
       |reps AS (
       |  SELECT e.event_id, e.c, b.b,
       |    CAST(concat('0x', substr(md5('boot' || e.event_id || '_' || b.b),
       |      1, 15)) AS BIGINT) % 1000 AS u
       |  FROM e, (SELECT unnest(range(1, ${BootReplicates + 1})) AS b) b),
       |w AS (
       |  SELECT b, c, CASE $ladder ELSE 5 END AS w FROM reps),
       |rm AS (
       |  SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
       |    CAST(SUM(w * c) AS BIGINT) // CAST(SUM(w) AS BIGINT)
       |      AS mean_cents
       |  FROM w GROUP BY 1),
       |rk AS (
       |  SELECT rm.*, ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS rn
       |  FROM rm),
       |ci AS (
       |  SELECT MIN(CASE WHEN rn = 2 THEN mean_cents END) AS ci_lo_cents,
       |    MIN(CASE WHEN rn = ${BootReplicates - 1} THEN mean_cents END)
       |      AS ci_hi_cents
       |  FROM rk),
       |pt AS (
       |  SELECT CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
       |    // COUNT(*) AS point_mean_cents
       |  FROM events)
       |SELECT rm.b, rm.n_eff, rm.mean_cents, pt.point_mean_cents,
       |  ci.ci_lo_cents, ci.ci_hi_cents
       |FROM rm, ci, pt ORDER BY rm.b""".stripMargin
  }

  /** Calibration binning: predictions quantized to per-mille, 10 bins. */
  val CalibBins = 10
  /** The pseudo-model's scale: p = clamp(value / 200, 0, 1). */
  val CalibValueScale = 200.0

  /** `q_calibration` (X199): reliability diagram + expected calibration
    * error — the CALIBRATION leg of the evaluation family (X192
    * retrieval, X193 ranking, X198 classification): does a score of 0.7
    * mean 70%? The "model" is a deterministic monotone score over event
    * value (p = clamp(value/200, 0, 1)) predicting the purchase outcome;
    * the operator is the mechanism every model-eval pipeline needs:
    * per-mille-quantized predictions bucket into 10 bins, each bin
    * reports its size, mean predicted per-mille (exact integer mean),
    * empirical positive rate, and absolute gap; ECE = Σ n_b·gap_b / N
    * rides along as one more exact integer division. No doubles survive
    * past the initial quantization, so the whole diagram hash-gates.
    *
    * Scale: one narrow pass quantizes and bins (codegen'd CASE-free
    * integer arithmetic), one 10-row aggregate, one broadcast total —
    * the same shape at any prediction volume. */
  def calibrationQ(spark: SparkSession, sfDir: String): DataFrame = {
    val predM = least(floor(col("value") * 1000.0 / CalibValueScale)
      .cast("long"), lit(999L))
    val bins = Tables.events(spark, sfDir)
      .select(predM.as("pm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(Num.divLong(col("pm"), 1000L / CalibBins).as("bin"))
      .agg(Num.countStar.as("n"), sum(col("pos")).as("n_pos"),
        sum(col("pm")).as("pm_sum"))
      .select(col("bin"), col("n"), col("n_pos"),
        Num.divLong(col("pm_sum"), col("n")).as("mean_pred_permille"),
        Num.divLong(col("n_pos") * 1000, col("n")).as("pos_rate_permille"))
      .withColumn("gap_permille",
        abs(col("mean_pred_permille") - col("pos_rate_permille")))
    val ece = bins
      .agg(Num.divLong(sum(col("n") * col("gap_permille")), sum(col("n")))
        .as("ece_permille"))
    bins.crossJoin(broadcast(ece)).orderBy(col("bin"))
  }

  val calibrationOracle: String =
    s"""WITH q AS (
       |  SELECT least(CAST(FLOOR(value * 1000.0 / ${CalibValueScale})
       |      AS BIGINT), 999) AS pm,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
       |  FROM events),
       |b AS (
       |  SELECT pm // ${1000 / CalibBins} AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(pos) AS BIGINT) AS n_pos,
       |    CAST(SUM(pm) AS BIGINT) AS pm_sum
       |  FROM q GROUP BY 1),
       |g AS (
       |  SELECT bin, n, n_pos,
       |    pm_sum // n AS mean_pred_permille,
       |    n_pos * 1000 // n AS pos_rate_permille
       |  FROM b),
       |w AS (
       |  SELECT g.*, abs(mean_pred_permille - pos_rate_permille)
       |    AS gap_permille FROM g),
       |e AS (
       |  SELECT CAST(SUM(n * gap_permille) // SUM(n) AS BIGINT)
       |    AS ece_permille FROM w)
       |SELECT bin, n, n_pos, mean_pred_permille, pos_rate_permille,
       |  gap_permille, ece_permille
       |FROM w, e ORDER BY bin""".stripMargin

  /** Deterministic missingness mask for the imputation fixture: every
    * 1-in-ImputeMod event's value plays "missing". */
  val ImputeMod = 17

  /** `q_impute` (X215): group-mean NULL imputation — the feature-prep
    * step every tabular training pipeline runs before a model sees the
    * data: missing values fill with their GROUP's mean (per event_type
    * here — the grouped version is what production does, a global mean
    * washes out the signal the group structure carries). The harness
    * corpus ships complete, so missingness is masked in deterministically
    * (event_id ≡ 0 mod ImputeMod — the X61 batch-membership idiom), and
    * the group means come from OBSERVED rows only, as exact integer cents
    * (sum/count integral division, no float drift). The readout per
    * group: observed/imputed counts, the imputed mean, and the post-fill
    * totals — an imputation that leaked masked rows into its own mean, or
    * filled from the wrong group, breaks the hash.
    *
    * Scale shape: one pass builds per-group (sum, count) over observed
    * rows (group-bounded aggregate), means broadcast back, one narrow
    * fill pass — no window, no shuffle beyond the two group-bounded
    * aggregates. */
  def imputeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = floor(col("value") * 100).cast("long")
    val masked = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        when(col("event_id") % ImputeMod === 0, lit(null).cast("long"))
          .otherwise(cents).as("c"))
    val means = masked.filter(col("c").isNotNull)
      .groupBy(col("event_type"))
      .agg(Num.divLong(sum(col("c")), Num.countStar).as("mean_c"))
    masked.join(broadcast(means), Seq("event_type"))
      .select(col("event_type"),
        col("c").isNotNull.cast("long").as("observed"),
        coalesce(col("c"), col("mean_c")).as("filled"),
        col("mean_c"))
      .groupBy(col("event_type"))
      .agg(sum(col("observed")).as("n_observed"),
        (Num.countStar - sum(col("observed"))).as("n_imputed"),
        min(col("mean_c")).as("imputed_mean_cents"),
        sum(col("filled")).as("total_cents"))
      .orderBy(col("event_type"))
  }

  val imputeOracle: String =
    s"""WITH m AS (
       |  SELECT event_type, event_id,
       |    CASE WHEN event_id % ${ImputeMod} = 0 THEN NULL
       |         ELSE CAST(FLOOR(value * 100) AS BIGINT) END AS c
       |  FROM events),
       |mn AS (
       |  SELECT event_type,
       |    CAST(SUM(c) AS BIGINT) // COUNT(*) AS mean_c
       |  FROM m WHERE c IS NOT NULL GROUP BY 1)
       |SELECT m.event_type,
       |  CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_observed,
       |  CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_imputed,
       |  MIN(mn.mean_c) AS imputed_mean_cents,
       |  CAST(SUM(COALESCE(c, mn.mean_c)) AS BIGINT) AS total_cents
       |FROM m JOIN mn USING (event_type)
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** `q_target_encode` (X231): leave-one-out target encoding — the
    * categorical-feature transform gradient-boosting pipelines run
    * before training: replace a category with the mean target of the
    * OTHER rows in its category, enc_i = (S_g − y_i)/(n_g − 1). The
    * leave-one-out is the entire point (the X215 imputation lesson
    * squared): encoding a row with a mean that includes its own target
    * leaks the label into the feature, and the resulting model
    * validates brilliantly and ships broken. Exact integer cents keep
    * it gateable: per-row encodings are integral divisions of
    * always-nonnegative dividends (S ≥ y_i when n ≥ 2), so both
    * engines truncate identically; the per-group readout reports n,
    * the SUM of encodings, and the min/max encoding (the bounds come
    * from the extreme targets — enc is antitone in y_i).
    *
    * Scale shape: one map-side-combined aggregate builds the
    * group-domain (S, n) frame, broadcast back over a second narrow
    * scan for the per-row division, then a group-bounded re-aggregate
    * — no data-sized window (a partitionBy over 5 priorities would
    * funnel the table through 5 reducers, the q_percentiles
    * anti-shape). Singleton groups (n = 1: LOO undefined) are excluded
    * in both engines. */
  def targetEncodeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("priority"), cents.as("c"))
    val g = o.groupBy(col("priority"))
      .agg(sum(col("c")).as("s"), Num.countStar.as("n"))
    o.join(broadcast(g), Seq("priority"))
      .filter(col("n") > 1L)
      .select(col("priority"), col("n"),
        Num.divLong(col("s") - col("c"), col("n") - 1L).as("enc"))
      .groupBy(col("priority"))
      .agg(max(col("n")).as("n"), sum(col("enc")).as("sum_enc_cents"),
        min(col("enc")).as("min_enc_cents"),
        max(col("enc")).as("max_enc_cents"))
      .orderBy(col("priority"))
  }

  val targetEncodeOracle: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |g AS (
      |  SELECT priority, CAST(SUM(c) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM o GROUP BY 1),
      |e AS (
      |  SELECT o.priority, g.n, (g.s - o.c) // (g.n - 1) AS enc
      |  FROM o JOIN g USING (priority) WHERE g.n > 1)
      |SELECT priority, MAX(n) AS n,
      |  CAST(SUM(enc) AS BIGINT) AS sum_enc_cents,
      |  MIN(enc) AS min_enc_cents, MAX(enc) AS max_enc_cents
      |FROM e GROUP BY 1 ORDER BY priority""".stripMargin

  /** `q_quantile_normalize` (X235): rank-based quantile normalization —
    * the batch-effect correction applied when per-source score
    * distributions must be made comparable before thresholding (quality
    * scores from different classifiers, engagement from differently-
    * instrumented surfaces — the microarray-normalization technique
    * applied to pipeline scores): each value maps to the GLOBAL
    * distribution's value at its own within-group quantile, so every
    * group's normalized distribution is the shared reference and a
    * single threshold means the same thing everywhere. Exact-integer
    * formulation: values quantize to their integer domain, within-group
    * right-closed CDF in per-mille (integral division), target rank
    * r = ⌈q·N/1000⌉ by the add-999 trick, and the mapped value is X22's
    * rank selection (min global v with cum ≥ r) — every step integral,
    * both engines walk identical histograms. Readout: per-group n and
    * the sum/min/max of normalized values (a per-row emit would be the
    * same frame pre-aggregation).
    *
    * Scale shape: ONE data-sized pass builds the (group × value-domain)
    * histogram (map-side combined); everything after — CDFs, the rank
    * join, the mapping — runs on value-domain-bounded frames (the
    * q_percentiles discipline), including the deliberately
    * single-partition global-CDF window over ≤|domain| rows. */
  def quantileNormalizeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val v = floor(col("value")).cast("long")
    val gh0 = Materialize.diskBacked(
      Tables.events(spark, sfDir)
        .select(col("event_type").as("g"), v.as("v"))
        .groupBy(col("g"), col("v")).agg(Num.countStar.as("cnt")))
    val byV = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("g"))
    val q = gh0
      .withColumn("cum", sum(col("cnt")).over(byV))
      .withColumn("n_g", sum(col("cnt")).over(whole))
      .withColumn("q_pm", Num.divLong(col("cum") * 1000L, col("n_g")))
    val globByV = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val glob = gh0.groupBy(col("v")).agg(sum(col("cnt")).as("gcnt"))
      .withColumn("gcum", sum(col("gcnt")).over(globByV))
      .select(col("v").as("nv"), col("gcum"))
    val tot = gh0.groupBy().agg(sum(col("cnt")).as("n_tot"))
    val mapped = q.crossJoin(broadcast(tot))
      .withColumn("r",
        Num.divLong(col("q_pm") * col("n_tot") + 999L, 1000L))
      .join(broadcast(glob), col("gcum") >= col("r"))
      .groupBy(col("g"), col("v"), col("cnt"), col("n_g"))
      .agg(min(col("nv")).as("nv"))
    mapped.groupBy(col("g").as("event_type"))
      .agg(max(col("n_g")).as("n"),
        sum(col("cnt") * col("nv")).as("sum_nv"),
        min(col("nv")).as("min_nv"), max(col("nv")).as("max_nv"))
      .orderBy(col("event_type"))
  }

  val quantileNormalizeOracle: String =
    """WITH gh0 AS (
      |  SELECT event_type AS g, CAST(FLOOR(value) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |q AS (
      |  SELECT *,
      |    (CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      * 1000)
      |      // CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS q_pm,
      |    CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS n_g
      |  FROM gh0),
      |gref AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS gcnt
      |         FROM gh0 GROUP BY 1),
      |gc AS (
      |  SELECT v AS nv, CAST(SUM(gcnt) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS gcum
      |  FROM gref),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot FROM gh0),
      |r AS (
      |  SELECT q.*, (q.q_pm * t.n_tot + 999) // 1000 AS r
      |  FROM q, tot t),
      |m AS (
      |  SELECT r.g, r.v, r.cnt, r.n_g, MIN(gc.nv) AS nv
      |  FROM r JOIN gc ON gc.gcum >= r.r
      |  GROUP BY 1, 2, 3, 4)
      |SELECT g AS event_type, MAX(n_g) AS n,
      |  CAST(SUM(cnt * nv) AS BIGINT) AS sum_nv,
      |  MIN(nv) AS min_nv, MAX(nv) AS max_nv
      |FROM m GROUP BY 1 ORDER BY event_type""".stripMargin

  /** AUC output scale: per-million (1e6/2 premultiplier — the U statistic
    * arrives doubled to keep midranks integral). */
  val AucScale = 500000L

  /** `q_auc` (X204): exact rank-based ROC-AUC of the X199 pseudo-model —
    * the threshold-free companion that completes the evaluation family
    * (X192 recall, X193 NDCG, X198 precision/recall/F1, X199
    * calibration, X148's U machinery): AUC = U/(n₁·n₀) with U the
    * Mann-Whitney statistic under MIDRANKS, i.e. the probability a
    * random positive outscores a random negative with ties counted half
    * — the quantity behind every "the sentiment model separates classes"
    * claim like /root/reference/README.md's quality discussion. Per
    * user-cohort (macro view), over the same deterministic scorer as
    * X199 (p = clamp(value/200), positive = purchase).
    *
    * Exactness discipline: scores quantize to per-mille up front, so
    * ranking reduces to a 1000-bucket HISTOGRAM per cohort — midrank of
    * bucket s is cum_before(s) + (n_s+1)/2, and summing the DOUBLED rank
    * (2·cum + n_s + 1) keeps every intermediate a Long: no double ever
    * enters, ties are corrected by construction, and both engines fold
    * the same integers. AUC lands as exact per-million via one integral
    * division (u2·5e5 stays far under Long range up to ~4M rows/cohort;
    * the histogram itself is unbounded).
    *
    * Scale shape: ONE data-sized pass builds the (cohort × ≤1000)-row
    * histogram with map-side partial aggregation; the rank windows and
    * final fold run on histogram rows, never data rows — the X22/X186
    * fan-out discipline applied to ranking statistics. */
  def aucQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pm = least(floor(col("value") * 1000.0 / CalibValueScale)
      .cast("long"), lit(999L))
    val hist = Tables.events(spark, sfDir)
      .select((col("user_id") % 4).as("cohort"), pm.as("pm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("cohort"), col("pm"))
      .agg(Num.countStar.as("n_s"), sum(col("pos")).as("pos_s"))
    val before = Window.partitionBy(col("cohort")).orderBy(col("pm"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum", coalesce(sum(col("n_s")).over(before), lit(0L)))
      .groupBy(col("cohort"))
      .agg(sum(col("pos_s")).as("n_pos"),
        (sum(col("n_s")) - sum(col("pos_s"))).as("n_neg"),
        sum(col("pos_s") * (col("cum") * 2 + col("n_s") + 1)).as("r2"))
      .select(col("cohort"), col("n_pos"), col("n_neg"),
        (col("r2") - col("n_pos") * (col("n_pos") + 1)).as("u2"))
      .withColumn("auc_ppm",
        Num.divLong(col("u2") * AucScale, col("n_pos") * col("n_neg")))
      .orderBy(col("cohort"))
  }

  val aucOracle: String =
    s"""WITH q AS (
       |  SELECT user_id % 4 AS cohort,
       |    least(CAST(FLOOR(value * 1000.0 / ${CalibValueScale})
       |      AS BIGINT), 999) AS pm,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
       |  FROM events),
       |h AS (
       |  SELECT cohort, pm, CAST(COUNT(*) AS BIGINT) AS n_s,
       |    CAST(SUM(pos) AS BIGINT) AS pos_s
       |  FROM q GROUP BY 1, 2),
       |r AS (
       |  SELECT *, COALESCE(SUM(n_s) OVER (PARTITION BY cohort ORDER BY pm
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM h),
       |g AS (
       |  SELECT cohort, CAST(SUM(pos_s) AS BIGINT) AS n_pos,
       |    CAST(SUM(n_s) - SUM(pos_s) AS BIGINT) AS n_neg,
       |    CAST(SUM(pos_s * (cum * 2 + n_s + 1)) AS BIGINT) AS r2
       |  FROM r GROUP BY 1)
       |SELECT cohort, n_pos, n_neg,
       |  r2 - n_pos * (n_pos + 1) AS u2,
       |  (r2 - n_pos * (n_pos + 1)) * ${AucScale} // (n_pos * n_neg)
       |    AS auc_ppm
       |FROM g ORDER BY cohort""".stripMargin

  /** Per-million scale shared by the PR-curve quantities. */
  val PrScale = 1000000L

  /** `q_pr_auc` (X225): average precision (PR-AUC) plus the best-F1
    * operating point of the X199 pseudo-model — the IMBALANCED-CLASS
    * companion to X204's ROC-AUC (with ~20% positives ROC flatters a
    * model; the PR curve is what a filtering-pipeline owner actually
    * reads before picking a quality-score threshold, and the best-F1 row
    * answers "which threshold do I deploy"). Per user-cohort, same
    * deterministic scorer as X199/X204 (p = clamp(value/200), positive =
    * purchase).
    *
    * Exactness discipline: the X204 histogram trick, descending — scores
    * quantize to per-mille, the corpus folds to a (cohort × ≤1000)
    * histogram, and cumulative (n, tp) over pm DESC give precision and F1
    * at every threshold as integral divisions. Tie handling is the
    * step-wise bucket convention: every positive in a score bucket gets
    * the precision AT THE BUCKET'S END (the pessimistic standard that
    * makes AP independent of intra-bucket order — no arbitrary
    * tie-break enters). Per-bucket ppm values truncate BEFORE the
    * weighted sum, so the fold is an order-independent Long sum in both
    * engines; AP = Σ pos_s·prec_ppm / P and F1 = 2·TP/(cum_n + P) are
    * exact integer arithmetic end to end — Σ pos_s·prec_ppm ≤ P·10⁶
    * keeps every intermediate far under Long at any corpus size.
    *
    * Scale shape: ONE data-sized map-side-combined pass builds the
    * histogram; windows and the argmax run on histogram rows only. */
  def prAucQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pm = least(floor(col("value") * 1000.0 / CalibValueScale)
      .cast("long"), lit(999L))
    val hist = Tables.events(spark, sfDir)
      .select((col("user_id") % 4).as("cohort"), pm.as("pm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("cohort"), col("pm"))
      .agg(Num.countStar.as("n_s"), sum(col("pos")).as("pos_s"))
    val desc = Window.partitionBy(col("cohort")).orderBy(col("pm").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("cohort"))
    val scored = hist
      .withColumn("cum_n", sum(col("n_s")).over(desc))
      .withColumn("cum_tp", sum(col("pos_s")).over(desc))
      .withColumn("p_tot", sum(col("pos_s")).over(whole))
      .withColumn("n_tot", sum(col("n_s")).over(whole))
      .withColumn("prec_ppm",
        Num.divLong(col("cum_tp") * PrScale, col("cum_n")))
      .withColumn("f1_ppm",
        Num.divLong(col("cum_tp") * 2L * PrScale, col("cum_n") + col("p_tot")))
    val byF1 = Window.partitionBy(col("cohort"))
      .orderBy(col("f1_ppm").desc, col("pm").desc)
    scored
      .withColumn("rn", row_number().over(byF1))
      .groupBy(col("cohort"))
      .agg(max(col("p_tot")).as("n_pos"),
        max(col("n_tot") - col("p_tot")).as("n_neg"),
        Num.divLong(sum(col("pos_s") * col("prec_ppm")), max(col("p_tot")))
          .as("ap_ppm"),
        max(when(col("rn") === 1, col("f1_ppm"))).as("best_f1_ppm"),
        max(when(col("rn") === 1, col("pm"))).as("best_f1_pm"))
      .orderBy(col("cohort"))
  }

  val prAucOracle: String =
    s"""WITH q AS (
       |  SELECT user_id % 4 AS cohort,
       |    least(CAST(FLOOR(value * 1000.0 / ${CalibValueScale})
       |      AS BIGINT), 999) AS pm,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
       |  FROM events),
       |h AS (
       |  SELECT cohort, pm, CAST(COUNT(*) AS BIGINT) AS n_s,
       |    CAST(SUM(pos) AS BIGINT) AS pos_s
       |  FROM q GROUP BY 1, 2),
       |c AS (
       |  SELECT *,
       |    CAST(SUM(n_s) OVER (PARTITION BY cohort ORDER BY pm DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_n,
       |    CAST(SUM(pos_s) OVER (PARTITION BY cohort ORDER BY pm DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tp,
       |    CAST(SUM(pos_s) OVER (PARTITION BY cohort) AS BIGINT) AS p_tot,
       |    CAST(SUM(n_s) OVER (PARTITION BY cohort) AS BIGINT) AS n_tot
       |  FROM h),
       |s AS (
       |  SELECT *, cum_tp * ${PrScale} // cum_n AS prec_ppm,
       |    cum_tp * 2 * ${PrScale} // (cum_n + p_tot) AS f1_ppm
       |  FROM c),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cohort
       |    ORDER BY f1_ppm DESC, pm DESC) AS rn
       |  FROM s)
       |SELECT cohort, MAX(p_tot) AS n_pos, MAX(n_tot - p_tot) AS n_neg,
       |  CAST(SUM(pos_s * prec_ppm) AS BIGINT) // MAX(p_tot) AS ap_ppm,
       |  MAX(CASE WHEN rn = 1 THEN f1_ppm END) AS best_f1_ppm,
       |  MAX(CASE WHEN rn = 1 THEN pm END) AS best_f1_pm
       |FROM r GROUP BY 1 ORDER BY cohort""".stripMargin

  /** `q_join_card_est`: pre-join cardinality estimation from HLL sketches —
    * the planner-side use of X56/X62's mergeability: before paying for a
    * 100-TB shuffle, estimate how many join keys the two sides SHARE using
    * only their 64-register sketches and inclusion–exclusion
    * (|A∩B| ≈ est(A) + est(B) − est(A∪B), where the union sketch is the
    * per-bucket register max — no row of either side crosses the network).
    * Both sides hash the key with the SAME seed, so shared keys land on
    * identical (bucket, rho) cells by construction. Output is sketch-side
    * only (registers + 3 estimates + their difference); the exact-overlap
    * calibration lives in StatsSpec, not here — an exact rider would cost
    * the join this operator exists to avoid (the X23 lesson). */
  def joinCardEstQ(spark: SparkSession, sfDir: String): DataFrame = {
    // each side's 64-row register table feeds both the union sketch and
    // the estimate union — materialized so the source tables scan ONCE
    val a = graft.engine.Materialize.diskBacked(
      hllRegs(Tables.orders(spark, sfDir), lit("a"), col("o_custkey"), "k"))
    // one segment's customers: a genuinely partial overlap with the fact
    // side (the every-key-matches case would make all four estimates equal)
    val b = graft.engine.Materialize.diskBacked(
      hllRegs(Tables.customer(spark, sfDir)
          .filter(col("c_mktsegment") === Joins.BloomSegment),
        lit("b"), col("c_custkey"), "k"))
    val u = a.unionByName(b).groupBy(col("bucket"))
      .agg(max(col("reg")).as("reg"))
      .select(lit("u").as("g"), col("bucket"), col("reg"))
    hllEstimate(a.unionByName(b).unionByName(u))
      .select(col("g"), col("est_hll").as("est"))
      .groupBy()
      .pivot("g", Seq("a", "b", "u")).agg(first(col("est")))
      .select(col("a").as("est_keys_a"), col("b").as("est_keys_b"),
        col("u").as("est_union"),
        (col("a") + col("b") - col("u")).as("est_intersect"))
  }

  val joinCardEstOracle: String = {
    val div = 1L << HllRestBits
    val full = 1L << (HllRestBits + 1)
    def regsSql(table: String, key: String, side: String) =
      s"""SELECT '$side' AS side, h // ${div} AS bucket,
         |  MAX(CASE WHEN h % ${div} = 0 THEN ${HllRestBits + 1}
         |      ELSE ${HllRestBits + 1} - length(bin(h % ${div})) END) AS reg
         |FROM (SELECT CAST(concat('0x', substr(md5('k' || $key), 1, 15))
         |             AS BIGINT) AS h FROM $table)
         |GROUP BY 2""".stripMargin
    s"""WITH bcust AS (
       |  SELECT c_custkey FROM customer
       |  WHERE c_mktsegment = '${Joins.BloomSegment}'),
       |ra AS (${regsSql("orders", "o_custkey", "a")}),
       |rb AS (${regsSql("bcust", "c_custkey", "b")}),
       |ru AS (
       |  SELECT 'u' AS side, bucket, MAX(reg) AS reg FROM (
       |    SELECT bucket, reg FROM ra UNION ALL SELECT bucket, reg FROM rb)
       |  GROUP BY 2),
       |ests AS (
       |  SELECT side,
       |    ${HllNumer} / CAST(
       |      CAST(SUM(CAST(1 AS BIGINT) << (${HllRestBits + 1} - reg)) AS BIGINT)
       |      + (${HllM} - COUNT(*)) * ${full} AS DOUBLE) AS est
       |  FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb
       |        UNION ALL SELECT * FROM ru)
       |  GROUP BY 1)
       |SELECT
       |  MAX(CASE WHEN side = 'a' THEN est END) AS est_keys_a,
       |  MAX(CASE WHEN side = 'b' THEN est END) AS est_keys_b,
       |  MAX(CASE WHEN side = 'u' THEN est END) AS est_union,
       |  MAX(CASE WHEN side = 'a' THEN est END)
       |    + MAX(CASE WHEN side = 'b' THEN est END)
       |    - MAX(CASE WHEN side = 'u' THEN est END) AS est_intersect
       |FROM ests""".stripMargin
  }

  /** `q_skew_profile`: join-key skew diagnostics — the pre-flight check
    * that decides salting / broadcast / AQE-skew-join strategy BEFORE a
    * 100-TB shuffle burns a day: for each candidate join key, the key
    * count, the heaviest key's row count, and the skew ratio
    * (max·keys/rows — 1.0 means perfectly uniform). Each profile is one
    * two-phase count aggregate over (key) followed by a 1-row rollup —
    * the same pass AQE's runtime stats do opaquely, surfaced as a table
    * (and exactly the evidence behind this repo's own salted variants,
    * W1's `q_dedup_latest_salted` and A1's `q_agg_salted`). */
  def skewProfileQ(spark: SparkSession, sfDir: String): DataFrame = {
    def profile(label: String, df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(Num.countStar.as("cnt"))
        .agg(sum(col("cnt")).cast("long").as("n_rows"),
          Num.countStar.as("n_keys"),
          max(col("cnt")).as("max_per_key"))
        .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_per_key"),
          (col("max_per_key").cast("double") * col("n_keys").cast("double")
            / col("n_rows").cast("double")).as("skew_ratio"))
    profile("events.user_id", Tables.events(spark, sfDir), "user_id")
      .unionByName(profile("lineitem.l_partkey",
        Tables.lineitem(spark, sfDir), "l_partkey"))
      .unionByName(profile("lineitem.l_suppkey",
        Tables.lineitem(spark, sfDir), "l_suppkey"))
      .unionByName(profile("orders.o_custkey",
        Tables.orders(spark, sfDir), "o_custkey"))
      .orderBy(col("key_col"))
  }

  val skewProfileOracle: String = {
    def one(label: String, table: String, key: String) =
      s"""SELECT '$label' AS key_col,
         |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(cnt) AS BIGINT) AS max_per_key,
         |  CAST(MAX(cnt) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
         |    / CAST(SUM(cnt) AS DOUBLE) AS skew_ratio
         |FROM (SELECT $key, COUNT(*) AS cnt FROM $table GROUP BY 1)""".stripMargin
    Seq(one("events.user_id", "events", "user_id"),
      one("lineitem.l_partkey", "lineitem", "l_partkey"),
      one("lineitem.l_suppkey", "lineitem", "l_suppkey"),
      one("orders.o_custkey", "orders", "o_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_col")
  }

  /** Outlier threshold in standard deviations. */
  val OutlierSigma = 3.0
  /** Value quantum for the moment sums (1e-6 of a unit). */
  private val OutQ = 1e6

  /** `q_outliers`: per-group z-score anomaly detection — flag events whose
    * value sits more than OutlierSigma standard deviations from the
    * group mean; the data-quality gate a curation pipeline runs to catch
    * corrupted metrics / label noise before training extraction.
    *
    * The classic two-pass algorithm: pass 1 folds each group to exact
    * moment sums (n, Σx, Σx²), pass 2 re-scans with the 5-row stats table
    * broadcast back — both passes are narrow + one two-phase aggregate, no
    * window anywhere, so group count and group size are both unbounded.
    *
    * Cross-engine exactness: values are quantized to integers
    * (floor(v·1e6+0.5)) so Σx and Σx² are DECIMAL/HUGEINT sums — exact and
    * order-independent where a double sum would drift per partition split.
    * Mean/variance/z then come from ONE pinned sequence of IEEE double ops
    * on those exact integers (single-rounded each, identical both
    * engines), and the σ-threshold compare runs on bit-identical doubles,
    * so even boundary rows agree. Variance uses the E[x²]−E[x]² form —
    * numerically fine here because x is a bounded metric, and it keeps the
    * one-aggregate shape (Welford/shifted-data variants trade this for
    * stream stability a batch engine doesn't need). */
  def outliersQ(spark: SparkSession, sfDir: String): DataFrame = {
    val qv = floor(col("value") * lit(OutQ) + lit(0.5))
      .cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), qv.as("qv"))
    val stats = events.groupBy(col("event_type"))
      .agg(Num.countStar.as("n"),
        sum(col("qv")).as("s1"),
        sum(col("qv") * col("qv")).as("s2"))
      .select(col("event_type"),
        ((col("s1").cast("double") / col("n").cast("double")) / lit(OutQ))
          .as("mean"),
        sqrt((col("s2").cast("double") / col("n").cast("double"))
          / lit(OutQ * OutQ)
          - ((col("s1").cast("double") / col("n").cast("double")) / lit(OutQ))
            * ((col("s1").cast("double") / col("n").cast("double")) / lit(OutQ)))
          .as("sd"))
    val x = col("qv").cast("double") / lit(OutQ)
    events.join(broadcast(stats), Seq("event_type"))
      .filter(abs(x - col("mean")) > lit(OutlierSigma) * col("sd"))
      .select(col("event_id"), col("event_type"), col("qv").cast("long").as("qv"),
        ((x - col("mean")) / col("sd")).as("z"))
      .orderBy(col("event_id"))
  }

  val outliersOracle: String =
    s"""WITH q AS (
       |  SELECT event_id, event_type,
       |    CAST(FLOOR(value * ${OutQ} + 0.5) AS HUGEINT) AS qv
       |  FROM events),
       |st AS (
       |  SELECT event_type,
       |    (CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / ${OutQ}
       |      AS mean,
       |    sqrt((CAST(SUM(qv * qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
       |        / ${OutQ * OutQ}
       |      - ((CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / ${OutQ})
       |        * ((CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / ${OutQ}))
       |      AS sd
       |  FROM q GROUP BY 1)
       |SELECT q.event_id, q.event_type, CAST(q.qv AS BIGINT) AS qv,
       |  (CAST(q.qv AS DOUBLE) / ${OutQ} - st.mean) / st.sd AS z
       |FROM q JOIN st USING (event_type)
       |WHERE abs(CAST(q.qv AS DOUBLE) / ${OutQ} - st.mean)
       |      > ${OutlierSigma} * st.sd
       |ORDER BY q.event_id""".stripMargin

  /** Tumbling-window width (6 h) — epoch-aligned on both engines. */
  val WindowHours = 6

  /** `q_time_window`: tumbling-window aggregation over the event stream —
    * the BATCH twin of the Structured Streaming rollup in
    * graft.streaming.Incremental (same `window()` grouping, no watermark
    * needed at rest). Spark's window() buckets align to the epoch in the
    * session timezone (pinned UTC), which the oracle reproduces with
    * integer epoch-microsecond arithmetic — no reliance on either engine's
    * time_bucket origin conventions. One shuffle on (window, event_type)
    * with map-side partial aggregation; at 100 TB the window column also
    * serves as the natural partition key for the sink. */
  def timeWindowQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), s"$WindowHours hours"), col("event_type"))
      .agg(Num.countStar.as("n_events"),
        sum(floor(col("value")).cast("long")).as("sum_floor_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("win_end"),
        col("event_type"), col("n_events"), col("sum_floor_value"))
      .orderBy(col("win_start"), col("event_type"))

  val timeWindowOracle: String = {
    val busec = WindowHours * 3600L * 1000000L
    s"""SELECT
       |  strftime(make_timestamp((epoch_us(ts) // ${busec}) * ${busec}),
       |           '%Y-%m-%d %H:%M:%S') AS win_start,
       |  strftime(make_timestamp((epoch_us(ts) // ${busec}) * ${busec} + ${busec}),
       |           '%Y-%m-%d %H:%M:%S') AS win_end,
       |  event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor_value
       |FROM events
       |GROUP BY 1, 2, 3 ORDER BY win_start, event_type""".stripMargin
  }

  /** Sliding-frame width in trailing buckets (current + 2 preceding). */
  val MovingFrame = 2

  /** `q_moving_sum`: sliding window FRAME analytics — per event_type daily
    * totals with a trailing 3-day moving sum and count (`rowsBetween(-2,
    * currentRow)`), the frame shape the window family was missing next to
    * row_number (no frame) and the unbounded cumulative sum. Integer
    * arithmetic end to end. Plan: the daily aggregate and the frame share
    * one hash partitioning on event_type; within-partition sort by day
    * orders the frame. */
  def movingSumQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value")).cast("long")).as("day_total"),
        Num.countStar.as("day_events"))
    val frame = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-MovingFrame, Window.currentRow)
    daily
      .withColumn("moving_total", sum(col("day_total")).over(frame))
      .withColumn("moving_events", sum(col("day_events")).over(frame))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("day_total"), col("moving_total"), col("moving_events"))
      .orderBy(col("event_type"), col("day"))
  }

  val movingSumOracle: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS day_total,
       |    COUNT(*) AS day_events
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, day_total,
       |  CAST(SUM(day_total) OVER w AS BIGINT) AS moving_total,
       |  CAST(SUM(day_events) OVER w AS BIGINT) AS moving_events
       |FROM daily
       |WINDOW w AS (PARTITION BY event_type ORDER BY day
       |             ROWS BETWEEN ${MovingFrame} PRECEDING AND CURRENT ROW)
       |ORDER BY event_type, day""".stripMargin

  /** `q_window_analytics`: the analytic window functions the rest of the
    * window family doesn't exercise — LAG (inter-event gap per user, exact
    * integer microseconds), LEAD (next event type), and NTILE (value
    * quartile within the event_type). Both orders are TOTAL (event_id
    * tiebreak), so lag/lead neighbors and quartile boundaries are
    * deterministic cross-engine.
    *
    * The lag/lead legs partition by user_id — millions of small partitions,
    * an ordinary hash-partition-and-sort. The NTILE leg, though, would
    * funnel the whole table through ~5 reducers (`partitionBy(event_type)`
    * total sort), so it is computed WITHOUT a per-type total sort, as a
    * salted two-phase rank:
    *   1. value histogram per type (two-phase hash agg) + cumulative counts
    *      over the distinct-value frame → each value's global-rank offset
    *      (`cum_prev`) and the type's row count n. The frame is bounded by
    *      the value DOMAIN, and at dim size it broadcasts back. This
    *      histogram is on the RAW value (NTILE needs the exact order), so
    *      the domain bound is LOAD-BEARING: it holds for quantized
    *      metrics columns (StatsSpec gates cells ≪ rows on the fixture);
    *      a genuinely continuous column must go through X48's
    *      fixed-width-bin quantile sketch instead — a corpus-sized
    *      broadcast is exactly what this rewrite exists to avoid.
    *   2. row_number within (event_type, value) ordered by event_id — fine-
    *      grained partitions (one per distinct value), no funnel — so a
    *      row's global rank is cum_prev + local rank.
    *   3. NTILE(k)'s standard sizing in closed form: the first n mod k
    *      buckets take ceil(n/k) rows, the rest floor(n/k) — pure integer
    *      arithmetic on (rank, n), matching the builtin row for row. */
  def windowAnalyticsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(spark, sfDir)
    val byV = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val all = Window.partitionBy(col("event_type"))
    val hist = ev.groupBy(col("event_type"), col("value"))
      .agg(Num.countStar.as("cnt"))
      .withColumn("cum_prev", sum(col("cnt")).over(byV) - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(all))
      .select(col("event_type"), col("value"), col("cum_prev"), col("n"))
    val byTypeVal = Window.partitionBy(col("event_type"), col("value"))
      .orderBy(col("event_id"))
    // ceil-division on positive longs via double division + truncation
    // (exact below 2^52 — rank arithmetic, not data values).
    def ceilDiv(a: Column, b: Column): Column =
      ((a + b - lit(1L)) / b).cast("long")
    val n = col("n")
    val rn = col("cum_prev") + row_number().over(byTypeVal)
    val q = (n / 4).cast("long") // floor bucket size
    val r = n % 4 // first r buckets take q+1 rows
    val t = r * (q + lit(1L)) // rows covered by the q+1-sized buckets
    val quartile = when(rn <= t, ceilDiv(rn, q + lit(1L)))
      .otherwise(r + ceilDiv(rn - t, greatest(q, lit(1L))))
    ev.join(broadcast(hist), Seq("event_type", "value"))
      .withColumn("t_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"),
        coalesce(col("t_us") - lag(col("t_us"), 1).over(byUser), lit(-1L))
          .as("gap_us"),
        coalesce(lead(col("event_type"), 1).over(byUser), lit("(none)"))
          .as("next_event_type"),
        quartile.cast("int").as("value_quartile"))
      .orderBy(col("event_id"))
  }

  val windowAnalyticsOracle: String =
    """SELECT event_id, user_id,
      |  COALESCE(epoch_us(ts) - LAG(epoch_us(ts)) OVER w, -1) AS gap_us,
      |  COALESCE(LEAD(event_type) OVER w, '(none)') AS next_event_type,
      |  NTILE(4) OVER (PARTITION BY event_type ORDER BY value, event_id)
      |    AS value_quartile
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin

  /** Count-Min Sketch geometry: CmsRows independent hash rows × CmsWidth
    * buckets — 1024 cells total, REGARDLESS of corpus size. */
  val CmsRows = 4
  val CmsWidth = 256

  /** Probe words whose frequencies the sketch estimates (the two Sentiment
    * lexicons — bounded literals, like a heavy-hitter watchlist). */
  def CmsProbes: Seq[String] =
    graft.functions.Sentiment.Default.positive ++
      graft.functions.Sentiment.Default.negative

  /** `q_cms_heavy`: Count-Min Sketch frequency estimation — the heavy-hitter
    * companion to the KMV distinct sketch. The corpus word stream folds into
    * a CmsRows×CmsWidth count matrix (one groupBy whose key space is 1024
    * cells — constant state no matter how many TB of text flow through);
    * each probe word's estimate is min over rows of its bucket's count, the
    * classic CMS upper bound (est ≥ true, overcount only from collisions).
    *
    * Like KMV, the sketch is DETERMINISTIC cross-engine: bucket hashes are
    * the portable 60-bit md5 trick, counts are exact integers, min is min —
    * so the oracle replicates the full pipeline bit for bit. Scale: exact
    * per-word counting (q_word_topk) shuffles a vocabulary-sized aggregate;
    * the CMS shuffles 1024 cells and answers any watchlist by broadcast
    * lookup — the trade a 100 TB heavy-hitter monitor wants. */
  def cmsHeavyQ(spark: SparkSession, sfDir: String): DataFrame = {
    def bucket(row: Int, word: org.apache.spark.sql.Column) =
      pmod(conv(substring(md5(concat(lit(s"c${row}_"), word)), 1, 15), 16, 10)
        .cast("long"), lit(CmsWidth))
    val ws = graft.engine.Text.words
    val rowBuckets = array((0 until CmsRows).map(d => bucket(d, col("word"))): _*)
    val cms = Tables.documents(spark, sfDir)
      .select(explode(ws).as("word"))
      .select(posexplode(rowBuckets).as(Seq("d", "bucket")))
      .groupBy(col("d"), col("bucket"))
      .agg(Num.countStar.as("cnt"))
    import spark.implicits._
    val probeDf = CmsProbes.toDF("word")
      .select(col("word"), posexplode(rowBuckets).as(Seq("d", "bucket")))
    probeDf.join(broadcast(cms), Seq("d", "bucket"), "left")
      .groupBy(col("word"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
      .orderBy(col("word"))
  }

  val cmsHeavyOracle: String = {
    val probeValues = CmsProbes.map(w => s"('${w}')").mkString(", ")
    s"""WITH words AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |    w -> w <> '')) AS word
       |  FROM documents),
       |cells AS (
       |  SELECT d, CAST(concat('0x', substr(md5('c' || d || '_' || word),1,15))
       |      AS BIGINT) % ${CmsWidth} AS bucket, COUNT(*) AS cnt
       |  FROM words, (SELECT unnest(range(0, ${CmsRows})) AS d)
       |  GROUP BY 1, 2),
       |probes AS (
       |  SELECT word, d, CAST(concat('0x', substr(md5('c' || d || '_' || word),1,15))
       |      AS BIGINT) % ${CmsWidth} AS bucket
       |  FROM (VALUES $probeValues) AS p(word),
       |       (SELECT unnest(range(0, ${CmsRows})) AS d))
       |SELECT p.word, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
       |FROM probes p LEFT JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
       |GROUP BY 1 ORDER BY word""".stripMargin
  }

  val kmvDistinctOracle: String =
    s"""WITH h AS (
       |  SELECT event_type,
       |    CAST(concat('0x', substr(md5('e' || event_id),1,15)) AS BIGINT) AS h
       |  FROM events),
       |g AS (
       |  SELECT event_type, COUNT(*) AS n_rows,
       |    list_sort(list(DISTINCT h)) AS hs
       |  FROM h GROUP BY 1)
       |SELECT event_type, n_rows,
       |  CASE WHEN len(hs) < ${KmvK} THEN CAST(len(hs) AS DOUBLE)
       |       ELSE (${KmvK - 1}.0 * POW(2.0, 60)) / hs[${KmvK}] END AS est_distinct
       |FROM g ORDER BY event_type""".stripMargin

  /** `q_profile`: per-column data-quality profile (row count, null count,
    * exact distinct count, min/max) over a mixed-type column set, emitted
    * in long form — the schema-validation / ingest-gate summary every
    * pipeline runs before accepting a batch (the reference's row-count +
    * null-check prints at src/snowflake_loader.py:166-171, generalized).
    *
    * ONE pass over the table: a single multi-distinct aggregate (Catalyst
    * plans n distinct columns as one Expand(×n) + two-phase aggregate —
    * rows scan once, the expand factor is the column count, never a
    * per-column rescan), then the 1-row wide result unpivots to (column,
    * metrics) rows driver-free via explode of a 4-element literal array.
    * Min/max render through type-pinned formats (decimal for doubles,
    * date_format for timestamps) so the strings are cross-engine exact.
    * At 100 TB: the distinct legs are the expensive part — swap in the X23
    * KMV sketch per column when exactness isn't required; everything else
    * is a map-side-combined scalar aggregate. */
  def profileQ(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    def prof(name: String, minS: Column, maxS: Column): Column =
      struct(lit(name).as("column"),
        Num.countStar.as("n_rows"),
        (Num.countStar - count(col(name))).as("n_nulls"),
        countDistinct(col(name)).as("n_distinct"),
        minS.as("min_value"), maxS.as("max_value"))
    def dec(c: Column): Column =
      c.cast(org.apache.spark.sql.types.DecimalType(12, 2)).cast("string")
    val fmt = "yyyy-MM-dd HH:mm:ss"
    li.agg(
        prof("l_orderkey", min(col("l_orderkey")).cast("string"),
          max(col("l_orderkey")).cast("string")).as("p1"),
        prof("l_quantity", dec(min(col("l_quantity"))),
          dec(max(col("l_quantity")))).as("p2"),
        prof("l_returnflag", min(col("l_returnflag")),
          max(col("l_returnflag"))).as("p3"),
        prof("l_shipdate", date_format(min(col("l_shipdate")), fmt),
          date_format(max(col("l_shipdate")), fmt)).as("p4"))
      .select(explode(array(col("p1"), col("p2"), col("p3"), col("p4")))
        .as("p"))
      .select(col("p.column").as("column"), col("p.n_rows"),
        col("p.n_nulls"), col("p.n_distinct"),
        col("p.min_value"), col("p.max_value"))
      .orderBy(col("column"))
  }

  /** `q_mad_outliers`: robust (median / MAD) outlier detection per
    * event_type — the companion to `q_outliers`' mean/stddev z-score, for
    * the heavy-tailed distributions where mean and stddev are themselves
    * dragged by the outliers. median = rank-(n+1)/2 of floor(value); MAD =
    * the same rank over |v − median|; outliers = rows with |v − median| >
    * 3·MAD.
    *
    * Plan: the value-HISTOGRAM rank pattern (`q_percentiles`) applied
    * TWICE, chained — the raw table folds once into (event_type, v)
    * counts, the median is read off the cumulative distinct-value frame,
    * the deviation histogram derives from the value histogram (never from
    * the raw data again — |hist| rows, not |rows|), and the MAD and
    * outlier count read off that. One data-sized pass total; every window
    * input is bounded by the value domain. Integer-exact end to end. */
  def madOutliersQ(spark: SparkSession, sfDir: String): DataFrame = {
    val v = floor(col("value")).cast("long")
    val byV = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val byDev = Window.partitionBy(col("event_type")).orderBy(col("dev"))
    val all = Window.partitionBy(col("event_type"))
    val rank = ((col("n") + 1) / 2).cast("long") // ceil-rank of the median
    // hist feeds the median probe AND the deviation fold; devHist feeds
    // the MAD probe AND the final rollup — both MATERIALIZED per the
    // multi-consumer rule (winsorizeQ/spearmanQ discipline), or the
    // data-sized histogram aggregation re-executes per consuming branch
    val hist = graft.engine.Materialize.diskBacked(
      Tables.events(spark, sfDir)
        .select(col("event_type"), v.as("v"))
        .groupBy(col("event_type"), col("v"))
        .agg(Num.countStar.as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(byV))
        .withColumn("n", sum(col("cnt")).over(all)))
    val med = hist.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        min(when(col("cum") >= rank, col("v"))).as("median"))
    val devHist = graft.engine.Materialize.diskBacked(hist
      .join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), abs(col("v") - col("median")).as("dev"),
        col("cnt"))
      .groupBy(col("event_type"), col("dev"))
      .agg(sum(col("cnt")).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(byDev))
      .withColumn("n", sum(col("cnt")).over(all)))
    val mad = devHist.groupBy(col("event_type"))
      .agg(min(when(col("cum") >= rank, col("dev"))).as("mad"))
    devHist.select(col("event_type"), col("dev"), col("cnt"))
      .join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("median")).as("median"),
        max(col("mad")).as("mad"),
        coalesce(sum(when(col("dev") > col("mad") * 3, col("cnt"))), lit(0L))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  val madOutliersOracle: String =
    """WITH t AS (
      |  SELECT event_type, CAST(floor(value) AS BIGINT) AS v FROM events),
      |h AS (SELECT event_type, v, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, v, cnt,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |med AS (
      |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS median
      |  FROM c GROUP BY 1),
      |h2 AS (
      |  SELECT c.event_type, ABS(c.v - m.median) AS dev,
      |    CAST(SUM(c.cnt) AS BIGINT) AS cnt
      |  FROM c JOIN med m USING (event_type) GROUP BY 1, 2),
      |c2 AS (
      |  SELECT event_type, dev, cnt,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h2),
      |madt AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
      |  FROM c2 GROUP BY 1)
      |SELECT m.event_type, m.n_events, m.median, d.mad,
      |  CAST(COALESCE(SUM(CASE WHEN h2.dev > 3 * d.mad THEN h2.cnt END), 0)
      |    AS BIGINT) AS n_outliers
      |FROM med m JOIN madt d USING (event_type) JOIN h2 USING (event_type)
      |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin

  /** `q_linfit`: per-group least-squares trend (value vs. day) from EXACT
    * integer moment sums — n, Σx, Σy, Σxx, Σxy over (x = days since
    * 2024-01-01, y = floor(value)) — plus the closed-form slope as an exact
    * rational (slope_num / slope_den = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²));
    * intercept = (Σy − slope·Σx)/n is the caller's one division. The whole
    * fit is ONE two-phase hash aggregate — the textbook
    * reduce-to-sufficient-statistics pattern that makes regression free at
    * 100 TB (constant state per group; map-side combine does nearly all the
    * work). BIGINT is safe to ~10¹⁸ products at harness scale; a
    * petabyte-rows run would lift the sums to decimal like
    * `q_dedup_clusters`' convergence witness. */
  def linfitQ(spark: SparkSession, sfDir: String): DataFrame = {
    val x = datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
      .cast("long")
    val y = floor(col("value")).cast("long")
    Tables.events(spark, sfDir)
      .select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy(col("event_type"))
      .agg(Num.countStar.as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("sxy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .orderBy(col("event_type"))
  }

  /** `q_concentration`: activity-concentration (Herfindahl) report per
    * event_type — is the type's volume spread across many users or
    * dominated by a few? HHI = Σ (cntᵤ/n)² emitted as the exact rational
    * (ssq, n²); n_users beside it gives the 1/n_users perfectly-even
    * floor. The skew diagnosis a pipeline runs BEFORE picking salting
    * constants (`q_skew_profile`'s per-key cousin, keyed by user).
    *
    * Plan: two chained two-phase hash aggregates — (type, user) counts,
    * then per-type moments over that user-sized frame. Constant state per
    * group, no window, no distinct-expansion. Exact integers end to end
    * (BIGINT holds ssq to ~3·10⁹ events per user-type; decimal beyond,
    * as in `q_linfit`). */
  def concentrationQ(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(Num.countStar.as("cnt"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_events"),
        Num.countStar.as("n_users"),
        sum(col("cnt") * col("cnt")).as("hhi_num"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        col("hhi_num"),
        (col("n_events") * col("n_events")).as("hhi_den"))
      .orderBy(col("event_type"))
  }

  val concentrationOracle: String =
    """WITH u AS (
      |  SELECT event_type, user_id, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type,
      |  CAST(SUM(cnt) AS BIGINT) AS n_events,
      |  COUNT(*) AS n_users,
      |  CAST(SUM(cnt * cnt) AS BIGINT) AS hhi_num,
      |  CAST(SUM(cnt) AS BIGINT) * CAST(SUM(cnt) AS BIGINT) AS hhi_den
      |FROM u GROUP BY 1 ORDER BY event_type""".stripMargin

  /** `q_spearman`: Spearman rank correlation between floor(value) and
    * hour-of-day per event_type — the robust (monotone-invariant)
    * dependence measure beside `q_linfit`'s linear fit, computed EXACTLY:
    * tie-averaged ranks come from the X22 value-histogram pattern (avg
    * rank of v, doubled to stay integral: r2 = 2·cum_prev + cnt + 1 over
    * the distinct-value frame), the two domain-sized rank maps broadcast
    * back onto the rows, and one two-phase aggregate folds the exact rank
    * moment sums (n, Σx, Σy, Σxx, Σyy, Σxy over the doubled ranks).
    * ρ = (n·Σxy − Σx·Σy) / √((n·Σxx − Σx²)(n·Σyy − Σy²)) is the caller's
    * one irrational op — everything emitted here is an exact BIGINT, so
    * the gate is bit-exact where a float-rank implementation would drift.
    *
    * Plan: two histogram aggregates (domain-bounded), two broadcast
    * joins, one data-sized moment fold — no window ever touches
    * row-proportional input (the classic rank() implementation would
    * total-sort each type through one reducer). */
  def spearmanQ(spark: SparkSession, sfDir: String): DataFrame = {
    // Three consumers (two rank2 histograms + the moment fold) — materialize
    // once so the events scan/projection doesn't run three times.
    val base = graft.engine.Materialize.diskBacked(
      Tables.events(spark, sfDir)
        .select(col("event_type"), floor(col("value")).cast("long").as("v"),
          hour(col("ts")).cast("long").as("h")))
    def rank2(df: DataFrame, key: String, out: String): DataFrame = {
      val byK = Window.partitionBy(col("event_type")).orderBy(col(key))
      df.groupBy(col("event_type"), col(key))
        .agg(Num.countStar.as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(byK))
        .select(col("event_type"), col(key),
          (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1).as(out))
    }
    base
      .join(broadcast(rank2(base, "v", "rx")), Seq("event_type", "v"))
      .join(broadcast(rank2(base, "h", "ry")), Seq("event_type", "h"))
      .groupBy(col("event_type"))
      .agg(Num.countStar.as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
      .orderBy(col("event_type"))
  }

  val spearmanOracle: String =
    """WITH base AS (
      |  SELECT event_type, CAST(floor(value) AS BIGINT) AS v,
      |    CAST(hour(ts) AS BIGINT) AS h
      |  FROM events),
      |rv AS (
      |  SELECT event_type, v,
      |    2 * (SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) - cnt)
      |      + cnt + 1 AS rx
      |  FROM (SELECT event_type, v, COUNT(*) AS cnt FROM base GROUP BY 1, 2)),
      |rh AS (
      |  SELECT event_type, h,
      |    2 * (SUM(cnt) OVER (PARTITION BY event_type ORDER BY h) - cnt)
      |      + cnt + 1 AS ry
      |  FROM (SELECT event_type, h, COUNT(*) AS cnt FROM base GROUP BY 1, 2))
      |SELECT b.event_type, COUNT(*) AS n,
      |  CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
      |  CAST(SUM(rx * rx) AS BIGINT) AS sxx,
      |  CAST(SUM(ry * ry) AS BIGINT) AS syy,
      |  CAST(SUM(rx * ry) AS BIGINT) AS sxy
      |FROM base b
      |JOIN rv ON rv.event_type = b.event_type AND rv.v = b.v
      |JOIN rh ON rh.event_type = b.event_type AND rh.h = b.h
      |GROUP BY 1 ORDER BY b.event_type""".stripMargin

  /** `q_twap`: time-weighted average — the metric that de-biases
    * irregular sampling (a value that held for 6 hours must outweigh one
    * that held for 6 seconds; the plain AVG the naive report would take is
    * wrong whenever arrival rate correlates with level — the classic
    * finance/metrics trap). Per (user, day): each event's floored value
    * weighted by its exact microsecond holding time (gap to the next
    * event that day; the day's last observation closes at the day end),
    * emitted as the exact integer (Σ v·Δt, Σ Δt) pair — the division is
    * the caller's, the gate stays bit-exact.
    *
    * Plan: one lead() over the per-user ordered window (fine-grained
    * partitions), then a two-phase (user, day) aggregate sharing the same
    * user-hash exchange. BIGINT holds v·Δt to ~10¹⁵ µs·unit comfortably;
    * decimal beyond, as documented for X72. */
  def twapQ(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts"))
    val dayEndUs = unix_micros(
      date_trunc("day", col("ts")) + expr("interval 1 day"))
    val nextUs = lead(us, 1).over(byUser)
    val holdUs = when(
      nextUs.isNotNull && (nextUs < dayEndUs), nextUs - us)
      .otherwise(dayEndUs - us)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value")).cast("long").as("v"))
      .withColumn("hold_us", holdUs)
      .groupBy(col("user_id"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(Num.countStar.as("n_obs"),
        sum(col("v") * col("hold_us")).as("twap_num"),
        sum(col("hold_us")).as("twap_den"))
      .orderBy(col("user_id"), col("day"))
  }

  val twapOracle: String =
    """WITH t AS (
      |  SELECT user_id, ts, event_id, CAST(floor(value) AS BIGINT) AS v,
      |    epoch_us(ts) AS us,
      |    epoch_us(date_trunc('day', ts) + INTERVAL 1 DAY) AS day_end_us,
      |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
      |                             ORDER BY ts, event_id) AS next_us
      |  FROM events),
      |h AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, v,
      |    CASE WHEN next_us IS NOT NULL AND next_us < day_end_us
      |         THEN next_us - us ELSE day_end_us - us END AS hold_us
      |  FROM t)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day, COUNT(*) AS n_obs,
      |  CAST(SUM(v * hold_us) AS BIGINT) AS twap_num,
      |  CAST(SUM(hold_us) AS BIGINT) AS twap_den
      |FROM h GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin

  val linfitOracle: String =
    """WITH t AS (
      |  SELECT event_type,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
      |      AS x,
      |    CAST(floor(value) AS BIGINT) AS y
      |  FROM events),
      |s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM t GROUP BY 1)
      |SELECT event_type, n, sx, sy, sxx, sxy,
      |  n * sxy - sx * sy AS slope_num,
      |  n * sxx - sx * sx AS slope_den
      |FROM s ORDER BY event_type""".stripMargin

  val profileOracle: String =
    """SELECT * FROM (
      |  SELECT 'l_orderkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_nulls,
      |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
      |    CAST(MIN(l_orderkey) AS VARCHAR) AS min_value,
      |    CAST(MAX(l_orderkey) AS VARCHAR) AS max_value
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT),
      |    CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
      |    CAST(CAST(MIN(l_quantity) AS DECIMAL(12,2)) AS VARCHAR),
      |    CAST(CAST(MAX(l_quantity) AS DECIMAL(12,2)) AS VARCHAR)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
      |    CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
      |    MIN(l_returnflag), MAX(l_returnflag)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_shipdate', CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
      |    CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
      |    strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S'),
      |    strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S')
      |  FROM lineitem)
      |ORDER BY "column"""".stripMargin

  /** X108 `q_winsorize`: winsorized aggregation — robust totals that
    * survive fat-tailed/corrupt value distributions by clamping to the
    * [p05, p95] band instead of dropping rows (trimming loses mass;
    * winsorizing preserves row count, the standard robust-metrics trade).
    *
    * The scale shape is the X22/X71 histogram-rank discipline, extended to
    * the AGGREGATE itself: the only data-sized operation is the one
    * two-phase fold to the per-(type, value) histogram. Thresholds read off
    * the cumulative histogram (ceil-rank formula), and — the point — the
    * winsorized sum is computed FROM THE HISTOGRAM (Σ cnt·clamp(v)), never
    * by re-scanning events with a clamp expression, so the clamped rollup
    * costs |domain| rows. A naive clamp-then-sum would pay a second full
    * pass + carry the thresholds through a data-sized join; here the join
    * is histogram ⋈ broadcast(5-row thresholds). All arithmetic exact
    * BIGINT on the floor-quantized domain (the percentilesQ convention).
    * The histogram feeds two consumers (threshold window + clamped rollup)
    * — materialized once, the multi-consumer rule. */
  def winsorizeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Materialize.diskBacked(
      Tables.events(spark, sfDir)
        .select(col("event_type"), floor(col("value")).cast("long").as("v"))
        .groupBy(col("event_type"), col("v"))
        .agg(Num.countStar.as("cnt")))
    val byV = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val all = Window.partitionBy(col("event_type"))
    // v is unique per type in the histogram, so the RANGE-frame cumulative
    // has no peer ambiguity on either engine
    val thr = hist
      .withColumn("cum", sum(col("cnt")).over(byV))
      .withColumn("n", sum(col("cnt")).over(all))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        // ceil(p·n) as (p_num·n + 99) / 100 — integer ceil-rank
        min(when(col("cum") >= ((col("n") * 5 + 99) / 100).cast("long"),
          col("v"))).as("lo"),
        min(when(col("cum") >= ((col("n") * 95 + 99) / 100).cast("long"),
          col("v"))).as("hi"))
    val clamped = greatest(least(col("v"), col("hi")), col("lo"))
    hist.join(broadcast(thr), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(col("cnt") * col("v")).as("sum_raw"),
        sum(col("cnt") * clamped).as("sum_winsorized"),
        sum(when(col("v") < col("lo"), col("cnt")).otherwise(lit(0L)))
          .as("n_clamped_lo"),
        sum(when(col("v") > col("hi"), col("cnt")).otherwise(lit(0L)))
          .as("n_clamped_hi"))
      .orderBy(col("event_type"))
  }

  val winsorizeOracle: String =
    """WITH t AS (
      |  SELECT event_type, CAST(floor(value) AS BIGINT) AS v FROM events),
      |h AS (SELECT event_type, v, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
      |c AS (SELECT event_type, v, cnt,
      |        SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |        SUM(cnt) OVER (PARTITION BY event_type) AS n
      |      FROM h),
      |thr AS (SELECT event_type, MAX(n) AS n_events,
      |        MIN(CASE WHEN cum >= (5 * n + 99) // 100 THEN v END) AS lo,
      |        MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN v END) AS hi
      |        FROM c GROUP BY 1)
      |SELECT h.event_type,
      |  CAST(MAX(thr.n_events) AS BIGINT) AS n_events,
      |  MAX(thr.lo) AS lo, MAX(thr.hi) AS hi,
      |  CAST(SUM(h.cnt * h.v) AS BIGINT) AS sum_raw,
      |  CAST(SUM(h.cnt * GREATEST(LEAST(h.v, thr.hi), thr.lo)) AS BIGINT)
      |    AS sum_winsorized,
      |  CAST(SUM(CASE WHEN h.v < thr.lo THEN h.cnt ELSE 0 END) AS BIGINT)
      |    AS n_clamped_lo,
      |  CAST(SUM(CASE WHEN h.v > thr.hi THEN h.cnt ELSE 0 END) AS BIGINT)
      |    AS n_clamped_hi
      |FROM h JOIN thr USING (event_type)
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** X112 `q_skyline`: 2-D Pareto frontier (skyline) — customers no other
    * customer beats on BOTH axes (spend higher-or-equal AND order count
    * lower-or-equal, strictly better somewhere): the multi-objective
    * "best trade-offs" query behind pricing/efficiency analyses, and the
    * second instantiation of the distributed scan primitive.
    *
    * The textbook sequential rule: sort by (spend DESC, n ASC); a point is
    * on the frontier iff its n is strictly below the running MIN(n) of
    * everything before it. That running min over one global order is
    * `graft.engine.Scan.exclusivePrefix` with the (min, +∞) monoid — the
    * exact machinery X103 uses with (+, 0) — so the frontier costs two
    * narrow passes over the DISTINCT (spend, n) frame, never a
    * single-partition window and never the O(n²) NOT-EXISTS join.
    * Dominance is decided on the distinct frame (duplicates of a frontier
    * point must all survive — neither dominates the other), then survivors
    * join back to customers. Spend stays exact DECIMAL end to end; the
    * double cast happens only at emission (the money convention). */
  def skylineQ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pts = Materialize.diskBacked(
      Tables.orders(spark, sfDir)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"),
          Num.countStar.as("n")))
    val nPart = spark.sessionState.conf.numShufflePartitions
    val sorted = pts.select(col("spend"), col("n")).distinct()
      .repartitionByRange(nPart, col("spend").desc, col("n").asc)
      .sortWithinPartitions(col("spend").desc, col("n").asc)
      .as[(BigDecimal, Long)]
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val sky = spark.createDataset(
      graft.engine.Scan.exclusivePrefix[(BigDecimal, Long), Long](
        sorted.rdd, Long.MaxValue, _._2, math.min)
        .filter { case (preMin, (_, n)) => n < preMin }
        .map(_._2)).toDF("spend", "n")
    pts.join(sky, Seq("spend", "n"))
      .select(col("o_custkey"), col("spend").cast("double").as("spend"),
        col("n").as("n_orders"))
      .orderBy(col("spend").desc, col("n_orders"), col("o_custkey"))
  }

  val skylineOracle: String =
    """WITH pts AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend,
      |    COUNT(*) AS n
      |  FROM orders GROUP BY 1),
      |d AS (SELECT DISTINCT spend, n FROM pts),
      |m AS (SELECT spend, n,
      |        MIN(n) OVER (ORDER BY spend DESC, n ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS premin
      |      FROM d),
      |sky AS (SELECT spend, n FROM m WHERE premin IS NULL OR n < premin)
      |SELECT p.o_custkey, CAST(p.spend AS DOUBLE) AS spend, p.n AS n_orders
      |FROM pts p JOIN sky s ON p.spend = s.spend AND p.n = s.n
      |ORDER BY spend DESC, n_orders, o_custkey""".stripMargin

  /** The two samples whose value distributions the KS gate compares. */
  val KsSampleA = "view"
  val KsSampleB = "purchase"

  /** X113 `q_ks_test`: exact two-sample Kolmogorov–Smirnov distance — the
    * distribution-drift detector a training-data pipeline runs between
    * yesterday's corpus and today's (here: between two event populations):
    * D = max over the merged value domain of |F_A(v) − F_B(v)|. Drift
    * monitors usually bin and approximate; on a QUANTIZED value domain the
    * X22 histogram-rank discipline gives the EXACT statistic in one data
    * pass — per-sample value histograms (the only data-sized fold), full
    * outer merge on the ≤56k-cell domain, cumulative counts, and the
    * supremum as the all-integer cross-product |cumA·n_B − cumB·n_A| (the
    * float division D itself is left to the caller: num/(n_A·n_B) — the
    * exact-rational convention X72/X79 follow). Ties in the supremum
    * resolve to the smallest attaining value, so the gate pins WHERE the
    * distributions diverge most, not just by how much. Windows run on the
    * merged DISTINCT-VALUE frame only (domain-bounded single partition —
    * the X22/X107 rule). */
  def ksTestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val v = floor(col("value")).cast("long")
    val hist = Tables.events(spark, sfDir)
      .filter(col("event_type").isin(KsSampleA, KsSampleB))
      .select(col("event_type"), v.as("v"))
      .groupBy(col("v"))
      .agg(
        sum(when(col("event_type") === KsSampleA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === KsSampleB, 1L).otherwise(0L)).as("cb"))
    val byV = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val scored = hist
      .withColumn("cuma", sum(col("ca")).over(byV))
      .withColumn("cumb", sum(col("cb")).over(byV))
      .withColumn("na", sum(col("ca")).over(all))
      .withColumn("nb", sum(col("cb")).over(all))
      .withColumn("d", abs(col("cuma") * col("nb") - col("cumb") * col("na")))
      .withColumn("dmax", max(col("d")).over(all))
    scored.groupBy(col("na").as("n_a"), col("nb").as("n_b"))
      .agg(max(col("d")).as("d_num"),
        min(when(col("d") === col("dmax"), col("v"))).as("at_v"))
      .orderBy(col("n_a"))
  }

  val ksTestOracle: String =
    s"""WITH h AS (
       |  SELECT CAST(floor(value) AS BIGINT) AS v,
       |    CAST(SUM(CASE WHEN event_type = '${KsSampleA}' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN event_type = '${KsSampleB}' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cb
       |  FROM events WHERE event_type IN ('${KsSampleA}', '${KsSampleB}')
       |  GROUP BY 1),
       |c AS (
       |  SELECT v,
       |    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
       |    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
       |    SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
       |  FROM h),
       |s AS (
       |  SELECT v, na, nb, ABS(cuma * nb - cumb * na) AS d,
       |    MAX(ABS(cuma * nb - cumb * na)) OVER () AS dmax
       |  FROM c)
       |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  CAST(MAX(d) AS BIGINT) AS d_num,
       |  MIN(CASE WHEN d = dmax THEN v END) AS at_v
       |FROM s GROUP BY na, nb ORDER BY n_a""".stripMargin

  /** X120 `q_chi2`: χ² test of independence between two categorical
    * columns (documents lang × source) — the standard "did my corpus mix
    * shift" / "is this attribute correlated with that one" check a data
    * pipeline runs per snapshot.
    *
    * Scale shape: the raw table folds to the CONTINGENCY TABLE first (one
    * map-side-combined groupBy → |lang|·|source| cells, bounded by the
    * category domains, not the data volume); marginals and the grand total
    * are windows OVER THE CELLS. Everything after the first aggregate
    * touches ≤ domain² rows — this is what survives 100 TB, vs. the
    * textbook per-row expected-count join.
    *
    * Numeric contract: each cell's χ² term is (n·o − rl·cs)²/(n·rl·cs) —
    * numerator and the three factors stay EXACT 64-bit integers (bounded:
    * n·o ≤ n² and n³ < 2⁶³ up to n ≈ 2M docs per verify scale; at larger
    * corpora the counts themselves become the cells and the same algebra
    * runs in DECIMAL); only the final division and per-lang sum are
    * floating, collapsed with the repo's cross-engine round6. */
  def chi2Q(spark: SparkSession, sfDir: String): DataFrame = {
    val byLang = Window.partitionBy(col("lang"))
    val bySource = Window.partitionBy(col("source"))
    val all = Window.partitionBy()
    val num = col("n") * col("o") - col("rl") * col("cs")
    val contrib = (num * num).cast("double") /
      (col("n") * col("rl") * col("cs")).cast("double")
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(Num.countStar.as("o"))
      .withColumn("rl", sum(col("o")).over(byLang))
      .withColumn("cs", sum(col("o")).over(bySource))
      .withColumn("n", sum(col("o")).over(all))
      .groupBy(col("lang"))
      .agg(max(col("rl")).as("n_docs"),
        Num.countStar.as("n_cells"),
        (floor(sum(contrib) * 1e6 + 0.5) / 1e6).as("chi2_part"))
      .orderBy(col("lang"))
  }

  val chi2Oracle: String =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      |t AS (
      |  SELECT lang, o,
      |    SUM(o) OVER (PARTITION BY lang) AS rl,
      |    SUM(o) OVER (PARTITION BY source) AS cs,
      |    SUM(o) OVER () AS n
      |  FROM cells)
      |SELECT lang, CAST(MAX(rl) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_cells,
      |  floor(SUM(CAST((n*o - rl*cs)*(n*o - rl*cs) AS DOUBLE)
      |            / CAST(n*rl*cs AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS chi2_part
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** X126 `q_label_weights`: class distribution + inverse-frequency
    * training weights over the embeddings labels — the step every
    * classifier pipeline runs before sampling (weight = n/(k·n_c), the
    * "balanced" class-weight formula: rare classes upweighted so each
    * class contributes equal total mass). One map-side-combined count per
    * label; the k-and-n normalizer is a window over the label-sized frame.
    * All inputs exact integers; the single division is collapsed with the
    * cross-engine round6. */
  def labelWeightsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Window.partitionBy()
    Tables.embeddings(spark, sfDir)
      .groupBy(col("label"))
      .agg(Num.countStar.as("n"))
      .withColumn("n_total", sum(col("n")).over(all))
      .withColumn("n_classes", Num.countStar.over(all))
      .select(col("label"), col("n"),
        (floor(col("n_total").cast("double") /
          (col("n_classes") * col("n")).cast("double") * 1e6 + 0.5) / 1e6)
          .as("weight"))
      .orderBy(col("label"))
  }

  val labelWeightsOracle: String =
    """WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
      |t AS (
      |  SELECT label, n, SUM(n) OVER () AS n_total, COUNT(*) OVER () AS n_classes
      |  FROM c)
      |SELECT label, n,
      |  floor(CAST(n_total AS DOUBLE) / CAST(n_classes * n AS DOUBLE)
      |    * 1e6 + 0.5) / 1e6 AS weight
      |FROM t ORDER BY label""".stripMargin

  // `q_autocorr`: lag-k autocorrelation moments of the daily series

  /** Maximum lag (days) reported. */
  val AutocorrMaxLag = 7

  /** `q_autocorr`: lag-1..k autocorrelation sufficient statistics of the
    * daily event-count series — the seasonality/trend diagnostic behind
    * traffic anomaly detection and forecast sanity checks (lag-7 spikes =
    * weekly cycle). Emits exact integer moments per lag (n, Σx, Σy, Σx²,
    * Σy², Σxy over the (day, day−lag) count pairs); the correlation
    * division stays caller-side (spearman/linfit convention).
    *
    * Scale shape: the corpus collapses to the DATE DOMAIN first (one
    * map-side-combined aggregate — days, not events), so everything after
    * runs on a calendar-bounded frame: the lag pairing is a self-join of
    * the daily frame against its date_sub image (gaps in the calendar
    * drop out naturally, no densification step needed), fanned by the k
    * lags — k·|days| rows total. The daily frame is materialized once
    * because it feeds both sides of the pairing (the multi-consumer
    * rule). */
  def autocorrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = graft.engine.Materialize.diskBacked(
      Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(Num.countStar.as("c")))
    val lags = spark.range(1, AutocorrMaxLag + 1)
      .select(col("id").cast("int").as("lag"))
    daily.as("x")
      .crossJoin(broadcast(lags))
      .join(daily.as("y"),
        col("y.day") === date_sub(col("x.day"), col("lag")))
      .groupBy(col("lag").cast("long").as("lag"))
      .agg(Num.countStar.as("n"),
        sum(col("x.c")).as("s_x"), sum(col("y.c")).as("s_y"),
        sum(col("x.c") * col("x.c")).as("s_xx"),
        sum(col("y.c") * col("y.c")).as("s_yy"),
        sum(col("x.c") * col("y.c")).as("s_xy"))
      .orderBy(col("lag"))
  }

  val autocorrOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
       |  FROM events GROUP BY 1),
       |lags AS (SELECT unnest(generate_series(1, ${AutocorrMaxLag})) AS lag),
       |pairs AS (
       |  SELECT l.lag, x.c AS cx, y.c AS cy
       |  FROM daily x
       |  CROSS JOIN lags l
       |  JOIN daily y ON y.day = x.day - CAST(l.lag AS INTEGER))
       |SELECT CAST(lag AS BIGINT) AS lag, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(cx) AS BIGINT) AS s_x, CAST(SUM(cy) AS BIGINT) AS s_y,
       |  CAST(SUM(cx * cx) AS BIGINT) AS s_xx,
       |  CAST(SUM(cy * cy) AS BIGINT) AS s_yy,
       |  CAST(SUM(cx * cy) AS BIGINT) AS s_xy
       |FROM pairs GROUP BY 1 ORDER BY lag""".stripMargin

  // `q_crosscorr`: lead-lag cross-correlation between two daily series

  /** Lag range (±days) and the two series under comparison. */
  val CrossCorrMaxLag = 7
  val CrossCorrA = "view"
  val CrossCorrB = "purchase"

  /** `q_crosscorr` (X227): lagged CROSS-correlation sufficient statistics
    * between two daily event-type series — the lead-lag diagnostic X132's
    * autocorrelation cannot answer: does today's `view` traffic predict
    * `purchase` traffic k days LATER (positive lags), or does purchase
    * volume lead views (negative lags)? The funnel-latency and
    * campaign-attribution question, asked of the raw count series. Emits,
    * per lag in −k..k, the exact integer moments (n, Σa, Σb, Σa², Σb²,
    * Σab) over the (day, day−lag) pairs, where a = series-A count at day
    * d and b = series-B count at day d−lag; the correlation division
    * stays caller-side (the X83/X72/X132 convention — exact integers
    * cross the engine boundary, floats never do).
    *
    * Scale shape: the X132 discipline — the corpus collapses to the DATE
    * DOMAIN first (one map-side-combined aggregate builds BOTH series as
    * two conditional-sum columns of a single daily frame — one scan, not
    * two), so the lag pairing is a calendar-bounded self-join fanned by
    * 2k+1 broadcast lags. The daily frame feeds both sides of the
    * pairing, hence materialized once (the multi-consumer rule). */
  def crosscorrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Materialize.diskBacked(
      Tables.events(spark, sfDir)
        .filter(col("event_type").isin(CrossCorrA, CrossCorrB))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === CrossCorrA, 1L).otherwise(0L))
            .as("ca"),
          sum(when(col("event_type") === CrossCorrB, 1L).otherwise(0L))
            .as("cb")))
    val lags = spark.range(-CrossCorrMaxLag.toLong, CrossCorrMaxLag + 1L)
      .select(col("id").cast("int").as("lag"))
    daily.as("x")
      .crossJoin(broadcast(lags))
      .join(daily.as("y"),
        col("y.day") === date_sub(col("x.day"), col("lag")))
      .groupBy(col("lag").cast("long").as("lag"))
      .agg(Num.countStar.as("n"),
        sum(col("x.ca")).as("s_a"), sum(col("y.cb")).as("s_b"),
        sum(col("x.ca") * col("x.ca")).as("s_aa"),
        sum(col("y.cb") * col("y.cb")).as("s_bb"),
        sum(col("x.ca") * col("y.cb")).as("s_ab"))
      .orderBy(col("lag"))
  }

  val crosscorrOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    SUM(CASE WHEN event_type = '${CrossCorrA}' THEN 1 ELSE 0 END)
       |      AS ca,
       |    SUM(CASE WHEN event_type = '${CrossCorrB}' THEN 1 ELSE 0 END)
       |      AS cb
       |  FROM events
       |  WHERE event_type IN ('${CrossCorrA}', '${CrossCorrB}')
       |  GROUP BY 1),
       |lags AS (SELECT unnest(generate_series(-${CrossCorrMaxLag},
       |  ${CrossCorrMaxLag})) AS lag),
       |pairs AS (
       |  SELECT l.lag, x.ca AS ca, y.cb AS cb
       |  FROM daily x
       |  CROSS JOIN lags l
       |  JOIN daily y ON y.day = x.day - CAST(l.lag AS INTEGER))
       |SELECT CAST(lag AS BIGINT) AS lag, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(ca) AS BIGINT) AS s_a, CAST(SUM(cb) AS BIGINT) AS s_b,
       |  CAST(SUM(ca * ca) AS BIGINT) AS s_aa,
       |  CAST(SUM(cb * cb) AS BIGINT) AS s_bb,
       |  CAST(SUM(ca * cb) AS BIGINT) AS s_ab
       |FROM pairs GROUP BY 1 ORDER BY lag""".stripMargin

  // `q_corr_matrix`: one-pass pairwise correlation moments

  /** Numeric lineitem columns for the moment matrix, sorted so the pair
    * enumeration (i < j) and the output order agree. */
  val CorrCols: Seq[String] =
    Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")

  private def corrPairs: Seq[(String, String)] =
    for { i <- CorrCols.indices; j <- i + 1 until CorrCols.size }
      yield (CorrCols(i), CorrCols(j))

  /** `q_corr_matrix`: the full pairwise Pearson moment matrix over k
    * numeric columns in ONE pass — the feature-diagnostics job a training
    * pipeline runs before deciding what correlates with quality/label
    * signals. Emits, per unordered column pair, the exact sufficient
    * statistics (n, Σa, Σb, Σa², Σb², Σab); corr(a,b) is then
    * (n·Σab − Σa·Σb)/√((n·Σa²−Σa²)(n·Σb²−Σb²)) for the caller — the
    * spearman/linfit convention: exact integers cross the engine
    * boundary, float division stays caller-side.
    *
    * Scale shape: a SINGLE map-side-combined aggregate computes all
    * k + k·(k+1)/2 + 1 moments in one scan (two-phase partial/final hash
    * aggregate, 1-row output) — NOT k² scans or a per-pair job; the pair
    * reshape explodes the one aggregate row into k·(k−1)/2 rows, free at
    * any scale. Exactness: values are 2-decimal, so ×100 quantization
    * through DECIMAL(18,2) is exact integers; per-row products stay below
    * 2^63 (quantized |x| ≤ ~10⁷); sums run as DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB) — associative, order-independent — and the moments
    * cross the engine boundary as exact decimal STRINGS: Σx² exceeds 2^53
    * at sf0.1 already, where Spark's BigDecimal→double (correctly
    * rounded) and DuckDB's HUGEINT→double diverge in the last ulp — the
    * X105 pinned-serialization rule, applied to sufficient statistics. */
  def corrMatrixQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val quantized = Tables.lineitem(spark, sfDir).select(
      CorrCols.map(c =>
        (col(c).cast(DecimalType(18, 2)) * 100).cast("long").as(c)): _*)
    def exactSum(c: Column): Column = sum(c.cast(DecimalType(38, 0))).cast("string")
    val moments: Seq[Column] =
      Seq(Num.countStar.as("n")) ++
        CorrCols.flatMap(c => Seq(
          exactSum(col(c)).as(s"s1_$c"),
          exactSum(col(c) * col(c)).as(s"s2_$c"))) ++
        corrPairs.map { case (a, b) =>
          exactSum(col(a) * col(b)).as(s"sp_${a}_$b") }
    val agg = quantized.agg(moments.head, moments.tail: _*)
    val pairStructs = corrPairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        col(s"s1_$a").as("s_a"), col(s"s1_$b").as("s_b"),
        col(s"s2_$a").as("s_aa"), col(s"s2_$b").as("s_bb"),
        col(s"sp_${a}_$b").as("s_ab"))
    }
    agg.select(explode(array(pairStructs: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_a"), col("col_b"))
  }

  val corrMatrixOracle: String = {
    val sel = CorrCols.map(c =>
      s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT) AS $c").mkString(", ")
    val moments =
      ("CAST(COUNT(*) AS BIGINT) AS n" +:
        CorrCols.flatMap(c => Seq(
          s"CAST(SUM($c) AS VARCHAR) AS s1_$c",
          s"CAST(SUM($c * $c) AS VARCHAR) AS s2_$c")) ++:
        corrPairs.map { case (a, b) =>
          s"CAST(SUM($a * $b) AS VARCHAR) AS sp_${a}_$b" }).mkString(",\n    ")
    val rows = corrPairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n, s1_$a AS s_a, s1_$b AS s_b,
         |  s2_$a AS s_aa, s2_$b AS s_bb, sp_${a}_$b AS s_ab FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT $sel FROM lineitem),
       |m AS (
       |  SELECT $moments
       |  FROM q)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  // `q_ewma`: finite-window exponential smoothing

  /** Decay per step (newest event weighted 1/2, next 1/4, ...). A dyadic
    * factor is the determinism trick: pow(0.5, k) is an EXACT power of
    * two, and value * 2^-k is a pure exponent shift — no mantissa
    * rounding — so the only rounded ops are the shared quantization
    * sequence (*1e9, +0.5, floor), identical single IEEE ops both
    * engines. */
  val EwmaDecay = 0.5
  /** Events per user in the smoothing window (the operator is DEFINED as
    * the K-term truncated EWMA — the streaming-state-bounded form — not
    * an approximation of the infinite recursion). */
  val EwmaWindow = 16

  /** `q_ewma`: per-user exponentially weighted moving average of event
    * value over the K most recent events — the recency-weighted activity
    * score that feeds engagement ranking and churn features. The
    * recursive form s_i = a*v_i + (1-a)*s_{i-1} is sequential per key;
    * the closed form sum_k v_k * a^k (k = recency rank) is one window
    * rank + one aggregate — embarrassingly parallel.
    *
    * Scale shape: one shuffle on user_id; the row_number window and both
    * per-user aggregates reuse that exchange (same key), and the window
    * frame is truncated to K rows per user before any arithmetic — state
    * is O(K) per key exactly like the mapGroupsWithState form a streaming
    * twin would keep. Cross-engine: terms quantized to 1e-9 and summed as
    * DECIMAL (associative, order-independent); final /1e9 is one double
    * division. */
  def ewmaQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val wAll = Window.partitionBy(col("user_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("value"),
        row_number().over(w).as("rn"),
        Num.countStar.over(wAll).as("n_events"))
      .filter(col("rn") <= EwmaWindow)
      .select(col("user_id"), col("n_events"),
        floor(col("value") * pow(lit(EwmaDecay), col("rn")) * lit(1e9)
          + lit(0.5)).cast(DecimalType(38, 0)).as("tq"))
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        (sum(col("tq")).cast("double") / lit(1e9)).as("ewma"))
      .orderBy(col("user_id"))
  }

  val ewmaOracle: String =
    s"""WITH r AS (
       |  SELECT user_id, value,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
       |  FROM events),
       |t AS (
       |  SELECT user_id, n_events,
       |    CAST(FLOOR(value * POWER(${EwmaDecay}, rn) * 1e9 + 0.5)
       |      AS DECIMAL(38,0)) AS tq
       |  FROM r WHERE rn <= ${EwmaWindow})
       |SELECT user_id, CAST(MAX(n_events) AS BIGINT) AS n_events,
       |  CAST(SUM(tq) AS DOUBLE) / 1e9 AS ewma
       |FROM t GROUP BY 1 ORDER BY user_id""".stripMargin

  // `q_mannwhitney`: exact rank-sum drift test

  /** The two event populations compared (distribution of `value`). */
  val MwGroupX = "click"
  val MwGroupY = "view"

  /** `q_mannwhitney`: exact Mann-Whitney U (Wilcoxon rank-sum) between
    * two event types' value distributions — the nonparametric drift test
    * beside X113's KS statistic: KS asks "how far apart do the CDFs
    * get", U asks "how often does one population exceed the other"
    * (U/(n_x*n_y) is the win probability). Doubled-rank trick keeps tie
    * handling exact: a tie group's average rank is (first+last)/2, so
    * 2*rank is always an integer — R2 = sum of doubled ranks and
    * U2 = R2 - n_x*(n_x+1) stay in exact integer arithmetic end to end;
    * the halving is the caller-facing division, done once.
    *
    * Scale shape: the X22 histogram-rank discipline — pooled rows
    * collapse to the (value, per-group counts) histogram FIRST (one
    * two-phase aggregate), and the running cumulative-count window walks
    * the value-DOMAIN-bounded histogram, never the rows; a naive global
    * row rank would total-sort the table through one reducer. */
  def mannwhitneyQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val hist = Tables.events(spark, sfDir)
      .filter(col("event_type").isin(MwGroupX, MwGroupY))
      .groupBy(col("value"))
      .agg(
        sum((col("event_type") === MwGroupX).cast("long")).as("cx"),
        sum((col("event_type") === MwGroupY).cast("long")).as("cy"))
    val w = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("cum", coalesce(sum(col("cx") + col("cy")).over(w), lit(0L)))
      // doubled average rank of this tie group: (first + last) =
      // (cum+1) + (cum + cx + cy)
      .withColumn("r2", lit(2) * col("cum") + col("cx") + col("cy") + lit(1))
    ranked.agg(
        sum(col("cx")).as("n_x"), sum(col("cy")).as("n_y"),
        sum((col("r2") * col("cx")).cast(DecimalType(38, 0)))
          .cast(DecimalType(38, 0)).as("r2x"))
      .select(col("n_x"), col("n_y"),
        (col("r2x") - col("n_x").cast(DecimalType(38, 0))
          * (col("n_x") + 1).cast(DecimalType(38, 0)))
          .cast("long").as("u2_x"))
      .select(col("n_x"), col("n_y"), col("u2_x"),
        (col("u2_x").cast("double") / lit(2.0)
          / (col("n_x") * col("n_y")).cast("double")).as("win_prob_x"))
  }

  val mannwhitneyOracle: String =
    s"""WITH hist AS (
       |  SELECT value,
       |    CAST(SUM(CASE WHEN event_type = '${MwGroupX}' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cx,
       |    CAST(SUM(CASE WHEN event_type = '${MwGroupY}' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cy
       |  FROM events WHERE event_type IN ('${MwGroupX}', '${MwGroupY}')
       |  GROUP BY 1),
       |ranked AS (
       |  SELECT cx, cy,
       |    COALESCE(SUM(cx + cy) OVER (ORDER BY value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM hist),
       |m AS (
       |  SELECT CAST(SUM(cx) AS BIGINT) AS n_x,
       |    CAST(SUM(cy) AS BIGINT) AS n_y,
       |    CAST(SUM(CAST((2 * cum + cx + cy + 1) * cx AS DECIMAL(38,0)))
       |      AS DECIMAL(38,0)) AS r2x
       |  FROM ranked)
       |SELECT n_x, n_y,
       |  CAST(r2x - CAST(n_x AS DECIMAL(38,0))
       |    * CAST(n_x + 1 AS DECIMAL(38,0)) AS BIGINT) AS u2_x,
       |  CAST(r2x - CAST(n_x AS DECIMAL(38,0))
       |      * CAST(n_x + 1 AS DECIMAL(38,0)) AS DOUBLE) / 2.0
       |    / CAST(n_x * n_y AS DOUBLE) AS win_prob_x
       |FROM m""".stripMargin

  // `q_tvd_drift`: binned total-variation distance between two periods

  /** Period boundary: orders strictly before this date are population A,
    * at-or-after are population B (the dataset spans 1995-01..2001-08, so
    * this is roughly the midpoint). */
  val TvdSplitDate = "1998-04-15"
  /** Bin width for the price histogram: $25,000 in cents (~20 bins over
    * the o_totalprice domain). */
  val TvdBucketCents = 2500000L

  /** `q_tvd_drift`: binned total-variation distance between the order-price
    * distributions of two time periods — the third leg of the drift-test
    * family (X113 KS = CDF supremum, q_mannwhitney = rank dominance; TVD =
    * half the L1 gap between the binned PMFs, the "what fraction of mass
    * moved" number a corpus monitor alarms on). Unlike PSI/KL it needs no
    * logarithm, so the statistic stays EXACT: per-bin deviation
    * |ca·n_b − cb·n_a| and its sum are integer arithmetic; the single
    * closing division by 2·n_a·n_b is the only float. Ties in the largest
    * deviation resolve to the smallest bucket, pinning WHERE the mass
    * moved.
    *
    * Scale shape: the X22/X113 histogram discipline — orders fold to the
    * (bucket, per-period counts) histogram in one map-side-combined
    * aggregate; everything after touches ≤ price-domain/25k rows. The
    * windows run over the bin domain, never the data. The per-bin
    * cross-multiply and its sum BOTH carry DECIMAL: ca/cb/na/nb are cast to
    * DECIMAL(19,0) before the product (two 19-digit operands → a 38-digit
    * result in both engines, so ca·n_b never wraps a Long even at
    * warehouse-scale row counts), and the deviation sum stays DECIMAL(38,0).
    * The closing division goes through per-factor double casts (never a
    * Long n_a·n_b product). */
  def tvdDriftQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val isA = col("o_orderdate") < lit(TvdSplitDate).cast("timestamp")
    val hist = Tables.orders(spark, sfDir)
      .select((cents / lit(TvdBucketCents)).cast("long").as("bucket"),
        isA.as("is_a"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
    val all = Window.partitionBy()
    val scored = hist
      .withColumn("na", sum(col("ca")).over(all))
      .withColumn("nb", sum(col("cb")).over(all))
      .withColumn("dev", abs(
        col("ca").cast(DecimalType(19, 0)) * col("nb").cast(DecimalType(19, 0))
          - col("cb").cast(DecimalType(19, 0))
          * col("na").cast(DecimalType(19, 0))))
      .withColumn("devmax", max(col("dev")).over(all))
    scored.groupBy(col("na").as("n_a"), col("nb").as("n_b"))
      .agg(Num.countStar.as("n_buckets"),
        sum(col("dev")).cast("long").as("tvd_num"),
        min(when(col("dev") === col("devmax"), col("bucket"))).as("at_bucket"))
      .withColumn("tvd", col("tvd_num").cast("double")
        / (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")))
      .orderBy(col("n_a"))
  }

  val tvdDriftOracle: String =
    s"""WITH h AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      // ${TvdBucketCents} AS bucket,
       |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '${TvdSplitDate} 00:00:00'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '${TvdSplitDate} 00:00:00'
       |      THEN 0 ELSE 1 END) AS BIGINT) AS cb
       |  FROM orders GROUP BY 1),
       |t AS (
       |  SELECT bucket, ca, cb,
       |    CAST(SUM(ca) OVER () AS BIGINT) AS na,
       |    CAST(SUM(cb) OVER () AS BIGINT) AS nb
       |  FROM h),
       |s AS (
       |  SELECT bucket, na, nb,
       |    ABS(CAST(ca AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0))
       |      - CAST(cb AS DECIMAL(19,0)) * CAST(na AS DECIMAL(19,0))) AS dev,
       |    MAX(ABS(CAST(ca AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0))
       |      - CAST(cb AS DECIMAL(19,0)) * CAST(na AS DECIMAL(19,0))))
       |      OVER () AS devmax
       |  FROM t)
       |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  COUNT(*) AS n_buckets,
       |  CAST(SUM(dev) AS BIGINT) AS tvd_num,
       |  MIN(CASE WHEN dev = devmax THEN bucket END) AS at_bucket,
       |  CAST(SUM(dev) AS DOUBLE)
       |    / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS tvd
       |FROM s GROUP BY na, nb ORDER BY n_a""".stripMargin

  // `q_benford`: first-significant-digit audit

  /** Benford expected first-digit probabilities log10(1+1/d), pinned as
    * parts-per-million INTEGER literals so no engine evaluates a log:
    * d=1..9. round(log10(1+1/d)·1e6) computed once, offline. */
  val BenfordPpm: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L, 45757L)

  /** `q_benford`: first-significant-digit distribution of order totals
    * against Benford's law — the classic fraud/synthetic-data audit (a
    * generated or truncated money column fails it instantly; TPC-H prices
    * are sums of uniform parts, so the gated report SHOWS the deviation
    * rather than asserting conformance). Everything is exact integers: the
    * first digit comes from a magnitude CASE ladder over the cents value
    * (no log10 — Math.log10 and libm disagree in the last ulp near powers
    * of ten), shares are integer-division parts-per-million, and the
    * expected column is a pinned literal table, so the per-digit deviation
    * obs_ppm − exp_ppm is bit-identical cross-engine.
    *
    * Scale shape: one map-side-combined fold to the 9-row digit histogram;
    * the share window runs over those 9 rows. Nothing after the first
    * aggregate is data-sized. */
  def benfordQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    // Magnitude ladder: leading digit of a positive integer < 10^12. The
    // double division is exact-truncating here: a true quotient in [1,10)
    // sits at least 1/p >= 1e-11 away from the next integer unless it IS
    // one (both operands integral), and IEEE round-to-nearest moves it by
    // < 5e-16 — so cast("long") truncation equals DuckDB's `//`.
    val digit = {
      val x = col("cents")
      val pows = Seq(1e11, 1e10, 1e9, 1e8, 1e7, 1e6, 1e5, 1e4, 1e3, 100.0, 10.0)
        .map(_.toLong)
      pows.foldLeft(when(x < 10L, x)) { (acc, p) =>
        acc.when(x >= p && x < p * 10, (x / p).cast("long"))
      }.otherwise(lit(null))
    }
    val exp = BenfordPpm.zipWithIndex
      .foldLeft(lit(null).cast("long")) { case (acc, (ppm, i)) =>
        when(col("digit") === (i + 1), lit(ppm)).otherwise(acc)
      }
    val all = Window.partitionBy()
    Tables.orders(spark, sfDir)
      .select(cents.as("cents"))
      .select(digit.as("digit"))
      .groupBy(col("digit"))
      .agg(Num.countStar.as("observed"))
      .withColumn("n_orders", sum(col("observed")).over(all))
      .withColumn("obs_ppm",
        expr("(observed * 1000000) div n_orders"))
      .withColumn("exp_ppm", exp)
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .orderBy(col("digit"))
  }

  val benfordOracle: String = {
    val expCase = BenfordPpm.zipWithIndex
      .map { case (ppm, i) => s"WHEN ${i + 1} THEN ${ppm}" }
      .mkString(" ")
    s"""WITH c AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |    AS cents FROM orders),
       |d AS (
       |  SELECT CASE
       |    WHEN cents < 10 THEN cents
       |    WHEN cents < 100 THEN cents // 10
       |    WHEN cents < 1000 THEN cents // 100
       |    WHEN cents < 10000 THEN cents // 1000
       |    WHEN cents < 100000 THEN cents // 10000
       |    WHEN cents < 1000000 THEN cents // 100000
       |    WHEN cents < 10000000 THEN cents // 1000000
       |    WHEN cents < 100000000 THEN cents // 10000000
       |    WHEN cents < 1000000000 THEN cents // 100000000
       |    WHEN cents < 10000000000 THEN cents // 1000000000
       |    WHEN cents < 100000000000 THEN cents // 10000000000
       |    WHEN cents < 1000000000000 THEN cents // 100000000000
       |    END AS digit
       |  FROM c),
       |h AS (
       |  SELECT digit, COUNT(*) AS observed FROM d GROUP BY 1),
       |w AS (
       |  SELECT digit, observed,
       |    CAST(SUM(observed) OVER () AS BIGINT) AS n_orders
       |  FROM h)
       |SELECT digit, observed, n_orders,
       |  (observed * 1000000) // n_orders AS obs_ppm,
       |  CASE digit ${expCase} END AS exp_ppm,
       |  (observed * 1000000) // n_orders
       |    - CASE digit ${expCase} END AS dev_ppm
       |FROM w ORDER BY digit""".stripMargin
  }

  // `q_abc_pareto`: cumulative-share ABC classification

  /** Revenue-histogram bin width for the ABC scan: $1,000 in cents. */
  val AbcBucketCents = 100000L

  /** `q_abc_pareto`: ABC (Pareto / 80-15-5) classification of parts by
    * revenue — the "which 20% of the catalog carries 80% of the business"
    * report beside X79's HHI scalar: HHI says HOW concentrated, ABC says
    * WHICH items make up each concentration tier. Class A = parts in
    * revenue buckets whose preceding cumulative share is under 80% of
    * total, B under 95%, C the tail; boundaries compare exact integers
    * (cum·20 vs total·16, cum·20 vs total·19 — no percentage floats).
    *
    * Scale shape: lineitem folds to per-part revenue (one shuffle at
    * catalog cardinality), parts fold to a $1,000-bucket revenue HISTOGRAM
    * (bounded by the price domain, not the catalog — this is what keeps
    * the cumulative window off a 200M-part total sort at warehouse scale),
    * the running share walks the bucket domain descending, and parts join
    * their bucket's class back by broadcast. Revenue is exact cents via
    * DECIMAL sums at every level. */
  def abcParetoQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(38, 0))
    val perPart = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum(cents).cast("long").as("rev_cents"))
    val hist = perPart
      .groupBy(Num.divLong(col("rev_cents"), AbcBucketCents)
        .as("bucket"))
      .agg(Num.countStar.as("n_parts"),
        sum(col("rev_cents").cast(DecimalType(38, 0))).as("rev_sum"))
    val desc = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    val classed = hist
      .withColumn("total", sum(col("rev_sum")).over(all))
      .withColumn("cum_prev", coalesce(sum(col("rev_sum")).over(desc),
        lit(0).cast(DecimalType(38, 0))))
      .withColumn("cls",
        when(col("cum_prev") * 20 < col("total") * 16, "A")
          .when(col("cum_prev") * 20 < col("total") * 19, "B")
          .otherwise(lit("C")))
    classed.groupBy(col("cls"))
      .agg(sum(col("n_parts")).as("n_parts"),
        sum(col("rev_sum")).cast("long").as("rev_cents"),
        // exact-decimal sums -> double, then ONE division: deterministic
        // cross-engine (the Num.sumMoney convention) and overflow-free at
        // any scale, unlike a x1e6 bigint ppm product
        (sum(col("rev_sum")).cast("double")
          / max(col("total")).cast("double")).as("share"))
      .orderBy(col("cls"))
  }

  val abcParetoOracle: String =
    s"""WITH pp AS (
       |  SELECT l_partkey,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
       |      AS BIGINT) AS rev_cents
       |  FROM lineitem GROUP BY 1),
       |h AS (
       |  SELECT rev_cents // ${AbcBucketCents} AS bucket,
       |    COUNT(*) AS n_parts,
       |    CAST(SUM(CAST(rev_cents AS DECIMAL(38,0))) AS DECIMAL(38,0))
       |      AS rev_sum
       |  FROM pp GROUP BY 1),
       |c AS (
       |  SELECT bucket, n_parts, rev_sum,
       |    SUM(rev_sum) OVER () AS total,
       |    COALESCE(SUM(rev_sum) OVER (ORDER BY bucket DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      CAST(0 AS DECIMAL(38,0))) AS cum_prev
       |  FROM h),
       |k AS (
       |  SELECT CASE
       |      WHEN cum_prev * 20 < total * 16 THEN 'A'
       |      WHEN cum_prev * 20 < total * 19 THEN 'B'
       |      ELSE 'C' END AS cls,
       |    n_parts, rev_sum, total
       |  FROM c)
       |SELECT cls, CAST(SUM(n_parts) AS BIGINT) AS n_parts,
       |  CAST(SUM(rev_sum) AS BIGINT) AS rev_cents,
       |  CAST(SUM(rev_sum) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS share
       |FROM k GROUP BY cls ORDER BY cls""".stripMargin

  // `q_seasonal_anomaly`: day-of-week baseline + deviation census

  /** Weekday epoch anchor: 1995-01-01 was a SUNDAY, so
    * datediff(d, anchor) % 7 gives 0=Sun..6=Sat in pure integer
    * arithmetic — engines disagree on `dayofweek()` numbering (Spark
    * 1=Sun..7, DuckDB 0=Sun..6), an epoch modulus sidesteps the function
    * entirely. */
  val SeasonalAnchor = "1995-01-01"

  /** `q_seasonal_anomaly`: seasonality-aware deviation census — per
    * WEEKDAY median of daily order revenue as the baseline, then each
    * day flagged high (>1.5× its weekday median) or low (<0.5×): the
    * "is Tuesday unusually quiet FOR A TUESDAY" monitor that a global
    * z-score (X58) gets wrong when weekends are structurally slower.
    * Medians are exact X22 rank-walks and the flags exact integer
    * cross-products (2·t > 3·m, 2·t < m) — no float thresholds.
    *
    * Scale shape: the raw table folds to the CALENDAR-day revenue frame
    * first (one map-side-combined aggregate, ≤ days-domain rows forever);
    * the per-weekday median window and the flag join both walk that
    * bounded frame. The weekday medians (7 rows) broadcast back. */
  def seasonalAnomalyQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val daily = Materialize.diskBacked(
      Tables.orders(spark, sfDir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents).as("t"))
        .withColumn("dow",
          pmod(datediff(col("d"), lit(SeasonalAnchor).cast("date")), lit(7))))
    val byV = Window.partitionBy(col("dow")).orderBy(col("t"))
    val all = Window.partitionBy(col("dow"))
    val medians = daily
      .groupBy(col("dow"), col("t")).agg(Num.countStar.as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(byV))
      .withColumn("n", sum(col("cnt")).over(all))
      .groupBy(col("dow"))
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("t")))
        .as("median_cents"))
    daily.join(broadcast(medians), Seq("dow"))
      .groupBy(col("dow"))
      .agg(Num.countStar.as("n_days"),
        max(col("median_cents")).as("median_cents"),
        sum(when(col("t") * 2 > col("median_cents") * 3, 1L).otherwise(0L))
          .as("n_high"),
        sum(when(col("t") * 2 < col("median_cents"), 1L).otherwise(0L))
          .as("n_low"))
      .orderBy(col("dow"))
  }

  val seasonalAnomalyOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS t,
       |    date_diff('day', DATE '${SeasonalAnchor}',
       |      CAST(o_orderdate AS DATE)) % 7 AS dow
       |  FROM orders GROUP BY 1, 3),
       |h AS (
       |  SELECT dow, t, COUNT(*) AS cnt FROM daily GROUP BY 1, 2),
       |c AS (
       |  SELECT dow, t,
       |    SUM(cnt) OVER (PARTITION BY dow ORDER BY t) AS cum,
       |    SUM(cnt) OVER (PARTITION BY dow) AS n
       |  FROM h),
       |m AS (
       |  SELECT dow, CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN t END)
       |    AS BIGINT) AS median_cents
       |  FROM c GROUP BY 1)
       |SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  MAX(median_cents) AS median_cents,
       |  CAST(SUM(CASE WHEN t * 2 > median_cents * 3 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_high,
       |  CAST(SUM(CASE WHEN t * 2 < median_cents THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_low
       |FROM daily JOIN m USING (dow)
       |GROUP BY 1 ORDER BY dow""".stripMargin

  // `q_boxplot`: exact Tukey five-number + fence census per group

  /** `q_boxplot`: the boxplot report per event_type — exact discrete Q1/Q3
    * (X22's ceil-rank selection at 25/75%), IQR, and Tukey-fence outlier
    * counts. X58's z-score and X71's MAD flag individual outliers; this is
    * the five-number SUMMARY a dashboard draws, with the fences kept in
    * EXACT integer arithmetic: the 1.5·IQR whiskers are compared as
    * 2v < 2·Q1 − 3·IQR and 2v > 2·Q3 + 3·IQR, so no float threshold
    * exists anywhere.
    *
    * Scale shape: the X22 value-histogram discipline verbatim — one
    * map-side-combined fold to (event_type, v) counts, rank windows over
    * the value domain, then the fence census walks the SAME histogram
    * (cnt-weighted conditional sums), so the raw table is scanned once
    * and nothing downstream is data-sized. */
  def boxplotQ(spark: SparkSession, sfDir: String): DataFrame = {
    val v = floor(col("value")).cast("long")
    val byV = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val all = Window.partitionBy(col("event_type"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), v.as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(Num.countStar.as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(byV))
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("q1", min(when(col("cum") >= expr("(n + 3) div 4"),
        col("v"))).over(all))
      .withColumn("q3", min(when(col("cum") >= expr("(n * 3 + 3) div 4"),
        col("v"))).over(all))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        max(col("q1")).as("q1"), max(col("q3")).as("q3"),
        (max(col("q3")) - max(col("q1"))).as("iqr"),
        sum(when(col("v") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3,
          col("cnt")).otherwise(0L)).as("n_low_outliers"),
        sum(when(col("v") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3,
          col("cnt")).otherwise(0L)).as("n_high_outliers"))
      .orderBy(col("event_type"))
  }

  val boxplotOracle: String =
    """WITH h AS (
      |  SELECT event_type, CAST(floor(value) AS BIGINT) AS v,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, v, cnt,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |q AS (
      |  SELECT event_type, v, cnt, n,
      |    MIN(CASE WHEN cum >= (n + 3) // 4 THEN v END)
      |      OVER (PARTITION BY event_type) AS q1,
      |    MIN(CASE WHEN cum >= (n * 3 + 3) // 4 THEN v END)
      |      OVER (PARTITION BY event_type) AS q3
      |  FROM c)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
      |  MAX(q1) AS q1, MAX(q3) AS q3, MAX(q3) - MAX(q1) AS iqr,
      |  CAST(SUM(CASE WHEN v * 2 < q1 * 2 - (q3 - q1) * 3 THEN cnt
      |    ELSE 0 END) AS BIGINT) AS n_low_outliers,
      |  CAST(SUM(CASE WHEN v * 2 > q3 * 2 + (q3 - q1) * 3 THEN cnt
      |    ELSE 0 END) AS BIGINT) AS n_high_outliers
      |FROM q GROUP BY 1 ORDER BY event_type""".stripMargin

  // `q_weighted_median`: weight-histogram weighted percentiles

  /** Price resolution for the weighted rank walk: $10 buckets bound the
    * histogram by the price domain, not the row count. */
  val WMedianBucketCents = 1000L

  /** `q_weighted_median`: QUANTITY-weighted price percentiles per return
    * flag — "the price point below which half the shipped VOLUME sits",
    * which is not X22's row median (a million one-unit lines shouldn't
    * outvote one million-unit line). The X22 rank walk generalizes: the
    * histogram accumulates WEIGHT (total quantity) per price bucket and
    * the percentile is the first bucket whose cumulative weight crosses
    * the rank — 2·cum ≥ W for the median, 10·cum ≥ 9·W for p90 — all
    * exact integers (quantities are integer-valued).
    *
    * Scale shape: one map-side-combined fold to (flag × price-bucket)
    * weights, per-flag windows over the bounded bucket domain. */
  def weightedMedianQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bucket = ((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
      .cast("long") / lit(WMedianBucketCents)).cast("long")
    val byV = Window.partitionBy(col("l_returnflag")).orderBy(col("b"))
    val all = Window.partitionBy(col("l_returnflag"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), bucket.as("b"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_returnflag"), col("b"))
      .agg(sum(col("q")).as("w"))
      .withColumn("cum", sum(col("w")).over(byV))
      .withColumn("tw", sum(col("w")).over(all))
      .groupBy(col("l_returnflag"))
      .agg(max(col("tw")).as("total_qty"),
        min(when(col("cum") * 2 >= col("tw"), col("b")))
          .as("wmedian_bucket"),
        min(when(col("cum") * 10 >= col("tw") * 9, col("b")))
          .as("wp90_bucket"))
      .orderBy(col("l_returnflag"))
  }

  val weightedMedianOracle: String =
    s"""WITH h AS (
       |  SELECT l_returnflag,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      // ${WMedianBucketCents} AS b,
       |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
       |  FROM lineitem GROUP BY 1, 2),
       |c AS (
       |  SELECT l_returnflag, b, w,
       |    CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY b)
       |      AS BIGINT) AS cum,
       |    CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
       |  FROM h)
       |SELECT l_returnflag, MAX(tw) AS total_qty,
       |  MIN(CASE WHEN cum * 2 >= tw THEN b END) AS wmedian_bucket,
       |  MIN(CASE WHEN cum * 10 >= tw * 9 THEN b END) AS wp90_bucket
       |FROM c GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // `q_trailing_range`: RANGE-interval window frame (gap-aware)

  /** Trailing window width in days (inclusive of the current day). */
  val TrailingDays = 7

  /** `q_trailing_range`: 7-day trailing revenue per day via a RANGE
    * frame over the day index — the gap-AWARE counterpart of X40's
    * ROWS-frame moving sum: a ROWS frame slides over whatever rows
    * exist (after a holiday gap it silently reaches further back in
    * time); a RANGE frame bounds the frame by VALUE distance, so missing
    * days shrink the window instead of stretching it — the correct
    * semantics for any trailing-window metric over a sparse series, and
    * the `rangeBetween` surface X40 deliberately does not exercise.
    * `days_present` (count over the same frame) makes the gap behavior
    * itself part of the gated artifact.
    *
    * Scale shape: one fold to the calendar-day frame, then the RANGE
    * window walks that bounded domain (X22's rule). Revenue exact cents
    * at both levels. */
  def trailingRangeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val w = Window.orderBy(col("dn"))
      .rangeBetween(-(TrailingDays - 1), Window.currentRow)
    Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(cents).as("rev"))
      .withColumn("dn",
        datediff(col("d"), lit("1995-01-01").cast("date")).cast("long"))
      .withColumn("trailing_cents",
        sum(col("rev").cast(DecimalType(38, 0))).over(w).cast("long"))
      .withColumn("days_present", count(lit(1)).over(w))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("rev").as("rev_cents"), col("trailing_cents"),
        col("days_present"))
      .orderBy(col("day"))
  }

  val trailingRangeOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS rev,
       |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |      AS dn
       |  FROM orders GROUP BY 1, 3)
       |SELECT strftime(d, '%Y-%m-%d') AS day, rev AS rev_cents,
       |  CAST(SUM(CAST(rev AS DECIMAL(38,0))) OVER (ORDER BY dn
       |    RANGE BETWEEN ${TrailingDays - 1} PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS trailing_cents,
       |  CAST(COUNT(*) OVER (ORDER BY dn
       |    RANGE BETWEEN ${TrailingDays - 1} PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS days_present
       |FROM daily ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // `q_trailing_p90` (X187): trailing-window EXACT percentile
  // ------------------------------------------------------------------

  /** Trailing window width for the sliding percentile (days). */
  val TrailP90Days = 7

  /** `q_trailing_p90`: per (event_type, day), the EXACT p90 of event
    * values over the trailing 7 days — the sliding-window percentile a
    * latency/SLO dashboard needs, built so the window math never touches
    * row-level data. X170's trailing RANGE frame works because sum is an
    * algebra over one number per day; a percentile has no such scalar, so
    * the naive forms are collect_list-per-window (state = window row
    * count — dies at scale) or percentile_approx (not oracle-exact).
    * Instead: values quantize to cents, fold ONCE to a daily value
    * HISTOGRAM (event_type × day × distinct cents — domain-bounded), each
    * histogram cell fans out to the ≤7 trailing target days it serves
    * (a bounded explode of day offsets — no range join, no re-scan), the
    * fanned cells re-aggregate to per-(type, target-day) histograms, and
    * the p90 is X22's exact integer rank walk (min v with cum ≥
    * ⌈0.9·n⌉) over each one.
    *
    * Scale shape: one data-sized fold (map-side combined), then
    * everything downstream is histogram-cell-sized ×7; the rank-walk
    * window partitions by (type, day) over value cells. The 7× fan-out
    * trades compute for the re-scan a self-join window would do — the
    * standard streaming-rollup trick, here in batch form. */
  def trailingP90Q(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = floor(col("value") * 100).cast("long")
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"),
        cents.as("v"))
      .agg(Num.countStar.as("cnt"))
    // observed-day spine: a trailing window is reported for every day
    // the table actually contains (type-independent calendar)
    val spine = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day")).distinct()
    val fanned = daily
      .select(col("event_type"), col("v"), col("cnt"),
        explode(sequence(col("d"),
          date_add(col("d"), TrailP90Days - 1))).as("day"))
      .join(spine, Seq("day"), "left_semi")
      .groupBy(col("event_type"), col("day"), col("v"))
      .agg(sum(col("cnt")).as("cnt"))
    val byV = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("v"))
    val all = Window.partitionBy(col("event_type"), col("day"))
    fanned
      .withColumn("cum", sum(col("cnt")).over(byV))
      .withColumn("n", sum(col("cnt")).over(all))
      .groupBy(col("event_type"), col("day"))
      .agg(min(when(col("cum") * 10 >= col("n") * 9, col("v")))
          .as("p90_cents"),
        max(col("n")).as("n_events"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("p90_cents"), col("n_events"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Oracle: the same histogram/fan-out/rank-walk in SQL — cum·10 ≥ n·9
    * is the exact-integer form of cum ≥ ⌈0.9n⌉. */
  val trailingP90Oracle: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS v,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2, 3),
       |spine AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
       |fanned AS (
       |  SELECT d.event_type, d.d + CAST(o.off AS INTEGER) AS day, d.v,
       |    CAST(SUM(d.cnt) AS BIGINT) AS cnt
       |  FROM daily d,
       |    (SELECT unnest(range(0, ${TrailP90Days})) AS off) o
       |  WHERE d.d + CAST(o.off AS INTEGER) IN (SELECT day FROM spine)
       |  GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT event_type, day, v, cnt,
       |    SUM(cnt) OVER (PARTITION BY event_type, day ORDER BY v) AS cum,
       |    SUM(cnt) OVER (PARTITION BY event_type, day) AS n
       |  FROM fanned)
       |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       |  CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS BIGINT)
       |    AS p90_cents,
       |  CAST(MAX(n) AS BIGINT) AS n_events
       |FROM ranked GROUP BY 1, 2
       |ORDER BY event_type, day""".stripMargin

  // `q_kmv_intersect`: KMV sketch set algebra (theta-sketch style)

  /** The two user populations whose overlap is estimated. */
  val KmvSetA = "click"
  val KmvSetB = "purchase"

  /** `q_kmv_intersect`: set-operation estimates from MERGED KMV sketches —
    * the theta-sketch discipline (Dasgupta et al., DataSketches): build a
    * k-min-values sketch per population ONCE, then answer union,
    * intersection, and Jaccard questions by sketch algebra alone, no
    * second scan of the raw data. The union sketch is the k smallest of
    * the merged value sets; the intersection estimate is the union
    * estimate scaled by the fraction of the union SAMPLE present in both
    * sketches (each union-sample value is a uniform sample of A∪B, so
    * membership in both sketches is an unbiased Jaccard estimator).
    * X78's bitmap overlap is the EXACT form of this question; the sketch
    * form costs O(k) state per population at any scale. Deterministic
    * cross-engine like X23/X56: fixed md5-derived hashes, the same array
    * algebra both engines, so "approximate" still hash-matches.
    *
    * Scale shape: one two-phase sketch aggregate per population (64-long
    * state), a 1-row × 1-row join, then pure array expressions. Nothing
    * after the fold is data-sized. */
  def kmvIntersectQ(spark: SparkSession, sfDir: String): DataFrame = {
    val kmv = udaf(new KmvSketch(KmvK))
    val h = conv(substring(md5(concat(lit("u"), col("user_id"))), 1, 15), 16, 10)
      .cast("long")
    def sketch(et: String, name: String): DataFrame =
      Tables.events(spark, sfDir)
        .filter(col("event_type") === et)
        .select(h.as("h"))
        .agg(kmv(col("h")).as(name))
    def est(hs: Column): Column =
      when(size(hs) < KmvK, size(hs).cast("double"))
        .otherwise(lit((KmvK - 1).toDouble) * pow(lit(2.0), 60)
          / element_at(hs, KmvK))
    val joined = sketch(KmvSetA, "ha").crossJoin(broadcast(sketch(KmvSetB, "hb")))
      .withColumn("hu", slice(array_sort(array_union(col("ha"), col("hb"))),
        1, KmvK))
      .withColumn("n_common_sample",
        size(filter(col("hu"), x =>
          array_contains(col("ha"), x) && array_contains(col("hb"), x))))
    joined.select(
      size(col("ha")).as("k_a"), size(col("hb")).as("k_b"),
      est(col("ha")).as("est_a"), est(col("hb")).as("est_b"),
      est(col("hu")).as("est_union"),
      col("n_common_sample"),
      (col("n_common_sample").cast("double") / size(col("hu")).cast("double"))
        .as("jaccard_est"),
      (col("n_common_sample").cast("double") / size(col("hu")).cast("double")
        * est(col("hu"))).as("est_intersection"))
  }

  val kmvIntersectOracle: String = {
    val estSql = (hs: String) =>
      s"""CASE WHEN len($hs) < ${KmvK} THEN CAST(len($hs) AS DOUBLE)
         |  ELSE (${KmvK - 1}.0 * POW(2.0, 60)) / $hs[${KmvK}] END""".stripMargin
    s"""WITH h AS (
       |  SELECT event_type,
       |    CAST(concat('0x', substr(md5('u' || user_id),1,15)) AS BIGINT) AS h
       |  FROM events WHERE event_type IN ('${KmvSetA}', '${KmvSetB}')),
       |ka AS (
       |  SELECT list_sort(list(DISTINCT h))[1:${KmvK}] AS hs FROM h
       |  WHERE event_type = '${KmvSetA}'),
       |kb AS (
       |  SELECT list_sort(list(DISTINCT h))[1:${KmvK}] AS hs FROM h
       |  WHERE event_type = '${KmvSetB}'),
       |j AS (
       |  SELECT ka.hs AS ha, kb.hs AS hb,
       |    list_sort(list_distinct(list_concat(ka.hs, kb.hs)))[1:${KmvK}] AS hu
       |  FROM ka, kb),
       |m AS (
       |  SELECT ha, hb, hu,
       |    len(list_filter(hu, x -> list_contains(ha, x)
       |      AND list_contains(hb, x))) AS n_common_sample
       |  FROM j)
       |SELECT CAST(len(ha) AS INT) AS k_a, CAST(len(hb) AS INT) AS k_b,
       |  ${estSql("ha")} AS est_a,
       |  ${estSql("hb")} AS est_b,
       |  ${estSql("hu")} AS est_union,
       |  CAST(n_common_sample AS INT) AS n_common_sample,
       |  CAST(n_common_sample AS DOUBLE) / CAST(len(hu) AS DOUBLE)
       |    AS jaccard_est,
       |  CAST(n_common_sample AS DOUBLE) / CAST(len(hu) AS DOUBLE)
       |    * (${estSql("hu")}) AS est_intersection
       |FROM m""".stripMargin
  }

  // `q_gini`: exact Gini coefficient of quantized customer spend

  /** Gini scoring resolution: customer lifetime spend quantized to $100
    * units (the X154 convention) so the rank walk runs on the spend
    * DOMAIN, not the customer count. */
  val GiniUnitCents = 10000L

  /** `q_gini`: Gini coefficient of customer lifetime spend — the
    * inequality complement to X79's HHI concentration (HHI weights the
    * TOP of the distribution; Gini measures the whole curve). Computed
    * EXACTLY on the $100-quantized spend via the grouped-data identity
    * G = Σ v_b·cnt_b·(2·cumprev_b + cnt_b + 1 − (n+1)) / (n·Σ v_b·cnt_b):
    * every term is integer (the doubled-average-rank trick X148 uses for
    * ties), numerator and denominator carry DECIMAL(38,0), and the
    * single closing division is the only float.
    *
    * Scale shape: one customer-keyed fold to spend, one fold to the
    * spend-unit histogram (bounded by the spend domain), and the rank
    * walk is a window over that histogram — the X154/X22 discipline. */
  def giniQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val hist = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents).as("spend"))
      .groupBy(Num.divLong(col("spend"), GiniUnitCents).as("v"))
      .agg(Num.countStar.as("cnt"))
    val byV = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = DecimalType(38, 0)
    hist
      .withColumn("cumprev", coalesce(sum(col("cnt")).over(byV), lit(0L)))
      .agg(
        sum(col("cnt")).as("n_customers"),
        sum((col("v") * col("cnt")).cast(dec)).as("wsum"),
        sum((col("v") * col("cnt")).cast(dec)
          * (lit(2) * col("cumprev") + col("cnt")).cast(dec)).as("rterm"))
      .select(col("n_customers"),
        col("wsum").cast("long").as("spend_units"),
        // G = (rterm - n*wsum) / (n*wsum)  [since Σ v·cnt·(2cum+cnt+1-(n+1))
        //   = rterm - n·wsum], exact integers until this division
        ((col("rterm") - col("wsum") * col("n_customers")).cast("double")
          / (col("wsum") * col("n_customers")).cast("double")).as("gini"))
  }

  val giniOracle: String =
    s"""WITH spend AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS spend
       |  FROM orders GROUP BY 1),
       |h AS (
       |  SELECT spend // ${GiniUnitCents} AS v, COUNT(*) AS cnt
       |  FROM spend GROUP BY 1),
       |c AS (
       |  SELECT v, cnt,
       |    COALESCE(SUM(cnt) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
       |  FROM h),
       |m AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_customers,
       |    CAST(SUM(CAST(v * cnt AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS wsum,
       |    CAST(SUM(CAST(v * cnt AS DECIMAL(38,0))
       |      * CAST(2 * cumprev + cnt AS DECIMAL(38,0))) AS DECIMAL(38,0))
       |      AS rterm
       |  FROM c)
       |SELECT n_customers, CAST(wsum AS BIGINT) AS spend_units,
       |  CAST(rterm - wsum * n_customers AS DOUBLE)
       |    / CAST(wsum * n_customers AS DOUBLE) AS gini
       |FROM m""".stripMargin

  // `q_range_planner`: range-partition boundary planning + balance audit

  /** Planned range partitions. */
  val RangePlanN = 16

  /** `q_range_planner`: plan `RangePlanN` range-partition boundaries over
    * the order-key domain and AUDIT the plan's balance — the layout
    * decision a warehouse-scale `repartitionByRange` / Z-order write
    * (X46) makes by sampling, done here exactly: boundary b_i = the
    * ceil(i·n/N)-th order statistic (X22 rank walk over the key
    * histogram), then each planned bucket's actual fill, max/min
    * imbalance as exact integers. With heavy key duplication a boundary
    * key's whole run lands in one bucket — the audit SHOWS that skew
    * instead of assuming uniformity (this is why engines sample: the
    * report quantifies what sampling risks missing).
    *
    * Scale shape: one fold to the key histogram (domain-bounded), the
    * boundary walk and the bucket census both ride it; the boundary
    * table (N rows) broadcasts back. */
  /** Shared boundary planning for X176 (`q_range_planner`) and X181
    * (`q_zone_map`): fold orders to the `o_custkey` histogram, walk the
    * `RangePlanN` ceil-rank boundaries over it, and assign every key run
    * to its planned bucket. Returns the assigned frame
    * `(bucket, k, cnt)`. ONE definition on purpose — the two gated
    * queries previously duplicated this walk verbatim, and a change to
    * `RangePlanN` or the ceil-rank formula in one copy would silently
    * skew the other. */
  private def rangeAssigned(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Materialize.diskBacked(
      Tables.orders(spark, sfDir)
        .groupBy(col("o_custkey").as("k"))
        .agg(Num.countStar.as("cnt")))
    val byK = Window.orderBy(col("k"))
    val all = Window.partitionBy()
    val ranked = hist
      .withColumn("cum", sum(col("cnt")).over(byK))
      .withColumn("n", sum(col("cnt")).over(all))
    // boundary i = smallest key whose cumulative count reaches ceil(i*n/N)
    val bexprs = (1 to RangePlanN).map { i =>
      min(when(col("cum") >=
        expr(s"(n * $i + ${RangePlanN - 1}) div ${RangePlanN}"),
        col("k"))).as(s"b$i")
    }
    val bounds = ranked
      .groupBy(lit(1).as("one"))
      .agg(bexprs.head, bexprs.tail: _*)
      .drop("one")
    // Assign each key run to its bucket: first i with k <= b_i. The
    // boundaries ascend, so a FLAT first-match when-chain (linear-sized
    // CaseWhen) gives the smallest i — never a fold that re-embeds the
    // accumulator per level (that tree is 2^N nodes and hangs Catalyst's
    // common-subexpression pass).
    val bucketOf = (1 until RangePlanN)
      .foldLeft(when(col("k") <= col("b1"), 1)) { (acc, i) =>
        if (i == 1) acc
        else acc.when(col("k") <= col(s"b$i"), i)
      }
      .otherwise(lit(RangePlanN))
    hist.crossJoin(broadcast(bounds))
      .select(bucketOf.as("bucket"), col("k"), col("cnt"))
  }

  /** Oracle CTE mirror of [[rangeAssigned]] — yields `assigned(bucket, k,
    * cnt)`; both oracles SELECT from it. Kept beside the Spark helper so
    * the two walks change together. */
  private val rangeAssignedCte: String = {
    val bDefs = (1 to RangePlanN).map(i =>
      s"MIN(CASE WHEN cum >= (n * $i + ${RangePlanN - 1}) // ${RangePlanN} " +
        s"THEN k END) AS b$i").mkString(", ")
    val bucketExpr = s"CASE ${(1 until RangePlanN).map(i =>
      s"WHEN k <= b$i THEN $i").mkString(" ")} ELSE ${RangePlanN} END"
    s"""WITH h AS (
       |  SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY 1),
       |r AS (
       |  SELECT k, cnt,
       |    SUM(cnt) OVER (ORDER BY k) AS cum,
       |    SUM(cnt) OVER () AS n
       |  FROM h),
       |b AS (SELECT $bDefs FROM r),
       |assigned AS (
       |  SELECT $bucketExpr AS bucket, k, cnt FROM h, b)""".stripMargin
  }

  def rangePlannerQ(spark: SparkSession, sfDir: String): DataFrame =
    rangeAssigned(spark, sfDir)
      .groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("n_rows"), Num.countStar.as("n_keys"))
      .orderBy(col("bucket"))

  val rangePlannerOracle: String =
    s"""$rangeAssignedCte
       |SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n_rows,
       |  COUNT(*) AS n_keys
       |FROM assigned GROUP BY 1 ORDER BY bucket""".stripMargin

  // `q_zone_map`: manifest zone-map stats + pruning decisions

  /** The pinned probe predicate: `o_custkey BETWEEN lo AND hi`. */
  val ZoneProbeLo = 100L
  val ZoneProbeHi = 200L

  /** `q_zone_map`: the zone-map (manifest statistics) table for X176's
    * planned range layout, plus the pruning DECISION a scan would make —
    * per planned bucket: row count, min/max key, and whether the pinned
    * probe predicate `BETWEEN [ZoneProbeLo, ZoneProbeHi]` can skip the
    * bucket entirely (max < lo OR min > hi). This is the
    * Delta/Iceberg-style file-skipping contract made relational: X90
    * reads REAL parquet footers; this op states what the manifest would
    * CONTAIN and what the planner would do with it — the gated artifact
    * shows most buckets pruned for a narrow probe, which is the entire
    * point of range layout.
    *
    * Scale shape: X176's boundary walk (histogram-fed), the N-row
    * boundary broadcast, one bucket-domain fold. All exact integers. */
  def zoneMapQ(spark: SparkSession, sfDir: String): DataFrame =
    rangeAssigned(spark, sfDir)
      .groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("n_rows"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .withColumn("pruned",
        col("max_k") < ZoneProbeLo || col("min_k") > ZoneProbeHi)
      .orderBy(col("bucket"))

  val zoneMapOracle: String =
    s"""$rangeAssignedCte
       |SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n_rows,
       |  MIN(k) AS min_k, MAX(k) AS max_k,
       |  (MAX(k) < ${ZoneProbeLo} OR MIN(k) > ${ZoneProbeHi}) AS pruned
       |FROM assigned GROUP BY 1 ORDER BY bucket""".stripMargin

  // `q_lorenz`: Lorenz curve deciles (the curve behind X161's Gini)

  /** `q_lorenz`: Lorenz curve at decile resolution — X161's Gini is the
    * area under this curve; the curve itself says WHERE the inequality
    * lives ("the bottom half of customers carries 9% of spend"). Each
    * decile boundary is an X22 ceil-rank over the $100-quantized spend
    * histogram; customers are assigned to deciles by bucket position
    * against the boundaries (threshold classification, X154's rule —
    * sizes aren't exactly n/10 with ties, which is the honest grouped
    * answer), and each row carries exact counts/cents plus the one
    * cumulative-share division.
    *
    * Scale shape: the X161 spend histogram reused verbatim — one
    * customer fold, one bucket fold, windows on the bucket domain. */
  def lorenzQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val hist = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents).as("spend"))
      .groupBy(Num.divLong(col("spend"), GiniUnitCents).as("v"))
      .agg(Num.countStar.as("cnt"),
        sum(col("spend").cast(dec)).as("wealth"))
    val byV = Window.orderBy(col("v"))
    val all = Window.partitionBy()
    val ranked = hist
      .withColumn("cum", sum(col("cnt")).over(byV))
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("total", sum(col("wealth")).over(all))
      // Decile of a bucket: smallest d in 1..10 with cum <= ceil(d*n/10)
      // — the bucket whose cumulative population position lands in the
      // d-th tenth; ties at boundaries stay in the lower decile. Flat
      // first-match when-chain (the thresholds ascend) — a fold that
      // re-embeds the accumulator doubles the tree per level.
      .withColumn("decile",
        (2 to 9).foldLeft(
          when(col("cum") <= expr("(n * 1 + 9) div 10"), 1)) { (acc, d) =>
          acc.when(col("cum") <= expr(s"(n * $d + 9) div 10"), d)
        }.otherwise(lit(10)))
    val byDecile = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.groupBy(col("decile"))
      .agg(sum(col("cnt")).as("n_customers"),
        sum(col("wealth")).cast("long").as("spend_cents"))
      .withColumn("cum_share",
        sum(col("spend_cents")).over(byDecile).cast("double")
          / sum(col("spend_cents")).over(Window.partitionBy())
            .cast("double"))
      .orderBy(col("decile"))
  }

  val lorenzOracle: String =
    s"""WITH spend AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS spend
       |  FROM orders GROUP BY 1),
       |h AS (
       |  SELECT spend // ${GiniUnitCents} AS v, COUNT(*) AS cnt,
       |    CAST(SUM(CAST(spend AS DECIMAL(38,0))) AS DECIMAL(38,0))
       |      AS wealth
       |  FROM spend GROUP BY 1),
       |r AS (
       |  SELECT v, cnt, wealth,
       |    SUM(cnt) OVER (ORDER BY v) AS cum,
       |    SUM(cnt) OVER () AS n
       |  FROM h),
       |d AS (
       |  SELECT cnt, wealth,
       |    LEAST(${(1 to 9).map(k =>
      s"CASE WHEN cum <= (n * $k + 9) // 10 THEN $k ELSE 10 END")
      .mkString(", ")}, 10) AS decile
       |  FROM r),
       |g AS (
       |  SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_customers,
       |    CAST(SUM(wealth) AS BIGINT) AS spend_cents
       |  FROM d GROUP BY 1)
       |SELECT decile, n_customers, spend_cents,
       |  CAST(SUM(spend_cents) OVER (ORDER BY decile
       |    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       |    / CAST(SUM(spend_cents) OVER () AS DOUBLE) AS cum_share
       |FROM g ORDER BY decile""".stripMargin

  // `q_cusum`: exact CUSUM changepoint locator over the daily series

  /** `q_cusum`: cumulative-sum changepoint detection over daily order
    * revenue — WHERE did the level shift, completing the drift family
    * (X113/X148/X149 ask whether two KNOWN windows differ; CUSUM scans
    * all n-1 split points in one pass): the maximizer of
    * |cum_k − k·mean| is the most likely changepoint. Kept EXACT by
    * clearing denominators — dev_k = n·cum_k − k·total is pure integer
    * (DECIMAL(38,0)), the argmax resolves ties to the earliest day, and
    * the normalized statistic divides once at the end.
    *
    * Scale shape: the raw table folds to the CALENDAR-day frame first;
    * the running sum, row index, and argmax all walk that bounded
    * domain (X22's rule). One scan, one day-domain window pass. */
  def cusumQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(cents).as("x"))
    val byD = Window.orderBy(col("d"))
    val all = Window.partitionBy()
    val scored = daily
      .withColumn("cum", sum(col("x")).over(byD).cast(dec))
      .withColumn("k", row_number().over(byD).cast("long"))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("total", sum(col("x")).over(all).cast(dec))
      .withColumn("dev",
        col("cum") * col("n").cast(dec) - col("total") * col("k").cast(dec))
      .withColumn("adev", abs(col("dev")))
      .withColumn("devmax", max(abs(col("dev"))).over(all))
    scored
      .groupBy(col("n").as("n_days"))
      .agg(max(col("total")).cast("long").as("total_cents"),
        min(when(col("adev") === col("devmax"),
          date_format(col("d"), "yyyy-MM-dd"))).as("at_day"),
        max(col("adev")).as("devq"))
      .select(col("n_days"), col("total_cents"), col("at_day"),
        // normalized to [0,1): max_k |cum_k/total - k/n|
        (col("devq").cast("double")
          / (col("total_cents").cast("double") * col("n_days").cast("double")))
          .as("cusum"))
  }

  val cusumOracle: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT d,
      |    CAST(SUM(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
      |      AS DECIMAL(38,0)) AS cum,
      |    CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS k,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
      |    CAST(SUM(x) OVER () AS DECIMAL(38,0)) AS total
      |  FROM daily),
      |v AS (
      |  SELECT d, n, total,
      |    ABS(cum * n - total * k) AS adev,
      |    MAX(ABS(cum * n - total * k)) OVER () AS devmax
      |  FROM s)
      |SELECT n AS n_days, CAST(MAX(total) AS BIGINT) AS total_cents,
      |  MIN(CASE WHEN adev = devmax THEN strftime(d, '%Y-%m-%d') END)
      |    AS at_day,
      |  CAST(MAX(adev) AS DOUBLE)
      |    / (CAST(MAX(total) AS DOUBLE) * CAST(n AS DOUBLE)) AS cusum
      |FROM v GROUP BY n""".stripMargin

  // `q_theil_sen` (X260): robust trend by the median of pairwise slopes

  /** `q_theil_sen` (X260): the ROBUST trend estimator — X72's OLS slope
    * is the right answer until one bad day (an outage, a backfill
    * spike) drags it; Theil–Sen takes the MEDIAN of all C(n,2) pairwise
    * slopes and shrugs off up to ~29% contamination, which is why
    * monitoring pipelines fit trend lines with it. Each pairwise slope
    * is quantized once to exact sign-split millis ((x_j−x_i)·1000 div
    * day-gap — day gaps are positive so only the numerator sign
    * matters), then the median is X22's exact rank selection over the
    * fully tiebroken slope list; the OLS-vs-robust contrast is the
    * artifact (both ride along), because the gap BETWEEN them is the
    * outlier alarm.
    *
    * The tracked series is the daily MEAN order value (exact integral
    * division) — an INTENSIVE metric, deliberately: daily totals grow
    * with corpus volume and their cleared-denominator OLS moments blow
    * past Long at the 10× soak (the first build did exactly that,
    * ANSI-overflow); a mean's magnitude is volume-invariant, so the
    * same integer arithmetic is safe at any scale.
    *
    * Scale: the corpus folds to the calendar-day frame first (the X22
    * rule); the pairwise fan-out and the rank walk live on C(days,2)
    * rows — bounded by the calendar squared, not the data. */
  def theilSenQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val daily = Materialize.diskBacked(
      Tables.orders(spark, sfDir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(Num.divLong(sum(cents), Num.countStar).as("x")))
    // The C(days,2) fan-out is an inequality-only join → BNLJ, and its
    // task count is the STREAMED side's partition count — which for the
    // tiny cached daily frame is 1 after AQE coalescing, so the whole
    // quadratic eval ran single-core (r16 per-job profile: one 2.3 s job).
    // Round-robin the streamed side across the session's cores first;
    // the pair count is calendar-bounded, the fix is pure parallelism.
    val pairs = daily.repartition(spark.sparkContext.defaultParallelism)
      .as("a").join(daily.as("b"), col("a.d") < col("b.d"))
      .select((col("b.x") - col("a.x")).as("dy"),
        datediff(col("b.d"), col("a.d")).cast("long").as("dd"))
      .select(when(col("dy") < 0L,
        -Num.divLong(-col("dy") * 1000L, col("dd")))
        .otherwise(Num.divLong(col("dy") * 1000L, col("dd")))
        .as("slope_milli"))
    // median by the X22 rank walk over the SLOPE-VALUE histogram — the
    // C(days,2) pair stream folds map-side before any window touches it
    val shist = Materialize.diskBacked(pairs.groupBy(col("slope_milli"))
      .agg(Num.countStar.as("cnt")))
    // DISTRIBUTED exact rank walk (r16): the histogram barely folds —
    // 2.65M of the 2.89M slopes are distinct at sf0.1 — so the global
    // single-partition cumulative window sorted millions of rows on ONE
    // core (the query's dominant job, 2.2 s of its 3.9 s median).
    // Range-partition the histogram instead, stamp the partition id, and
    // materialize so both consumers (per-partition offsets, per-partition
    // cumulative) see the SAME sampled bounds; the global running sum is
    // then offset + parallel per-partition cumulative — exact, because
    // grouped slopes are unique and range partitioning preserves their
    // total order.
    val parts = Materialize.diskBacked(
      shist.repartitionByRange(spark.sparkContext.defaultParallelism,
          col("slope_milli"))
        .withColumn("_pid", spark_partition_id()))
    val offs = parts.groupBy(col("_pid")).agg(sum(col("cnt")).as("pcnt"))
      .select(col("_pid"),
        (sum(col("pcnt")).over(Window.orderBy(col("_pid")))
          - col("pcnt")).as("off"),
        sum(col("pcnt")).over(Window.partitionBy()).as("m"))
    val byPS = Window.partitionBy(col("_pid")).orderBy(col("slope_milli"))
    val walked = parts
      .withColumn("cumw", sum(col("cnt")).over(byPS))
      .join(broadcast(offs), Seq("_pid"))
      .withColumn("cum", col("cumw") + col("off"))
    // OLS slope for contrast: clear denominators — exact integer
    // moments, one final sign-split division to millis. t anchors at
    // the series START (not the epoch): with epoch days ~2·10⁴ the
    // cleared numerator ×1000 tops Long at the 10× soak; anchored t
    // stays calendar-sized and the slope is translation-invariant.
    val n = Num.countStar
    val minD = daily.agg(min(col("d")).as("d0"))
    val ols = daily.crossJoin(broadcast(minD))
      .select(datediff(col("d"), col("d0")).cast("long").as("t"), col("x"))
      .agg(n.as("n"), sum(col("t")).as("st"), sum(col("x")).as("sx"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("t") * col("x")).as("stx"))
      .select(col("n"),
        (col("n") * col("stx") - col("st") * col("sx")).as("ols_num"),
        (col("n") * col("stt") - col("st") * col("st")).as("ols_den"))
      .select(col("n").as("n_days"),
        when(col("ols_num") < 0L,
          -Num.divLong(-col("ols_num") * 1000L, col("ols_den")))
          .otherwise(Num.divLong(col("ols_num") * 1000L, col("ols_den")))
          .as("ols_slope_milli"))
    walked
      .filter(col("cum") >= Num.divLong(col("m") + 1L, 2L))
      .groupBy()
      .agg(max(col("m")).as("n_pairs"),
        min(col("slope_milli")).as("ts_slope_milli"))
      .crossJoin(broadcast(ols))
      .select(col("n_days"), col("n_pairs"), col("ts_slope_milli"),
        col("ols_slope_milli"))
  }

  val theilSenOracle: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) // COUNT(*) AS x
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT CAST(b.x - a.x AS BIGINT) AS dy,
      |    CAST(date_diff('day', a.d, b.d) AS BIGINT) AS dd
      |  FROM daily a JOIN daily b ON a.d < b.d),
      |s AS (
      |  SELECT CASE WHEN dy < 0 THEN -((-dy) * 1000 // dd)
      |         ELSE dy * 1000 // dd END AS slope_milli
      |  FROM p),
      |sh AS (
      |  SELECT slope_milli, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM s GROUP BY 1),
      |r AS (
      |  SELECT slope_milli,
      |    CAST(SUM(cnt) OVER (ORDER BY slope_milli
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(SUM(cnt) OVER () AS BIGINT) AS m
      |  FROM sh),
      |ts AS (
      |  SELECT MAX(m) AS n_pairs,
      |    MIN(CASE WHEN cum >= (m + 1) // 2 THEN slope_milli END)
      |      AS ts_slope_milli
      |  FROM r),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(t * t) AS BIGINT) AS stt,
      |    CAST(SUM(t * x) AS BIGINT) AS stx
      |  FROM (SELECT CAST(date_diff('day', MIN(d) OVER (), d)
      |    AS BIGINT) AS t, x FROM daily)),
      |ols AS (
      |  SELECT n AS n_days,
      |    CASE WHEN n * stx - st * sx < 0
      |      THEN -((-(n * stx - st * sx)) * 1000 // (n * stt - st * st))
      |      ELSE (n * stx - st * sx) * 1000 // (n * stt - st * st) END
      |      AS ols_slope_milli
      |  FROM mo)
      |SELECT ols.n_days, ts.n_pairs, ts.ts_slope_milli,
      |  ols.ols_slope_milli
      |FROM ts, ols""".stripMargin

  // `q_heavy_hitters` (X244): exact φ-heavy hitters by the
  // Misra-Gries candidate pass + exact verification pass

  /** Heavy-hitter threshold denominator: report every word whose corpus
    * frequency strictly exceeds n_words / HhK. Also the per-partition
    * Misra-Gries counter budget. */
  val HhK = 200L

  /** `q_heavy_hitters` (X244): EXACT heavy hitters without a
    * vocabulary-sized shuffle — the two-pass Misra-Gries discipline
    * every production frequent-items service runs (X44's CMS answers a
    * FIXED watchlist; this finds the unknown heavy set, exactly):
    *
    *  1. Candidate pass: each partition runs Misra-Gries(k) — k
    *     counters; a hit increments, a miss inserts if a slot is free,
    *     else ALL counters decrement by one (each such step burns k+1
    *     stream items, so it happens at most n_p/(k+1) times — the pass
    *     is amortized O(1)/item and O(k) memory). MG guarantees a word
    *     with partition count > n_p/k survives; a word with GLOBAL
    *     count > N/k must exceed n_p/k in SOME partition (pigeonhole
    *     over Σcount_p > Σn_p/k), so the union of per-partition
    *     survivors is a LOSSLESS superset of the true heavy set —
    *     regardless of row order, which is why the partition-order-
    *     dependent candidate set still yields a deterministic result.
    *  2. Verify pass: exact counts for candidate words only (≤ k per
    *     partition broadcast back), non-candidates fold into one null
    *     bucket so the same aggregate yields the exact corpus total;
    *     the final filter cnt·k > N keeps only TRUE heavy hitters.
    *
    * The oracle brute-forces the full vocabulary precisely because the
    * MG pass is lossless — the gate proves no heavy word escaped.
    * Scale: pass 1 shuffles ≤ k rows per partition (not the
    * vocabulary); pass 2's aggregate has ≤ k·P + 1 keys. Compare
    * q_word_topk, which shuffles every distinct word. */
  def heavyHittersQ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = HhK.toInt
    val words = Tables.documents(spark, sfDir)
      .select(explode(graft.engine.Text.words).as("word"))
    val candidates = words.as[String]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { w =>
          val cur = m.getOrElse(w, 0L)
          if (cur > 0L || m.size < k) m(w) = cur + 1L
          else {
            m.mapValuesInPlace((_, c) => c - 1L)
            m.filterInPlace((_, c) => c > 0L)
          }
        }
        m.keysIterator
      }
      .toDF("word").distinct()
      .withColumn("is_cand", lit(1))
    val counted = Materialize.diskBacked(
      words.join(broadcast(candidates), Seq("word"), "left")
        .groupBy(when(col("is_cand").isNotNull, col("word")).as("w"))
        .agg(Num.countStar.as("cnt")))
    val total = counted.agg(sum(col("cnt")).as("n_words"))
    counted.crossJoin(broadcast(total))
      .filter(col("w").isNotNull && col("cnt") * HhK > col("n_words"))
      .select(col("w").as("word"), col("cnt"), col("n_words"),
        Num.divLong(col("cnt") * 1000000L, col("n_words")).as("freq_ppm"))
      .orderBy(col("cnt").desc, col("word"))
  }

  val heavyHittersOracle: String = {
    val wordsSql = graft.engine.Text.wordsSql
    s"""WITH words AS (
       |  SELECT unnest($wordsSql) AS word FROM documents),
       |c AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM words
       |  GROUP BY 1),
       |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_words FROM c)
       |SELECT c.word, c.cnt, t.n_words,
       |  c.cnt * 1000000 // t.n_words AS freq_ppm
       |FROM c, t WHERE c.cnt * ${HhK} > t.n_words
       |ORDER BY c.cnt DESC, c.word""".stripMargin
  }

  // `q_decile_lift` (X245): cumulative gains / lift table over the
  // deterministic scorer

  /** `q_decile_lift` (X245): the GAINS/LIFT table — the model-eval
    * artifact a targeting campaign reads (X204's AUC says whether the
    * ranking is good; this says what acting on the top decile BUYS:
    * "the top 10% of scores captures 31% of purchases, lift 3.1×").
    * Scores are X199's deterministic per-mille scorer; deciles are
    * assigned WITHOUT a global sort: the per-mille score histogram
    * (≤1000 buckets) carries cumulative counts descending, and a
    * bucket's decile is (cum_prev·10) div N — each score bucket lands
    * wholly in one decile, identically in both engines (a row-level
    * ntile would split tied scores arbitrarily and never hash-gate).
    * Per decile: exact counts, cumulative capture (gain per-mille), and
    * cumulative lift per-mille = (cum_pos·N·1000) div (cum_n·pos_tot),
    * exact Long arithmetic (safe through ~10^7 positives × 10^7 rows;
    * past that the cross-multiply moves to DECIMAL(38,0) unchanged).
    *
    * Scale: one data-sized histogram fold (map-side combined), then
    * every window and join walks the ≤1000-bucket frame. */
  def decileLiftQ(spark: SparkSession, sfDir: String): DataFrame = {
    val predM = least(floor(col("value") * 1000.0 / CalibValueScale)
      .cast("long"), lit(999L))
    val hist = Tables.events(spark, sfDir)
      .select(predM.as("pm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("pm"))
      .agg(Num.countStar.as("n"), sum(col("pos")).as("n_pos"))
    val byScoreDesc = Window.orderBy(col("pm").desc)
    val all = Window.partitionBy()
    val perDecile = hist
      .withColumn("cum_prev", coalesce(sum(col("n")).over(
        byScoreDesc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_tot", sum(col("n")).over(all))
      .withColumn("pos_tot", sum(col("n_pos")).over(all))
      .withColumn("decile", Num.divLong(col("cum_prev") * 10L, col("n_tot")))
      .groupBy(col("decile"))
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
        max(col("n_tot")).as("n_tot"), max(col("pos_tot")).as("pos_tot"))
    val byDec = Window.orderBy(col("decile"))
    perDecile
      .withColumn("cum_n", sum(col("n")).over(byDec))
      .withColumn("cum_pos", sum(col("n_pos")).over(byDec))
      .select(col("decile"), col("n"), col("n_pos"),
        col("cum_n"), col("cum_pos"),
        Num.divLong(col("cum_pos") * 1000L, col("pos_tot"))
          .as("gain_permille"),
        Num.divLong(col("cum_pos") * col("n_tot") * 1000L,
          col("cum_n") * col("pos_tot")).as("lift_permille"))
      .orderBy(col("decile"))
  }

  val decileLiftOracle: String =
    s"""WITH q AS (
       |  SELECT least(CAST(FLOOR(value * 1000.0 / ${CalibValueScale})
       |      AS BIGINT), 999) AS pm,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
       |  FROM events),
       |h AS (
       |  SELECT pm, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(pos) AS BIGINT) AS n_pos
       |  FROM q GROUP BY 1),
       |d AS (
       |  SELECT *,
       |    CAST(COALESCE(SUM(n) OVER (ORDER BY pm DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum_prev,
       |    CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
       |    CAST(SUM(n_pos) OVER () AS BIGINT) AS pos_tot
       |  FROM h),
       |g AS (
       |  SELECT cum_prev * 10 // n_tot AS decile,
       |    CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       |    MAX(n_tot) AS n_tot, MAX(pos_tot) AS pos_tot
       |  FROM d GROUP BY 1),
       |w AS (
       |  SELECT g.*,
       |    CAST(SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum_n,
       |    CAST(SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum_pos
       |  FROM g)
       |SELECT decile, n, n_pos, cum_n, cum_pos,
       |  cum_pos * 1000 // pos_tot AS gain_permille,
       |  cum_pos * n_tot * 1000 // (cum_n * pos_tot) AS lift_permille
       |FROM w ORDER BY decile""".stripMargin

  // `q_conformal` (X246): split-conformal prediction interval +
  // coverage audit

  /** Split thresholds (per-mille of the md5 draw): < 600 train,
    * < 800 calibration, rest test; and the miscoverage level α = 1/10
    * (target coverage 90%). */
  val ConfTrainPm = 600L
  val ConfCalPm = 800L
  val ConfAlphaDen = 10L

  /** `q_conformal` (X246): SPLIT-CONFORMAL prediction — the
    * distribution-free uncertainty wrapper the evaluation family was
    * missing (X199 asks "is the probability honest", X200 bounds the
    * MEAN; conformal bounds each PREDICTION): train a predictor on the
    * train split (per-event_type mean cents, exact integral division),
    * score the calibration split's nonconformity |y − ŷ| exactly in
    * cents, take q̂ = the ⌈(n_cal+1)·(1−α)⌉-th smallest score — the
    * finite-sample-valid conformal quantile (the +1 is the coverage
    * guarantee's whole trick) — and AUDIT the guarantee on the held-out
    * test split: per event_type, the share of test rows with
    * |y − ŷ| ≤ q̂, which the theorem says is ≥ 900‰ in expectation.
    * Rank selection is X22's exact discipline: a score histogram with
    * cumulative counts, q̂ = min score with cum ≥ rank — no sort of
    * data-sized rows, no interpolation ambiguity.
    *
    * Scale: three narrow passes over events (train moments, cal
    * histogram, test audit — each map-side combined); the rank walk
    * runs on the distinct-score frame, everything joins by broadcast. */
  def conformalQ(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = floor(col("value") * 100).cast("long")
    val u = conv(substring(md5(concat(lit("cf"), col("event_id"))), 1, 15),
      16, 10).cast("long") % 1000L
    val base = Tables.events(spark, sfDir)
      .select(col("event_type"), cents.as("cents"), u.as("u"))
    val pred = base.filter(col("u") < ConfTrainPm)
      .groupBy(col("event_type"))
      .agg(Num.divLong(sum(col("cents")), Num.countStar).as("pred_cents"))
    val cal = base.filter(col("u") >= ConfTrainPm && col("u") < ConfCalPm)
      .join(broadcast(pred), Seq("event_type"))
      .select(abs(col("cents") - col("pred_cents")).as("s"))
    val shist = cal.groupBy(col("s")).agg(Num.countStar.as("cnt"))
    val byS = Window.orderBy(col("s"))
    val ranked = shist
      .withColumn("cum", sum(col("cnt")).over(byS))
      .withColumn("n_cal", sum(col("cnt")).over(Window.partitionBy()))
      .withColumn("r", Num.divLong(
        (col("n_cal") + 1L) * (ConfAlphaDen - 1L) + (ConfAlphaDen - 1L),
        ConfAlphaDen))
    val qhat = ranked.filter(col("cum") >= col("r"))
      .agg(min(col("s")).as("qhat_cents"),
        max(col("n_cal")).as("n_cal"), max(col("r")).as("r_rank"))
    base.filter(col("u") >= ConfCalPm)
      .join(broadcast(pred), Seq("event_type"))
      .crossJoin(broadcast(qhat))
      .groupBy(col("event_type"))
      .agg(max(col("pred_cents")).as("pred_cents"),
        Num.countStar.as("n_test"),
        sum((abs(col("cents") - col("pred_cents")) <= col("qhat_cents"))
          .cast("long")).as("covered"),
        max(col("qhat_cents")).as("qhat_cents"),
        max(col("n_cal")).as("n_cal"), max(col("r_rank")).as("r_rank"))
      .withColumn("coverage_permille",
        Num.divLong(col("covered") * 1000L, col("n_test")))
      .orderBy(col("event_type"))
  }

  val conformalOracle: String =
    s"""WITH b AS (
       |  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS cents,
       |    CAST(concat('0x', substr(md5('cf' || event_id), 1, 15))
       |      AS BIGINT) % 1000 AS u
       |  FROM events),
       |p AS (
       |  SELECT event_type,
       |    CAST(SUM(cents) AS BIGINT) // COUNT(*) AS pred_cents
       |  FROM b WHERE u < ${ConfTrainPm} GROUP BY 1),
       |cal AS (
       |  SELECT abs(b.cents - p.pred_cents) AS s
       |  FROM b JOIN p USING (event_type)
       |  WHERE b.u >= ${ConfTrainPm} AND b.u < ${ConfCalPm}),
       |sh AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt FROM cal GROUP BY 1),
       |rk AS (
       |  SELECT s,
       |    CAST(SUM(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER () AS BIGINT) AS n_cal
       |  FROM sh),
       |rr AS (
       |  SELECT *, ((n_cal + 1) * ${ConfAlphaDen - 1}
       |    + ${ConfAlphaDen - 1}) // ${ConfAlphaDen} AS r
       |  FROM rk),
       |q AS (
       |  SELECT CAST(MIN(s) AS BIGINT) AS qhat_cents,
       |    MAX(n_cal) AS n_cal, MAX(r) AS r_rank
       |  FROM rr WHERE cum >= r)
       |SELECT b.event_type, MAX(p.pred_cents) AS pred_cents,
       |  CAST(COUNT(*) AS BIGINT) AS n_test,
       |  CAST(SUM(CASE WHEN abs(b.cents - p.pred_cents) <= q.qhat_cents
       |    THEN 1 ELSE 0 END) AS BIGINT) AS covered,
       |  MAX(q.qhat_cents) AS qhat_cents,
       |  MAX(q.n_cal) AS n_cal, MAX(q.r_rank) AS r_rank,
       |  CAST(SUM(CASE WHEN abs(b.cents - p.pred_cents) <= q.qhat_cents
       |    THEN 1 ELSE 0 END) AS BIGINT) * 1000 // COUNT(*)
       |    AS coverage_permille
       |FROM b JOIN p USING (event_type), q
       |WHERE b.u >= ${ConfCalPm}
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
