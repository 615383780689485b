package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Sentiment

/** EP2: the reference's five-stage medallion load
  * (/root/reference/src/snowflake_loader.py:20-40; per-step isolation at
  * azure-functions/function_app.py:304-355) as a staged Spark dataflow with
  * real intermediate materialization:
  *
  *   raw JSON (multiLine arrays, raw/YYYY/MM/DD/)                [S1/S2/F1]
  *     -> staging append (+ file provenance, corrupt-record col) [S6]
  *     -> enrichment (flatten/defaults/sentiment/engagement) [P2,P5-P10,P12]
  *     -> channel window-dedup (latest file wins) + dim MERGE    [W1,J2]
  *     -> fact DISTINCT + null-gate + first-write-wins anti-join [A2,P3,J3]
  *     -> daily agg partition-slice overwrite                    [J1,A1,D1]
  *     -> staging TRUNCATE                                       [S7]
  *
  * Idempotence: re-running the whole load leaves every layer byte-identical
  * (anti-join inserts nothing; the agg rewrite regenerates the same slices) —
  * asserted by PipelineSpec's rerun test.
  *
  * Atomicity: the dim MERGE, fact append, and agg slice refresh all commit
  * through [[graft.engine.TableCommit]] — copy-on-write batches adopted by
  * an atomic manifest rename — so a crash inside any stage leaves that
  * table at its previous version (the reference gets this from Snowflake's
  * MERGE transactionality, snowflake_loader.py:86-104, plus per-step
  * commit/rollback, function_app.py:304-355). PipelineSpec's crash test
  * kills a simulated load between the dim data write and its commit and
  * asserts nothing moved.
  *
  * Scale: each stage is a narrow scan + one keyed shuffle at most; stages
  * materialize to parquet exactly where the reference commits per step, so
  * failures re-run one stage, not the world. Dim-side joins stay
  * auto-broadcastable; nothing collects to the driver.
  */
object Medallion {

  val Today = "2024-01-02" // injected CURRENT_DATE stand-in (determinism)

  // ---- schemas ---------------------------------------------------------

  val videoSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("snippet", StructType(Seq(
      StructField("channelId", StringType),
      StructField("categoryId", StringType),
      StructField("title", StringType),
      StructField("description", StringType),
      StructField("tags", ArrayType(StringType)),
      StructField("publishedAt", StringType)))),
    StructField("statistics", StructType(Seq(
      StructField("viewCount", StringType),
      StructField("likeCount", StringType),
      StructField("commentCount", StringType)))),
    StructField("_corrupt", StringType)))

  /** The staging table: the raw video record plus its provenance. Declared,
    * so reading staging back is a file listing — no schema-inference job
    * and no footer reads on every load. */
  val stagingSchema: StructType = videoSchema
    .add("file_name", StringType)
    .add("collected_date", StringType)

  val channelSchema: StructType = StructType(Seq(
    StructField("channel_id", StringType),
    StructField("channel_title", StringType),
    StructField("channel_country", StringType),
    StructField("subscriber_count", LongType),
    StructField("video_count", LongType),
    StructField("_corrupt", StringType)))

  val dimSchema: StructType = StructType(Seq(
    StructField("channel_id", StringType),
    StructField("channel_title", StringType),
    StructField("channel_country", StringType),
    StructField("subscriber_count", LongType),
    StructField("video_count", LongType),
    StructField("first_seen_date", StringType)))

  val factSchema: StructType = StructType(Seq(
    StructField("video_id", StringType),
    StructField("channel_id", StringType),
    StructField("category_id", IntegerType),
    StructField("title", StringType),
    StructField("view_count", LongType),
    StructField("like_count", LongType),
    StructField("comment_count", LongType),
    StructField("engagement_rate", DoubleType),
    StructField("final_sentiment", StringType),
    StructField("classification_method", StringType),
    StructField("collection_date", StringType)))

  val aggSchema: StructType = StructType(Seq(
    StructField("analysis_date", StringType),
    StructField("channel_country", StringType),
    StructField("final_sentiment", StringType),
    StructField("video_count", LongType),
    StructField("total_views", LongType),
    StructField("total_likes", LongType),
    StructField("total_comments", LongType),
    StructField("avg_engagement_rate", DoubleType)))

  private val fileName = regexp_extract(input_file_name(), "([^/]+)$", 1)
  /** raw/YYYY/MM/DD/ path segment -> collection date (P12 reversed + P5). */
  private val pathDate = regexp_replace(
    regexp_extract(input_file_name(), "raw/(\\d{4}/\\d{2}/\\d{2})/", 1),
    "/", "-")

  // ---- stage 1: staging append (S1/S2/S6/F1) ---------------------------

  /** Scans the videos_* file family (filename predicate = glob, so it prunes
    * at file listing, not post-scan), multiLine JSON arrays, PERMISSIVE with
    * an explicit corrupt-record column; appends to staging with provenance. */
  def loadStaging(spark: SparkSession, rawDir: String, warehouse: String): Unit = {
    // Filename-family predicate via pathGlobFilter (prunes at file listing,
    // like a glob, but on an existing base dir — avoids the FileStreamSink
    // metadata probe logging a spurious FileNotFoundException stack trace
    // for glob-shaped paths).
    val staged = spark.read
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "videos_*.json")
      .schema(videoSchema)
      .json(rawDir)
      .withColumn("file_name", fileName)
      .withColumn("collected_date", pathDate)
    staged.write.mode("append").parquet(s"$warehouse/staging/videos")
  }

  // ---- stage 2: channels dedup + dim MERGE (W1/J2/P3) ------------------

  def loadChannels(spark: SparkSession, rawDir: String, warehouse: String): Unit = {
    val dimPath = s"$warehouse/core/dim_channels"
    val raw = spark.read
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "channels_*.json")
      .schema(channelSchema)
      .json(rawDir)
      .withColumn("file_name", fileName)
      .filter(col("_corrupt").isNull && col("channel_id").isNotNull) // P3
    // W1: latest file wins per channel
    val w = Window.partitionBy(col("channel_id"))
      .orderBy(col("file_name").desc)
    val batch = raw
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("channel_id"),
        col("channel_title"),
        coalesce(col("channel_country"), lit("UNKNOWN")).as("channel_country"),
        col("subscriber_count"), col("video_count"))
    // J2: MERGE upsert — source wins updatable cols, target keeps first_seen
    val target = graft.engine.TableCommit.read(spark, dimPath, dimSchema)
    val merged = target.as("t")
      .join(batch.as("s"), Seq("channel_id"), "full_outer")
      .select(col("channel_id"),
        coalesce(col("s.channel_title"), col("t.channel_title")).as("channel_title"),
        coalesce(col("s.channel_country"), col("t.channel_country")).as("channel_country"),
        coalesce(col("s.subscriber_count"), col("t.subscriber_count")).as("subscriber_count"),
        coalesce(col("s.video_count"), col("t.video_count")).as("video_count"),
        coalesce(col("t.first_seen_date"), lit(Today)).as("first_seen_date"))
    // COW commit: the merged snapshot stages into a fresh batch dir while
    // the plan reads the live files (immutable — no temp-table hop needed),
    // then adopts atomically. A crash mid-write leaves the old version
    // intact; PipelineSpec's crash test pins this.
    graft.engine.TableCommit.commitOverwrite(merged, dimPath)
  }

  // ---- stage 3: enrichment + fact insert-only (P2..P10, A2, P3, J3) ----

  /** The EP1 enrichment (flatten + defaults + sentiment + engagement) as one
    * narrow Column program over staging. P7's combinedText gets the REAL
    * tags array here. */
  def enrich(staged: DataFrame): DataFrame = {
    val views = coalesce(col("statistics.viewCount").cast("long"), lit(0L))
    val likes = coalesce(col("statistics.likeCount").cast("long"), lit(0L))
    val comments = coalesce(col("statistics.commentCount").cast("long"), lit(0L))
    val cat = col("snippet.categoryId").cast("int")
    val txt = Sentiment.combinedText(
      col("snippet.title"), col("snippet.description"), col("snippet.tags"))
    staged
      .filter(col("_corrupt").isNull && col("id").isNotNull) // P3 gate
      // the two counts read the combined text; the decision table reads
      // each count twice, so it reads them as columns, not subtrees
      .select(col("*"),
        Sentiment.keywordCount(txt, Sentiment.Default.positive).as("pos_count"),
        Sentiment.keywordCount(txt, Sentiment.Default.negative).as("neg_count"))
      .select(
        col("id").as("video_id"),
        col("snippet.channelId").as("channel_id"),
        cat.as("category_id"),
        col("snippet.title").as("title"),
        views.as("view_count"), likes.as("like_count"),
        comments.as("comment_count"),
        Sentiment.engagementRate(views, likes, comments).as("engagement_rate"),
        Sentiment.finalSentiment(cat, col("pos_count"), col("neg_count"))
          .as("final_sentiment"),
        Sentiment.classificationMethod(cat).as("classification_method"),
        col("collected_date").as("collection_date"), col("file_name"))
  }

  def loadFacts(spark: SparkSession, warehouse: String): Unit = {
    val factPath = s"$warehouse/core/fact_videos"
    val staged = spark.read.schema(stagingSchema)
      .parquet(s"$warehouse/staging/videos")
    // A2 DISTINCT removes exact duplicate rows; then FIRST file wins per
    // video_id (facts never refresh — function_app.py:465-481).
    val w = Window.partitionBy(col("video_id")).orderBy(col("file_name").asc)
    val batch = enrich(staged)
      .distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "file_name")
    val existing = graft.engine.TableCommit.read(spark, factPath, factSchema)
    // J3: left anti = WHEN NOT MATCHED THEN INSERT (no update clause).
    // COW append commit: the anti-join's build side reads the table's
    // CURRENT committed files — immutable, and still referenced by the
    // successor manifest — while the insert batch stages into its own
    // directory, so the old read-while-append hazard (and the defensive
    // disk materialization it forced) is gone by construction. A crash
    // before publish leaves the table at the old version with an orphan
    // batch the next commit sweeps.
    graft.engine.TableCommit.commitAppend(
      batch.join(existing.select("video_id"), Seq("video_id"), "left_anti"),
      factPath)
  }

  // ---- stage 4: daily agg slice overwrite (J1/A1/D1) -------------------

  def refreshAgg(spark: SparkSession, warehouse: String): Unit = {
    val fact = graft.engine.TableCommit.read(
      spark, s"$warehouse/core/fact_videos", factSchema)
    val dim = graft.engine.TableCommit.read(
      spark, s"$warehouse/core/dim_channels", dimSchema)
    val agg = fact.join(dim, Seq("channel_id"))
      .groupBy(col("collection_date").as("analysis_date"),
        col("channel_country"), col("final_sentiment"))
      .agg(
        count(lit(1)).as("video_count"),
        sum(col("view_count")).as("total_views"),
        sum(col("like_count")).as("total_likes"),
        sum(col("comment_count")).as("total_comments"),
        // decimal-exact mean: engagement is bround(.,4) so the 4-dec decimal
        // cast is lossless-enough to be order-independent and cross-engine
        (sum(col("engagement_rate").cast(DecimalType(18, 4))).cast("double")
          / count(lit(1))).as("avg_engagement_rate"))
    // D1 as a COW partition-slice commit: the slices this load computed
    // swap wholesale (the replaced set comes from the staged batch's own
    // partition dirs — data-driven, like dynamic partitionOverwriteMode),
    // untouched days carry their files forward, and the swap is one atomic
    // manifest rename instead of a delete-then-write window.
    graft.engine.TableCommit.commitReplacePartitions(
      agg, s"$warehouse/analytics/agg_daily_by_region", "analysis_date")
  }

  // ---- stage 5: cleanup (S7 TRUNCATE) ----------------------------------

  def cleanupStaging(spark: SparkSession, warehouse: String): Unit = {
    val path = s"$warehouse/staging/videos"
    // The empty frame has no lineage into `path`, so a direct overwrite
    // is legal — no tmp-dir hop needed.
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], stagingSchema)
      .repartition(1) // ensure one schema-bearing (empty) part file
    empty.write.mode("overwrite").parquet(path)
  }

  /** The full load, stage by stage (each materializes before the next reads
    * — per-step isolation like the reference's per-step commit). */
  def run(spark: SparkSession, rawDir: String, warehouse: String): Unit = {
    loadStaging(spark, rawDir, warehouse)
    loadChannels(spark, rawDir, warehouse)
    loadFacts(spark, warehouse)
    refreshAgg(spark, warehouse)
    cleanupStaging(spark, warehouse)
  }

  /** Current committed core layers (spec + tooling surface). */
  def readDim(spark: SparkSession, warehouse: String): DataFrame =
    graft.engine.TableCommit.read(
      spark, s"$warehouse/core/dim_channels", dimSchema)
  def readFact(spark: SparkSession, warehouse: String): DataFrame =
    graft.engine.TableCommit.read(
      spark, s"$warehouse/core/fact_videos", factSchema)

  /** Reads back the analytics layer in driver-comparable form. */
  def readAgg(spark: SparkSession, warehouse: String): DataFrame =
    graft.engine.TableCommit.read(
        spark, s"$warehouse/analytics/agg_daily_by_region", aggSchema)
      .withColumn("analysis_date", col("analysis_date").cast("string"))
      .select(col("analysis_date"), col("channel_country"),
        col("final_sentiment"), col("video_count"), col("total_views"),
        col("total_likes"), col("total_comments"), col("avg_engagement_rate"))
      .orderBy(col("analysis_date"), col("channel_country"),
        col("final_sentiment"))

  /** `q_pipeline_daily_agg`: fixtures -> ONE full load -> analytics table.
    * Hermetic per-run tmp dirs. Idempotence (a second `run()` changes
    * nothing) is pinned in PipelineSpec, not re-demonstrated here — timing
    * the load once keeps the bench number a measurement of the pipeline,
    * not of the rerun. */
  def dailyAggQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Files.createTempDirectory("graft_pipeline_").toString
    val raw = Fixtures.writeRaw(base)
    val warehouse = s"$base/warehouse"
    // Fixture-scale stages: every shuffle in the five stage executions
    // moves tens of rows, so the session's CPU-sized partition count is
    // pure task/file overhead — 2 partitions keeps the same plans at
    // stage-data volume (production gets this from AQE coalescing; see
    // Conf.withShufflePartitions). run() forces its writes inside the
    // scope; only the lazy final read sees the session default.
    graft.engine.Conf.withShufflePartitions(spark, 2) {
      run(spark, raw, warehouse)
    }
    readAgg(spark, warehouse)
  }

  /** DuckDB recomputation of the whole pipeline from the same fixture rows
    * (VALUES generated from the identical Scala data). */
  val dailyAggOracle: String = {
    val lex = Sentiment.Default
    val pos = Sentiment.keywordCountSql("txt", lex.positive)
    val neg = Sentiment.keywordCountSql("txt", lex.negative)
    s"""WITH videos_raw(file_name, collected_date, video_id, channel_id,
       |                category_id, title, description, tags,
       |                views_s, likes_s, comments_s) AS (VALUES
       |    ${Fixtures.videosValues}),
       |channels_raw(file_name, channel_id, channel_title, channel_country,
       |             subscriber_count, video_count) AS (VALUES
       |    ${Fixtures.channelsValues}),
       |enriched AS (
       |  SELECT file_name, collected_date, video_id, channel_id, category_id,
       |    COALESCE(CAST(views_s AS BIGINT), 0) AS view_count,
       |    COALESCE(CAST(likes_s AS BIGINT), 0) AS like_count,
       |    COALESCE(CAST(comments_s AS BIGINT), 0) AS comment_count,
       |    lower(concat_ws(' ', title, COALESCE(description, ''),
       |      array_to_string(COALESCE(tags, CAST([] AS VARCHAR[])), ' '))) AS txt
       |  FROM videos_raw
       |  WHERE video_id IS NOT NULL),
       |classified AS (
       |  SELECT *,
       |    ${Sentiment.finalSentimentSql("category_id", pos, neg, lex)} AS final_sentiment,
       |    CASE WHEN view_count = 0 THEN 0.0
       |         ELSE round_even(((like_count + comment_count) / view_count) * 100, 4)
       |    END AS engagement_rate
       |  FROM enriched),
       |deduped AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY video_id
       |                                 ORDER BY file_name ASC) AS rn
       |    FROM (SELECT DISTINCT * FROM classified) d) t
       |  WHERE rn = 1),
       |dim AS (
       |  SELECT channel_id,
       |    COALESCE(channel_country, 'UNKNOWN') AS channel_country
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY channel_id
       |                                 ORDER BY file_name DESC) AS rn
       |    FROM channels_raw WHERE channel_id IS NOT NULL) t
       |  WHERE rn = 1)
       |SELECT strftime(f.collected_date, '%Y-%m-%d') AS analysis_date,
       |  d.channel_country, f.final_sentiment,
       |  COUNT(*) AS video_count,
       |  CAST(SUM(f.view_count) AS BIGINT) AS total_views,
       |  CAST(SUM(f.like_count) AS BIGINT) AS total_likes,
       |  CAST(SUM(f.comment_count) AS BIGINT) AS total_comments,
       |  CAST(SUM(CAST(f.engagement_rate AS DECIMAL(18,4))) AS DOUBLE)
       |    / COUNT(*) AS avg_engagement_rate
       |FROM deduped f JOIN dim d USING (channel_id)
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin
  }
}
