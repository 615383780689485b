package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Tables
import graft.functions.Sentiment

/** The reference's scalar/enrichment operators (SURVEY.md §2.2) expressed over
  * the harness tables. All pure Column programs: narrow (no shuffle), fully
  * inside whole-stage codegen, so they scale linearly with input splits.
  */
object Enrichment {

  /** Shared "video-shaped" view of `documents`: category from a deterministic
    * derivation (doc_id % 35 covers positive/negative/mixed/uncategorized
    * branches), combined text from the document body. */
  private def docCategory: Column = (col("doc_id") % 35).cast("int")
  private val docCategorySql = "CAST(doc_id % 35 AS INT)"

  /** P8 `q_keyword_count`: per-document lexicon containment counts. */
  def keywordCountQ(spark: SparkSession, sfDir: String): DataFrame = {
    val lex = Sentiment.Default
    val txt = Sentiment.lowerText(col("text"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        Sentiment.keywordCount(txt, lex.positive).as("positive_keyword_count"),
        Sentiment.keywordCount(txt, lex.negative).as("negative_keyword_count"))
      .orderBy(col("doc_id"))
  }

  def keywordCountOracle: String = {
    val lex = Sentiment.Default
    s"""SELECT doc_id,
       | ${Sentiment.keywordCountSql("lower(text)", lex.positive)} AS positive_keyword_count,
       | ${Sentiment.keywordCountSql("lower(text)", lex.negative)} AS negative_keyword_count
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** `q_keyword_count_ac`: q_keyword_count through the SQL surface — Spark's
    * own `lower` and the registered `graft_multi_contains_count` — so the
    * Column kernel that q_keyword_count, q_sentiment and the medallion share
    * is cross-checked against the function-registry route on real
    * documents. The oracle is the SAME per-word SQL as q_keyword_count, so
    * the gate proves automaton ≡ one `contains` per word. */
  def keywordCountAcQ(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(spark)
    val lex = Sentiment.Default
    val txt = lower(col("text"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.VectorExprs.multiContainsCount(txt, lex.positive)
          .as("positive_keyword_count"),
        graft.functions.VectorExprs.multiContainsCount(txt, lex.negative)
          .as("negative_keyword_count"))
      .orderBy(col("doc_id"))
  }

  def keywordCountAcOracle: String = keywordCountOracle

  /** P9 `q_sentiment`: the full decision table (category sets → keyword vote
    * → UNKNOWN) with the classification method. */
  def sentimentQ(spark: SparkSession, sfDir: String): DataFrame = {
    val lex = Sentiment.Default
    val txt = Sentiment.lowerText(col("text"))
    val pos = Sentiment.keywordCount(txt, lex.positive)
    val neg = Sentiment.keywordCount(txt, lex.negative)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), docCategory.as("category_id"),
        pos.as("positive_keyword_count"), neg.as("negative_keyword_count"),
        Sentiment.finalSentiment(docCategory, pos, neg, lex).as("final_sentiment"),
        Sentiment.classificationMethod(docCategory, lex).as("classification_method"))
      .orderBy(col("doc_id"))
  }

  def sentimentOracle: String = {
    val lex = Sentiment.Default
    val pos = Sentiment.keywordCountSql("lower(text)", lex.positive)
    val neg = Sentiment.keywordCountSql("lower(text)", lex.negative)
    s"""SELECT doc_id, $docCategorySql AS category_id,
       | $pos AS positive_keyword_count,
       | $neg AS negative_keyword_count,
       | ${Sentiment.finalSentimentSql(docCategorySql, pos, neg, lex)} AS final_sentiment,
       | ${Sentiment.classificationMethodSql(docCategorySql, lex)} AS classification_method
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** P10 `q_engagement`: zero-guarded rounded percentage over lineitem-shaped
    * counters. views = l_quantity-1 (so views==0 genuinely occurs), likes =
    * l_linenumber, comments = l_partkey % 10. */
  def engagementQ(spark: SparkSession, sfDir: String): DataFrame = {
    val views = col("l_quantity").cast("int") - 1
    val likes = col("l_linenumber")
    val comments = col("l_partkey") % 10
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        views.as("views"), likes.as("likes"), comments.as("comments"),
        Sentiment.engagementRate(views, likes, comments).as("engagement_rate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val engagementOracle: String =
    """SELECT l_orderkey, l_linenumber,
      | CAST(l_quantity AS INT) - 1 AS views,
      | l_linenumber AS likes,
      | l_partkey % 10 AS comments,
      | CASE WHEN CAST(l_quantity AS INT) - 1 = 0 THEN 0.0
      |      ELSE round_even(((l_linenumber + l_partkey % 10)
      |                  / (CAST(l_quantity AS INT) - 1)) * 100, 4)
      | END AS engagement_rate
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** P1/P5 `q_extract_cast`: schemaless-JSON path extraction + explicit casts
    * (the VARIANT::type pattern at src/snowflake_loader.py:111-129). The raw
    * string column rides along for fidelity; the date derivation is exposed
    * as a formatted string at the output boundary (cross-engine date dtype
    * hashing is not stable — the typed DateType stays internal). */
  def extractCastQ(spark: SparkSession, sfDir: String): DataFrame = {
    val propsSchema = new StructType().add("k", IntegerType)
    Tables.events(spark, sfDir)
      .select(col("event_id"),
        from_json(col("props"), propsSchema).getField("k").as("k"),
        col("props").as("raw_props"),
        col("user_id").cast("int").as("user_i"),
        col("value").cast("double").as("value_d"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("event_date"))
      .orderBy(col("event_id"))
  }

  val extractCastOracle: String =
    """SELECT event_id,
      | CAST(json_extract_string(props, '$.k') AS INT) AS k,
      | props AS raw_props,
      | CAST(user_id AS INT) AS user_i,
      | CAST(value AS DOUBLE) AS value_d,
      | strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date
      |FROM events ORDER BY event_id""".stripMargin

  /** P2/P6 `q_flatten_record`: nested-struct projection with missing-field
    * defaults — builds the API-shaped record (id / snippet.* / statistics.*),
    * then flattens it back out with the reference's coalesce defaults
    * (src/youtube_collector.py:152-168). NULLs are induced so the defaults
    * actually fire. */
  def flattenRecordQ(spark: SparkSession, sfDir: String): DataFrame = {
    val rec = struct(
      col("event_id").as("id"),
      struct(
        col("event_type").as("title"),
        when(col("event_type") =!= "error", col("props")).as("description"),
        col("user_id").as("channelId")).as("snippet"),
      struct(
        when(col("value") > 50, col("value")).as("viewCount")).as("statistics"))
    Tables.events(spark, sfDir)
      .select(rec.as("rec"))
      .select(
        col("rec.id").as("video_id"),
        col("rec.snippet.channelId").as("channel_id"),
        col("rec.snippet.title").as("title"),
        coalesce(col("rec.snippet.description"), lit("")).as("description"),
        coalesce(col("rec.statistics.viewCount"), lit(0.0)).as("view_count"))
      .orderBy(col("video_id"))
  }

  val flattenRecordOracle: String =
    """SELECT event_id AS video_id, user_id AS channel_id, event_type AS title,
      | COALESCE(CASE WHEN event_type <> 'error' THEN props END, '') AS description,
      | COALESCE(CASE WHEN value > 50 THEN value END, 0.0) AS view_count
      |FROM events ORDER BY video_id""".stripMargin
}
