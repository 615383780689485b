package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, StringType}

/** The reference's enrichment stage as pure Column expressions (no UDFs —
  * everything stays inside whole-stage codegen).
  *
  * Reference semantics (file:line into /root/reference/):
  *  - keyword counting: substring containment on the lower-cased combined
  *    text, each lexicon word counted at most once (NOT per occurrence) —
  *    src/youtube_collector.py:74-78. Substring, not word-boundary: "fail"
  *    matches "failure".
  *  - sentiment decision table: category sets first, keyword vote only for
  *    MIXED categories, tie → NEUTRAL — src/youtube_collector.py:81-104.
  *  - engagement rate: views==0 → 0.0 else round(((likes+comments)/views)*100,
  *    4) — src/youtube_collector.py:106-116. Python round is HALF_EVEN, so we
  *    use Spark `bround` (also HALF_EVEN) for parity.
  *
  * The lexicons/category sets are runtime parameters (the reference's two
  * implementations ship different ones — src/config.py:24-44 vs
  * azure-functions/function_app.py:29-38); `Lexicons.Default` mirrors the
  * mechanism with words present in the harness `documents` vocabulary so the
  * oracle exercises non-zero counts.
  *
  * Scale: per-row cost was never the problem at reference scale; plan size
  * and cold start were. One `contains` per lexicon word, summed, put a
  * copy of the text subtree per word into every plan (30 for the two
  * counts; 60 in the medallion, whose decision table reads each count
  * twice), and Spark's `lower` initializes ICU's case-mapping tables on
  * first use — a one-time single-thread stall of over a second, a
  * quarter of a cold daily load's fact stage. So the count is one
  * Aho-Corasick pass per row ([[MultiContainsCount]]), which stays
  * O(|text|) for lexicons of any size, and the lower-casing takes an
  * ASCII fast path ([[StringExprs.AsciiFastLower]]) that never touches
  * ICU on all-ASCII rows and hands every other row to Spark's own
  * `lower`.
  */
object Sentiment {

  final case class Lexicons(
      positive: Seq[String],
      negative: Seq[String],
      positiveCategories: Seq[Int],
      negativeCategories: Seq[Int],
      mixedCategories: Seq[Int])

  /** Same shape as the reference config (15+15 words, 3 category sets);
    * word choice adapted to the harness documents vocabulary. */
  val Default: Lexicons = Lexicons(
    positive = Seq("fast", "join", "merge", "sort", "group", "improve",
      "guide", "tutorial", "help", "growth", "learn", "tips", "success",
      "solution", "advice"),
    negative = Seq("slow", "fail", "drama", "crash", "error", "worst",
      "terrible", "skew", "spill", "leak", "hate", "trash", "crisis",
      "disaster", "warning"),
    positiveCategories = Seq(19, 26, 27, 28, 29),
    negativeCategories = Seq(20, 23, 24, 25),
    mixedCategories = Seq(1, 2, 10, 15, 17, 22))

  /** Spark's `lower`, bit for bit, without ICU's start-up cost on
    * all-ASCII rows (see [[StringExprs.AsciiFastLower]]). */
  def lowerText(text: Column): Column =
    Shim.column(StringExprs.AsciiFastLower(Shim.expression(text)))

  /** Lower-cased combined text: title + ' ' + description + ' ' + tags joined
    * by space, with the reference's missing-field defaults ('' / []). */
  def combinedText(title: Column, description: Column, tags: Column): Column =
    lowerText(concat_ws(" ", title,
      coalesce(description, lit("")),
      array_join(coalesce(tags, array()), " ")))

  /** Count of lexicon words contained as substrings; each word ≤ 1, and a
    * NULL text counts 0 — exactly Σ (contains(text, w) ? 1 : 0), in one
    * automaton pass over the text. */
  def keywordCount(text: Column, lexicon: Seq[String]): Column =
    coalesce(Shim.column(MultiContainsCount(Shim.expression(text),
      Literal.create(lexicon, ArrayType(StringType, containsNull = false)))),
      lit(0))

  /** The decision table producing final_sentiment. */
  def finalSentiment(categoryId: Column, posCount: Column, negCount: Column,
      lex: Lexicons = Default): Column =
    when(categoryId.isin(lex.positiveCategories: _*), "POSITIVE")
      .when(categoryId.isin(lex.negativeCategories: _*), "NEGATIVE")
      .when(categoryId.isin(lex.mixedCategories: _*),
        when(posCount > negCount, "POSITIVE")
          .when(negCount > posCount, "NEGATIVE")
          .otherwise("NEUTRAL"))
      .otherwise("UNKNOWN")

  def classificationMethod(categoryId: Column, lex: Lexicons = Default): Column =
    when(categoryId.isin((lex.positiveCategories ++ lex.negativeCategories): _*),
      "CATEGORY_BASED")
      .when(categoryId.isin(lex.mixedCategories: _*), "KEYWORD_BASED")
      .otherwise("UNCATEGORIZED")

  /** views==0 → 0.0 else HALF_EVEN-rounded percentage. */
  def engagementRate(views: Column, likes: Column, comments: Column): Column =
    when(views === 0, 0.0)
      .otherwise(bround(((likes + comments) / views) * 100, 4))

  // ---- DuckDB oracle SQL generators (single source of truth with the
  // ---- Column forms above; the driver compares the two engines' outputs).

  /** SQL-string-literal escape for runtime lexicon words. */
  private def sqlLit(w: String): String = "'" + w.replace("'", "''") + "'"

  def keywordCountSql(textExpr: String, lexicon: Seq[String]): String =
    lexicon.map(w => s"CASE WHEN contains($textExpr, ${sqlLit(w)}) THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")

  def finalSentimentSql(catExpr: String, posExpr: String, negExpr: String,
      lex: Lexicons = Default): String = {
    def in(s: Seq[Int]) = s.mkString("(", ", ", ")")
    s"""CASE WHEN $catExpr IN ${in(lex.positiveCategories)} THEN 'POSITIVE'
       | WHEN $catExpr IN ${in(lex.negativeCategories)} THEN 'NEGATIVE'
       | WHEN $catExpr IN ${in(lex.mixedCategories)} THEN
       |   (CASE WHEN $posExpr > $negExpr THEN 'POSITIVE'
       |         WHEN $negExpr > $posExpr THEN 'NEGATIVE'
       |         ELSE 'NEUTRAL' END)
       | ELSE 'UNKNOWN' END""".stripMargin
  }

  def classificationMethodSql(catExpr: String, lex: Lexicons = Default): String = {
    def in(s: Seq[Int]) = s.mkString("(", ", ", ")")
    s"""CASE WHEN $catExpr IN ${in(lex.positiveCategories ++ lex.negativeCategories)}
       | THEN 'CATEGORY_BASED'
       | WHEN $catExpr IN ${in(lex.mixedCategories)} THEN 'KEYWORD_BASED'
       | ELSE 'UNCATEGORIZED' END""".stripMargin
  }
}
