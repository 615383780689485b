package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level Aho-Corasick automaton over a fixed lexicon.
  *
  * `Sentiment.keywordCount` and `q_keyword_count_ac` count through it: all
  * patterns match in ONE pass over the UTF-8 bytes (O(|text| + matches)),
  * whatever the lexicon's size. At the reference's 15-word lists the old
  * form, one codegen'd `contains` per word summed, ran about as fast per
  * row; what it cost was plan size — one copy of the text subtree per
  * word, 60 in the daily load's enrichment — and with it analysis,
  * optimization and code generation time on every load. A 10k-word
  * blocklist (profanity/PII/quality filters in a curation pipeline) would
  * have scanned every document 10,000 times.
  *
  * Matching is byte-wise on UTF-8, which is equivalent to character-wise
  * substring containment because UTF-8 is self-synchronizing (a byte-level
  * match of a well-formed pattern cannot start mid-codepoint of the text).
  *
  * The goto function is failure-resolved into a dense DFA at build time
  * (256-wide transition rows), and each state's output list is pre-merged
  * through its failure chain, so the hot loop is one array index + one
  * (usually empty) output scan per input byte. Built once on the driver,
  * shipped inside the expression, rebuilt lazily per executor.
  */
final class AhoCorasick(patterns: Array[Array[Byte]]) extends Serializable {
  val numPatterns: Int = patterns.length

  /** Entry indices of zero-length patterns — `contains(s, "")` is true. */
  private val alwaysMatched: Array[Int] =
    patterns.zipWithIndex.collect { case (p, i) if p.isEmpty => i }

  private val (delta: Array[Array[Int]], outputs: Array[Array[Int]]) = {
    val children = scala.collection.mutable.ArrayBuffer(Array.fill(256)(-1))
    val out = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    patterns.zipWithIndex.foreach { case (p, idx) =>
      if (p.nonEmpty) {
        var s = 0
        p.foreach { b =>
          val c = b & 0xff
          if (children(s)(c) == -1) {
            children += Array.fill(256)(-1)
            out += scala.collection.mutable.ArrayBuffer.empty[Int]
            children(s)(c) = children.size - 1
          }
          s = children(s)(c)
        }
        out(s) += idx // duplicate lexicon entries each get their own index
      }
    }
    val fail = new Array[Int](children.size)
    val queue = scala.collection.mutable.Queue.empty[Int]
    var c = 0
    while (c < 256) {
      val t = children(0)(c)
      if (t == -1) children(0)(c) = 0 else { fail(t) = 0; queue.enqueue(t) }
      c += 1
    }
    // BFS: parents (and so failure targets, which are strictly shallower)
    // are finalized before their children, making the output merge valid.
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      var c2 = 0
      while (c2 < 256) {
        val t = children(s)(c2)
        if (t == -1) children(s)(c2) = children(fail(s))(c2)
        else {
          fail(t) = children(fail(s))(c2)
          out(t) ++= out(fail(t))
          queue.enqueue(t)
        }
        c2 += 1
      }
    }
    (children.toArray, out.map(_.toArray).toArray)
  }

  /** Number of lexicon ENTRIES occurring in `text` (each counted at most
    * once) — exactly Σᵢ (contains(text, wᵢ) ? 1 : 0). */
  def countContained(text: Array[Byte]): Int = {
    val seen = new Array[Boolean](numPatterns)
    var count = 0
    var k = 0
    while (k < alwaysMatched.length) {
      val w = alwaysMatched(k)
      if (!seen(w)) { seen(w) = true; count += 1 }
      k += 1
    }
    var s = 0
    var i = 0
    while (i < text.length && count < numPatterns) {
      s = delta(s)(text(i) & 0xff)
      val o = outputs(s)
      var j = 0
      while (j < o.length) {
        val w = o(j)
        if (!seen(w)) { seen(w) = true; count += 1 }
        j += 1
      }
      i += 1
    }
    count
  }
}

/** Catalyst expression: `graft_multi_contains_count(text, array('w', …))` —
  * how many of the lexicon entries are substrings of `text` (each ≤ 1).
  * The lexicon argument must be foldable (a literal array): the automaton
  * is built once per plan, not per row, and rides `ctx.addReferenceObj`
  * into generated code so the hot path stays inside whole-stage codegen as
  * a single virtual call + primitive loop. */
case class MultiContainsCount(text: Expression, lexicon: Expression)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = lexicon

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_multi_contains_count expects a string text, got ${text.dataType}")
    else lexicon.dataType match {
      case ArrayType(StringType, _) if lexicon.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_multi_contains_count expects a literal array<string> lexicon")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_multi_contains_count"

  @transient private lazy val ac: AhoCorasick = {
    val arr = lexicon.eval(null).asInstanceOf[ArrayData]
    val words = Array.tabulate(arr.numElements()) { i =>
      arr.getUTF8String(i).getBytes
    }
    new AhoCorasick(words)
  }

  override protected def nullSafeEval(t: Any, l: Any): Any =
    ac.countContained(t.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("graftAc", ac, classOf[AhoCorasick].getName)
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = $acRef.countContained($t.getBytes());")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MultiContainsCount =
    copy(text = newLeft, lexicon = newRight)
}
