package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the vector hot path (X3/X8 similarity).
  *
  * Spark's higher-order functions (`aggregate(zip_with(...))`) interpret
  * their lambda per element per row — they sit OUTSIDE whole-stage codegen,
  * which is exactly the wrong place for a dot product evaluated
  * corpus × queries times at 100 TB. These expressions generate a tight
  * primitive `double` loop instead (preference order from the build brief:
  * native `Expression` with `doGenCode` > HOF > UDF).
  *
  * Numeric contract: strict left-to-right accumulation in double — the SAME
  * fold order as the HOF formulation and the DuckDB oracle's `list_reduce`,
  * so results are bit-identical across all three (IEEE ops are deterministic
  * once operand order is pinned). Float inputs arrive via an implicit
  * element-wise cast to double (exact).
  *
  * Registered as SQL functions (`graft_dot`, `graft_normsq`) both through
  * `GraftExtensions` (session-build injection, the production wiring) and
  * idempotently at call time via `ensureRegistered` (defensive for sessions
  * built without the extension config).
  */
object VectorExprs {

  /** Left-to-right Σ aᵢ·bᵢ over two double arrays (null elements skipped;
    * UNEQUAL lengths → NULL, matching the HOF `aggregate(zip_with(...))`
    * contract where zip_with null-pads the shorter side and the fold
    * propagates that null into a null total — the HofVectorize rewrite must
    * not turn a ragged pair's NULL into a finite partial sum). */
  private def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<double>, array<double>), " +
          s"got (${left.dataType}, ${right.dataType}) — cast at the call site")
    override def dataType: DataType = DoubleType
    // Null on length mismatch even when both inputs are non-null.
    override def nullable: Boolean = true
    override def prettyName: String = "graft_dot"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (x.numElements() != y.numElements()) return null
      val n = x.numElements()
      var sum = 0.0
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i) && !y.isNullAt(i))
          sum += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      sum
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (n, i, sum) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("sum"))
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  double $sum = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
           |      $sum += $a.getDouble($i) * $b.getDouble($i);
           |    }
           |  }
           |  ${ev.value} = $sum;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)
  }

  /** Left-to-right Σ aᵢ² (squared L2 norm). */
  case class L2NormSq(child: Expression)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (isDoubleArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_normsq expects array<double>, got ${child.dataType}")
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_normsq"

    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var sum = 0.0
      var i = 0
      while (i < x.numElements()) {
        if (!x.isNullAt(i)) { val v = x.getDouble(i); sum += v * v }
        i += 1
      }
      sum
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val (i, sum, v) = (ctx.freshName("i"), ctx.freshName("sum"), ctx.freshName("v"))
        s"""
           |double $sum = 0.0;
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  if (!$a.isNullAt($i)) {
           |    double $v = $a.getDouble($i);
           |    $sum += $v * $v;
           |  }
           |}
           |${ev.value} = $sum;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): L2NormSq =
      copy(child = newChild)
  }

  /** Left-to-right Σ (aᵢ−bᵢ)² — pairwise squared L2 distance, the PQ
    * encode/ADC inner loop (X55). Same contracts as DotProduct: null
    * elements skipped, UNEQUAL lengths → NULL (the HOF
    * `aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)),0.0,+)` it replaces
    * null-pads and folds to null). (x−y)² is a single-rounded IEEE
    * multiply of an exact-negation pair, so the fold is bit-identical to
    * the HOF and the DuckDB list_reduce with the same operand order. */
  case class L2DistSq(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_l2sq expects (array<double>, array<double>), " +
          s"got (${left.dataType}, ${right.dataType}) — cast at the call site")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_l2sq"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (x.numElements() != y.numElements()) return null
      val n = x.numElements()
      var sum = 0.0
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i) && !y.isNullAt(i)) {
          val d = x.getDouble(i) - y.getDouble(i)
          sum += d * d
        }
        i += 1
      }
      sum
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (n, i, sum, d) = (ctx.freshName("n"), ctx.freshName("i"),
          ctx.freshName("sum"), ctx.freshName("d"))
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  double $sum = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
           |      double $d = $a.getDouble($i) - $b.getDouble($i);
           |      $sum += $d * $d;
           |    }
           |  }
           |  ${ev.value} = $sum;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): L2DistSq =
      copy(left = newLeft, right = newRight)
  }

  /** 32-bit SimHash over an array of non-negative token hashes: bit j is
    * set iff Σ_tokens (((h >> j) & 1)·2 − 1) > 0 — identical to the
    * interpreted HOF formulation in TextAnalysis and the DuckDB oracle's
    * list_reduce, but as one primitive loop (32 counters, single pass)
    * instead of 32 interpreted lambda passes per row. */
  case class SimHash32(child: Expression)
      extends UnaryExpression {

    private def isLongArray(dt: DataType): Boolean = dt match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }

    override def checkInputDataTypes(): TypeCheckResult =
      if (isLongArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_simhash32 expects array<bigint>, got ${child.dataType}")
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def prettyName: String = "graft_simhash32"

    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val ones = new Array[Int](32)
      var n = 0
      var i = 0
      while (i < x.numElements()) {
        if (!x.isNullAt(i)) {
          val h = x.getLong(i)
          var j = 0
          while (j < 32) { ones(j) += ((h >>> j) & 1L).toInt; j += 1 }
          n += 1
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 32) {
        if (2 * ones(j) - n > 0) out |= (1L << j)
        j += 1
      }
      out
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val (ones, n, i, j, h, out) = (ctx.freshName("ones"), ctx.freshName("n"),
          ctx.freshName("i"), ctx.freshName("j"), ctx.freshName("h"),
          ctx.freshName("out"))
        s"""
           |int[] $ones = new int[32];
           |int $n = 0;
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  if (!$a.isNullAt($i)) {
           |    long $h = $a.getLong($i);
           |    for (int $j = 0; $j < 32; $j++) {
           |      $ones[$j] += (int) (($h >>> $j) & 1L);
           |    }
           |    $n++;
           |  }
           |}
           |long $out = 0L;
           |for (int $j = 0; $j < 32; $j++) {
           |  if (2 * $ones[$j] - $n > 0) $out |= (1L << $j);
           |}
           |${ev.value} = $out;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): SimHash32 =
      copy(child = newChild)
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "graft_simhash32"),
      (es: Seq[Expression]) => SimHash32(es(0))),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    (FunctionIdentifier("graft_normsq"),
      new ExpressionInfo(classOf[L2NormSq].getName, "graft_normsq"),
      (es: Seq[Expression]) => L2NormSq(es(0))),
    (FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2DistSq].getName, "graft_l2sq"),
      (es: Seq[Expression]) => L2DistSq(es(0), es(1))),
    (FunctionIdentifier("graft_multi_contains_count"),
      new ExpressionInfo(classOf[MultiContainsCount].getName,
        "graft_multi_contains_count"),
      (es: Seq[Expression]) => MultiContainsCount(es(0), es(1))))

  /** Idempotent registration into the current session's function registry. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (ident, _, builder) =>
      if (!reg.functionExists(ident))
        reg.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
  }

  // Column-API fronts (cast here replaces the ImplicitCastInputTypes the
  // catalyst-private AbstractDataType would otherwise provide; float→double
  // element widening is exact)
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a.cast("array<double>"), b.cast("array<double>"))
  def normSq(a: Column): Column =
    call_function("graft_normsq", a.cast("array<double>"))
  def l2DistSq(a: Column, b: Column): Column =
    call_function("graft_l2sq", a.cast("array<double>"), b.cast("array<double>"))
  def simhash32(tokenHashes: Column): Column =
    call_function("graft_simhash32", tokenHashes)
  /** Aho-Corasick lexicon containment count (see graft.functions.AhoCorasick)
    * through the function registry: Sentiment.keywordCount's kernel, except
    * that a NULL text gives NULL. */
  def multiContainsCount(text: Column, words: Seq[String]): Column =
    call_function("graft_multi_contains_count", text,
      org.apache.spark.sql.functions.array(
        words.map(org.apache.spark.sql.functions.lit): _*))
}
