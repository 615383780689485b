package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native string-distance expression for the entity-resolution hot path
  * (X118 fuzzy join). Hamming distance is evaluated candidate-pair times —
  * after deletion-neighborhood blocking that is still millions of calls per
  * partition, so it gets the same treatment as the vector kernels in
  * [[VectorExprs]]: a primitive byte loop with `doGenCode`, inside
  * whole-stage codegen, not a Scala UDF (which would box both strings and
  * break the codegen span).
  */
object StringExprs {

  /** Byte-wise Hamming distance of two equal-length strings; NULL when the
    * byte lengths differ (the distance is undefined, and returning a
    * sentinel would silently pollute distance histograms — same contract
    * shape as DuckDB's `hamming`, which errors on unequal lengths, except
    * composable under filters). Byte-wise == char-wise for the ASCII keys
    * this engine blocks on; documented rather than hidden. */
  case class HammingDist(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_hamming expects (string, string), " +
          s"got (${left.dataType}, ${right.dataType})")
    override def dataType: DataType = IntegerType
    // Null on length mismatch even when both inputs are non-null.
    override def nullable: Boolean = true
    override def prettyName: String = "graft_hamming"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val y = b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      if (x.numBytes() != y.numBytes()) return null
      val xb = x.getBytes
      val yb = y.getBytes
      var d = 0
      var i = 0
      while (i < xb.length) {
        if (xb(i) != yb(i)) d += 1
        i += 1
      }
      d
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (xb, yb, d, i) = (ctx.freshName("xb"), ctx.freshName("yb"),
          ctx.freshName("d"), ctx.freshName("i"))
        s"""
           |if ($a.numBytes() != $b.numBytes()) {
           |  ${ev.isNull} = true;
           |} else {
           |  byte[] $xb = $a.getBytes();
           |  byte[] $yb = $b.getBytes();
           |  int $d = 0;
           |  for (int $i = 0; $i < $xb.length; $i++) {
           |    if ($xb[$i] != $yb[$i]) $d++;
           |  }
           |  ${ev.value} = $d;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): HammingDist =
      copy(left = newLeft, right = newRight)
  }

  /** Spark's `lower` with an ASCII fast path in front of it. Every
    * branch of Spark's case mapping (plain JDK or ICU, any collation)
    * lower-cases an all-ASCII string byte by byte, but its ICU branch
    * first builds ICU's case-mapping tables — a one-time single-thread
    * stall of over a second, paid by the first `lower` call of a process.
    * Here an all-ASCII row goes straight to `toLowerCaseAscii`, and every
    * other row to exactly Spark's `lower` (`CollationSupport.Lower.exec`
    * under the session's `spark.sql.icu.caseMappings.enabled`, read as
    * `Lower` reads it), so the result is bit-identical and ASCII-only
    * input never initializes ICU. */
  case class AsciiFastLower(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"lower expects a string, got $other")
    }
    override def dataType: DataType = child.dataType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "lower"

    private lazy val collationId: Int =
      child.dataType.asInstanceOf[StringType].collationId
    private lazy val useICU: Boolean =
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

    override protected def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String]
      if (s.isFullAscii) s.toLowerCaseAscii
      else CollationSupport.Lower.exec(s, collationId, useICU)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"($c.isFullAscii() ? $c.toLowerCaseAscii() : " +
          "org.apache.spark.sql.catalyst.util.CollationSupport.Lower" +
          s".exec($c, $collationId, $useICU))")

    override protected def withNewChildInternal(
        newChild: Expression): AsciiFastLower = copy(child = newChild)
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_hamming"),
      new ExpressionInfo(classOf[HammingDist].getName, "graft_hamming"),
      (es: Seq[Expression]) => HammingDist(es(0), es(1))))

  /** Idempotent registration into the current session's function registry. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (ident, _, builder) =>
      if (!reg.functionExists(ident))
        reg.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
  }

  def hamming(a: Column, b: Column): Column =
    call_function("graft_hamming", a, b)
}
