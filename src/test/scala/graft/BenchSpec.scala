package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's timing helper: a query that throws is reported as failed,
  * never as a finished run. */
class BenchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("timeRun reports a query that throws as failed, with its elapsed time") {
    val (okSec, ok) = Bench.timeRun(spark, "unused",
      (s, _) => s.range(10).toDF())
    assert(ok.isEmpty)
    assert(okSec >= 0.0)
    // fails at execution (count), not while the frame is built
    val boom = udf { (x: Long) =>
      if (x > 5) throw new IllegalArgumentException("boom"); x }
    val (badSec, bad) = Bench.timeRun(spark, "unused",
      (s, _) => s.range(10).where(boom(col("id")) >= 0).toDF())
    assert(bad.exists(e => Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).exists(c => String.valueOf(c.getMessage)
        .contains("boom"))))
    assert(badSec >= 0.0)
    // and one that fails while the frame is built
    val (_, early) = Bench.timeRun(spark, "unused",
      (_, _) => throw new IllegalStateException("no frame"))
    assert(early.map(_.getMessage) === Some("no frame"))
  }
}
