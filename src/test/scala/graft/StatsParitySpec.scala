package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TableCommit
import graft.engine.TableCommit.{ColStats, Entry}

/** Manifest stats against an independent oracle: for every staged file
  * on every write route — a commit verb, a SQL INSERT, a streaming
  * epoch and a rewrite — each column's stats must equal Spark's own
  * `min`/`max` and null count over that one file, in the canonical
  * text of [[TableCommit.ColStats]]:
  *   - a column with at least one non-NULL value carries [min, max];
  *   - the `nn:` witness is present iff the file holds no NULL;
  *   - an all-NULL column carries neither;
  *   - a float column whose max is NaN (Spark orders NaN above every
  *     value) carries neither, since an envelope that skipped the NaN
  *     would let `x > v` prune a file holding NaN rows.
  * Types the stats comparator does not order (decimal, TIMESTAMP_NTZ,
  * boolean, binary, nested) carry no stats: pruning keeps a file
  * without stats, so omitting them is lossless. */
class StatsParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def root(): String =
    Files.createTempDirectory("graft_parity_spec_").toString

  /** Every column type, built from a LONG `id` column. */
  private def typed(df: DataFrame): DataFrame = df.select(
    col("id").as("k"),
    when(col("id") % 5L === 0L, lit(null))
      .otherwise(col("id") * 3L - 50L).cast("int").as("i"),
    (col("id") % 100L - 50L).cast("short").as("sh"),
    (col("id") % 50L - 25L).cast("byte").as("by"),
    (col("id") * 0.1).cast("float").as("f"),
    when(col("id") === 3L, lit(Double.NaN))
      .otherwise(col("id") / 7.0).as("db"),
    expr("date_add(DATE'2024-01-01', CAST(id AS INT))").as("d"),
    expr("timestamp_micros(1700000000000000 + id * 1000003)").as("ts"),
    // strings straddling the surrogate block: U+1F600 sorts above
    // U+E000 in UTF-8 byte order but below it in UTF-16 code units
    when(col("id") % 3L === 0L,
      concat(lit("\uD83D\uDE00"), col("id").cast("string")))
      .when(col("id") % 3L === 1L,
        concat(lit("\uE000"), col("id").cast("string")))
      .otherwise(concat(lit("z"), col("id").cast("string"))).as("s"),
    lit(null).cast("long").as("an"),
    (col("id") / 4).cast("decimal(10,2)").as("dec"),
    expr("CAST(timestamp_micros(id) AS TIMESTAMP_NTZ)").as("ntz"),
    (col("id") % 2L === 0L).as("bo"),
    col("id").cast("string").cast("binary").as("bi"),
    array(col("id"), col("id") + 1L).as("arr"))

  private val ordered = Set[DataType](LongType, IntegerType, ShortType,
    ByteType, FloatType, DoubleType, DateType, TimestampType, StringType)

  /** Spark's own extremes over one file, in canonical text. */
  private def oracle(file: String): Map[String, (Option[ColStats], Boolean)] = {
    val df = spark.read.parquet(file)
    val cols = df.schema.fields.filter(f => ordered(f.dataType))
    def canonE(c: Column, dt: DataType): Column = dt match {
      case TimestampType => unix_micros(c)
      case DateType      => c.cast("string")
      case FloatType     => c.cast("double")
      case _             => c
    }
    val aggs = count(lit(1)) +: cols.toSeq.flatMap(f => Seq(
      canonE(min(col(f.name)), f.dataType),
      canonE(max(col(f.name)), f.dataType),
      count(col(f.name))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getLong(0)
    val out = cols.zipWithIndex.map { case (f, j) =>
      val (mn, mx, nonNull) =
        (row.get(1 + 3 * j), row.get(2 + 3 * j), row.getLong(3 + 3 * j))
      val nan = mx match {
        case d: java.lang.Double => d.isNaN
        case _                   => false
      }
      val stats =
        if (nonNull == 0L || nan) None
        else Some(ColStats(mn.toString, mx.toString))
      f.name -> (stats, stats.isDefined && nonNull == total)
    }.toMap
    out ++ df.schema.fields.filterNot(f => ordered(f.dataType))
      .map(_.name -> (None, false))
  }

  private def assertParity(route: String, r: String, es: Seq[Entry]): Unit = {
    assert(es.nonEmpty, s"$route staged nothing")
    es.foreach { e =>
      val file = Paths.get(r, e.path).toString
      val want = oracle(file)
      want.foreach { case (c, (stats, nn)) =>
        assert(e.stats.get(c) === stats, s"$route ${e.path}: stats of $c")
        assert(TableCommit.nullFree(e, c) === nn,
          s"$route ${e.path}: nn witness of $c")
      }
      assert(e.rows === Some(spark.read.parquet(file).count()),
        s"$route ${e.path}: row count")
    }
    // the fixture reaches every case: a NaN-poisoned file, a clean one
    val dbStats = es.map(_.stats.get("db").isDefined).toSet
    assert(dbStats === Set(true, false), s"$route: NaN fixture coverage")
  }

  test("commit verb, SQL INSERT, streaming epoch and rewrite stats equal Spark's own per-file min/max") {
    val src = typed(spark.range(0L, 120L, 1L, 4).toDF())
    val names = src.schema.fieldNames.toSeq

    // commit verb
    val r = root()
    TableCommit.commitAppend(src, r, retain = 4, statsCols = names)
    assertParity("commitAppend", r, TableCommit.entries(r))

    // rewrite: a compaction re-derives every stat as it writes
    TableCommit.commitCompact(spark, r, 2, statsCols = names)
    assertParity("commitCompact", r, TableCommit.entries(r))

    // SQL INSERT through the catalog facet (tracks every column)
    val wh = Files.createTempDirectory("graft_parity_wh_").toString
    val cat = "graft_parity_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val ddl = src.schema.fields.map(f => s"${f.name} ${f.dataType.sql}")
      .mkString(", ")
    spark.sql(s"CREATE TABLE $cat.t ($ddl)")
    src.createOrReplaceTempView("parity_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM parity_src")
    spark.catalog.dropTempView("parity_src")
    assertParity("SQL INSERT", s"$wh/t", TableCommit.entries(s"$wh/t"))

    // streaming epoch through the sink facet
    import spark.implicits._
    val rs = root()
    val ms = MemoryStream[Long](spark, 4)
    val q = typed(ms.toDF().select(col("value").as("id")))
      .writeStream.format("graft-table").option("root", rs)
      .option("checkpointLocation", s"${root()}/ck").start()
    try {
      ms.addData(0L until 120L)
      q.processAllAvailable()
    } finally q.stop()
    assertParity("streaming", rs, TableCommit.entries(rs))
  }
}
