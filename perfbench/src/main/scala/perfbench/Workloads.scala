package perfbench

import java.nio.file.Paths
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, sum, when}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.pipeline.Medallion

/** A workload is a closed loop with one client: `pass` issues its
  * operations one after another, each when the previous one returned. The
  * warm-up runs the same loop on separately seeded inputs. `extras`
  * reports workload-level numbers measured after the timed passes
  * (storage amplification, table counts). */
trait Workload {
  /** About how long one pass takes at local[4]; `--seconds` ÷ this is
    * the number of timed passes. */
  def nominalPassS: Double
  def pass(run: Run, inputs: String, plan: Plan): Unit
  def extras(run: Run): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "etl_daily" => EtlDaily
    case "analytics" => Analytics
    case "table_cdc" | "table_cdc_or_delete" => TableCdc
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The result with one row duplicated when `name` is the run's
    * `--corrupt` target: a deliberately wrong answer, used by the
    * benchmark's own tests to show that the checks bite. */
  def corrupted(run: Run, name: String, df: DataFrame): DataFrame =
    if (run.corrupt.contains(name)) df.union(df.limit(1)) else df

  /** Runs one `graft.SparkEntry` query over the parquet tables in `dir`
    * as one operation with its full result, and ties the result to the
    * first pass's; the first pass's result is checked against the query's
    * oracle SQL after the run. */
  def query(run: Run, q: String, kind: String, dir: String): Unit = {
    val fn = SparkEntry.queries(q)
    val res = run.op(q, kind, "operators") {
      val df = run.tracer.span("driver", "plan") {
        val d = corrupted(run, q, fn(run.spark, dir))
        d.queryExecution.executedPlan
        d
      }
      (df.collect(), df.schema)
    }
    res.foreach { case (rows, schema) => run.checkRows(q, rows, schema) }
    run.spark.catalog.clearCache()
  }

  /** The oracle SQL of each query, for the check after the run. */
  def writeOracle(path: String, queries: Seq[String]): Unit =
    Main.writeJson(path, queries.map(q => q -> SparkEntry.oracleSql(q)).toMap.asJava)

  /** Version, live-file and deletion-vector counts of a table, read
    * through the engine's own SQL table-valued functions. */
  def tableCounts(run: Run, root: String): Map[String, Double] = {
    val h = run.spark.sql(s"SELECT max(version) FROM graft_history('$root')")
      .collect().head
    val f = run.spark.sql(
      s"SELECT count(*), count_if(deleted > 0) FROM graft_files('$root')")
      .collect().head
    Map("engine.versions" -> h.getLong(0).toDouble,
      "engine.data_files" -> f.getLong(0).toDouble,
      "engine.dv_files" -> f.getLong(1).toDouble,
      "engine.table_mb" -> Run.bytesUnder(root) / 1048576.0)
  }

  /** Bytes under the table roots ÷ bytes of the same live rows written
    * once as plain parquet. */
  def storageAmp(run: Run, roots: Seq[(String, DataFrame)]): Double = {
    val plain = s"${run.work}/plain_copy"
    val amp = roots.map(_._1).map(Run.bytesUnder).sum.toDouble /
      roots.zipWithIndex.map { case ((_, df), i) =>
        df.write.mode("overwrite").parquet(s"$plain/$i")
        Run.bytesUnder(s"$plain/$i")
      }.sum
    Run.deleteTree(plain)
    amp
  }
}

/** The paper's daily batch: land a day of raw JSON, run the medallion
  * stages on the raw root, check every layer; after the last day replay
  * it and check that nothing moved. */
object EtlDaily extends Workload {
  val nominalPassS = 6.0
  private var lastWarehouse = ""

  private def stages(run: Run, raw: String, wh: String): Unit = {
    val s = run.spark
    run.tracer.span("pipeline", "staging")(Medallion.loadStaging(s, raw, wh))
    run.tracer.span("pipeline", "channels")(Medallion.loadChannels(s, raw, wh))
    run.tracer.span("pipeline", "facts")(Medallion.loadFacts(s, wh))
    run.tracer.span("pipeline", "agg")(Medallion.refreshAgg(s, wh))
    run.tracer.span("pipeline", "truncate")(Medallion.cleanupStaging(s, wh))
  }

  /** Every layer read back in full: the totals the generator predicts,
    * and a digest of all rows. */
  private def layers(run: Run, wh: String): (java.util.Map[String, Any], String) = {
    val s = run.spark
    val dim = Medallion.readDim(s, wh).collect()
    val fact = Medallion.readFact(s, wh).collect()
    val agg = Medallion.readAgg(s, wh).collect()
    val staged = s.read.parquet(s"$wh/staging/videos").collect()
    val perDate = agg.groupBy(_.getString(0)).toSeq.sortBy(_._1).map {
      case (d, rs) => d -> Seq(3, 4, 5, 6).map(i => rs.map(_.getLong(i)).sum)
        .asJava
    }
    val summary = Map[String, Any]("dim_rows" -> dim.length,
      "fact_rows" -> fact.length, "staged_rows" -> staged.length,
      "per_date" -> new java.util.TreeMap[String, Any](perDate.toMap.asJava))
    val digest = Run.digest((dim.map("d" + _) ++ fact.map("f" + _) ++
      agg.map("a" + _)).iterator)
    (summary.asJava, digest)
  }

  def pass(run: Run, inputs: String, plan: Plan): Unit = {
    val base = s"${run.work}/etl/l${run.loop}"
    val raw = s"$base/raw"
    val wh = s"$base/warehouse"
    for ((day, i) <- plan.list("days").zipWithIndex) {
      val dir = day.asInstanceOf[java.util.Map[String, Any]].get("dir").toString
      Run.copyTree(Paths.get(s"$inputs/landing/$dir"), Paths.get(s"$raw/$dir"))
      val done = run.op(s"day_${i + 1}", "daily_load", "pipeline")(stages(run, raw, wh))
      if (done.isDefined && run.pass > 0) run.last.output = layers(run, wh)._1
    }
    val before = if (run.pass > 0) layers(run, wh)._2 else ""
    val done = run.op("replay", "replay", "pipeline")(stages(run, raw, wh))
    if (done.isDefined && run.pass > 0) {
      val (summary, after) = layers(run, wh)
      run.last.output = summary
      if (after != before) {
        run.last.ok = false
        run.last.error = "replay changed a layer"
      }
    }
    if (lastWarehouse.nonEmpty) Run.deleteTree(lastWarehouse.stripSuffix("/warehouse"))
    lastWarehouse = wh
  }

  override def extras(run: Run): Map[String, Double] = {
    val wh = lastWarehouse
    val roots = Seq(
      s"$wh/core/dim_channels" -> Medallion.readDim(run.spark, wh),
      s"$wh/core/fact_videos" -> Medallion.readFact(run.spark, wh),
      s"$wh/analytics/agg_daily_by_region" -> Medallion.readAgg(run.spark, wh))
    val counts = roots.map(r => Workload.tableCounts(run, r._1))
      .reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
    counts + ("storage_amp" -> Workload.storageAmp(run, roots))
  }
}

/** Read-only star-schema queries with full results: the frozen-19
  * baseline subset and eight data-sized queries, in a seed-permuted order
  * per pass. */
object Analytics extends Workload {
  val nominalPassS = 40.0
  val Frozen19: Seq[String] = Seq(
    "q_keyword_count", "q_sentiment", "q_dedup_latest", "q_extract_cast",
    "q_scalar_subquery", "q_topk_per_group", "q_antijoin_new_facts",
    "q_agg_pricing", "q_distinct", "q_sentiment_dist", "q_agg_daily_region",
    "q_sink_partitioned", "q_explode", "q_report_sorted", "q_engagement",
    "q_flatten_record", "q_join_fact_dim", "q_scan_meta", "q_merge_dim")
  val DataSized: Seq[String] = Seq(
    "q_theil_sen", "q_itemsets3", "q_setsim_prefix", "q_dedup_ngram",
    "q_simhash_est", "q_fuzzy_join", "q_pagerank", "q_triangles")
  val All: Seq[String] = Frozen19 ++ DataSized

  /** `plan` names the TESTDATA directory; nothing is generated. */
  def pass(run: Run, inputs: String, plan: Plan): Unit = {
    val corpus = plan.raw.get("corpus").toString
    val order = new scala.util.Random(run.seed * 1000003L + run.pass).shuffle(All)
    for (q <- order)
      Workload.query(run, q, if (Frozen19.contains(q)) "frozen19" else "data_sized", corpus)
  }
}

/** Row-level DML, small reads and time travel against a graft-catalog
  * table; operator queries over the same rows as an events table; then a
  * change-feed stream that drains every committed version. */
object TableCdc extends Workload {
  val nominalPassS = 7.0
  /** Queries of `graft.operators` that read only the events table: two of
    * the frozen-19 and two heavier window operators. */
  val Queries: Seq[String] = Seq("q_dedup_latest", "q_topk_per_group",
    "q_sessionize", "q_percentiles")
  private val Catalog = "bench"
  private var lastRoot = ""
  private var warehouse = ""
  private val feedSchema = StructType(Seq(
    StructField("k", LongType), StructField("u", LongType),
    StructField("et", StringType), StructField("v", LongType),
    StructField("_commit_version", LongType),
    StructField("_change_type", StringType)))

  def pass(run: Run, inputs: String, plan: Plan): Unit = {
    warehouse = s"${run.work}/cdc_wh"
    run.spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.sources.GraftCatalog")
    run.spark.conf.set(s"spark.sql.catalog.$Catalog.warehouse", warehouse)
    run.spark.read.parquet(s"$inputs/src.parquet").createOrReplaceTempView("cdc_src")
    run.spark.read.parquet(s"$inputs/upd.parquet").createOrReplaceTempView("cdc_upd")
    val table = s"ev_l${run.loop}"
    val root = s"$warehouse/$table"
    for (st <- plan.list("steps").map(_.asInstanceOf[java.util.Map[String, Any]])) {
      val name = st.get("name").toString
      val kind = st.get("kind").toString
      val sql = st.get("spark").toString
        .replace("{t}", s"$Catalog.$table").replace("{root}", root)
      if (kind == "read" || kind == "timetravel") {
        val res = run.op(name, kind, "engine") {
          val df = run.tracer.span("driver", "plan") {
            val d = Workload.corrupted(run, name, run.spark.sql(sql))
            d.queryExecution.executedPlan
            d
          }
          (df.collect(), df.schema)
        }
        res.foreach { case (rows, schema) => run.checkRows(name, rows, schema) }
      } else run.op(name, kind, "engine")(run.spark.sql(sql).collect())
    }
    for (q <- Queries) Workload.query(run, q, "query", inputs)
    val drained = run.op("cdf_drain", "drain", "streaming")(drain(run, root))
    drained.foreach { perVersion => if (run.pass > 0) run.last.output = perVersion }
    lastRoot = root
  }

  /** Streams the table's full change feed, one version per micro-batch,
    * until every committed version is in the sink; returns each version's
    * net row count and net sum of `v`. */
  private def drain(run: Run, root: String): java.util.Map[String, Any] = {
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val q = run.spark.readStream.format("graft-cdf").schema(feedSchema)
      .option("root", root).option("mode", "full")
      .option("maxversionspertrigger", "1").load()
      .writeStream
      .queryName(s"cdf_drain_p${run.pass}")
      .option("checkpointLocation", s"${run.work}/cdc_ckpt/l${run.loop}")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val sign = when(col("_change_type") === "delete", -1L).otherwise(1L)
        batch.groupBy(col("_commit_version"))
          .agg(sum(sign).as("n"), sum(sign * col("v")).as("sv"))
          .collect().foreach(sink.add)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = new java.util.TreeMap[String, Any]()
    sink.asScala.groupBy(_.getLong(0)).foreach { case (v, rs) =>
      out.put(f"$v%06d", Seq(rs.map(_.getLong(1)).sum,
        rs.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum).asJava)
    }
    out
  }

  override def extras(run: Run): Map[String, Double] =
    Workload.tableCounts(run, lastRoot) +
      ("storage_amp" -> Workload.storageAmp(run, Seq(lastRoot ->
        run.spark.sql(s"SELECT * FROM $Catalog.${lastRoot.split('/').last}"))))
}
