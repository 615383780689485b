package graft.engine

import org.apache.spark.sql.SparkSession

/** The one session profile: Bench, Verify, the dev tools and the test
  * suite all build through [[apply]], so a plan or a timing taken by any
  * of them is the plan the bench runs. */
object Session {
  /** Worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`, default 4. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The profile's confs; the warehouse dir is made per session. */
  def confs(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    // X314: honor KeyGroupedPartitioning from V2 scans (only scans that
    // report it are affected — ours do so only under a clusterby option)
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    // X314: accept co-partitioning on a subset of the join keys (the
    // fact-to-fact SPJ shape: grouped by bucket, joined on bucket+id)
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    // STATIC conf, default 100: the generated-class cache. 300+ plans ×
    // several codegen stages each, so at the default the bench's warmup
    // sweep evicts early entries and the timed run re-pays Janino
    // compilation mid-bench (r5: four unchanged queries regressed 2-3×).
    // A long-lived cluster job holds its handful of plans resident; the
    // bench models that steady state, not cache-eviction churn.
    "spark.sql.codegen.cache.maxEntries" -> "20000",
    // The app-status store retains per-task/stage/job rows for ALL prior
    // executions (defaults: 100k tasks, 1000 stages/jobs) even with the
    // UI off, and its eviction scans run synchronously with event
    // processing — after ~700 executions the churn taxes every new job
    // launch, hardest on many-job queries (r7: the 30-job pipeline ran
    // 1.6 s isolated but 3.9 s median late in the bench session). A
    // long-lived production driver caps these the same way.
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "2000",
    "spark.sql.ui.retainedExecutions" -> "50")

  /** A session with the profile's confs, then `extra` layered on top,
    * over a managed temp warehouse, logging at ERROR (WARN stack traces
    * from benign probes would crowd the bench's captured output tail). */
  def apply(cpus: String = defaultCpus,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
    (confs(cpus) ++ extra).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder
      .config("spark.sql.warehouse.dir", TempWarehouse.createManaged())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
