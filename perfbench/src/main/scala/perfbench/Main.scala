package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The workload's input description written by the generator. */
final class Plan(val raw: java.util.Map[String, Any]) {
  def list(key: String): Seq[Any] =
    raw.get(key).asInstanceOf[java.util.List[Any]].asScala.toSeq
}

/** Runs one workload in one JVM and writes everything it measured to a
  * JSON file; `perfbench/run.py` turns that into the benchmark's result.
  *
  * {{{
  *   perfbench.Main --workload W --inputs DIR --warm-inputs DIR --work DIR
  *     --seed N --seconds S --trace 0|1 --cpus N --out FILE [--corrupt NAME]
  * }}}
  *
  * Set-up (session plus one untimed loop over the warm-up inputs) is timed
  * from JVM start. Then `--seconds` ÷ the workload's nominal pass time
  * timed passes run, at least three. With `--trace 1` that count rounded
  * up to even runs, untraced and traced alternating, and the per-layer
  * numbers come from the traced ones. */
object Main {
  private val mapper = new ObjectMapper()
  /** Enough passes for a median that is not one pass's accident. */
  val MinPasses = 3

  def writeJson(path: String, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), v)

  def readPlan(path: String): Plan =
    new Plan(mapper.readValue(new java.io.File(path),
      classOf[java.util.Map[String, Any]]))

  def session(cpus: Int, work: String): SparkSession = {
    // The conf set of graft.Bench, so that plans match the repository's
    // own harness; warehouse and scratch space stay in the work dir.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming",
      org.apache.logging.log4j.Level.FATAL)
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(a("workload"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val spark = session(a("cpus").toInt, work)
    val run = new Run(spark, a("seed").toLong, work, a.get("corrupt"))
    spark.streams.addListener(run.streams)
    a("workload") match {
      case "analytics" => Workload.writeOracle(s"$work/oracle_sql.json", Analytics.All)
      case "table_cdc" | "table_cdc_or_delete" => Workload.writeOracle(s"$work/oracle_sql.json", TableCdc.Queries)
      case _ => ()
    }

    run.warmLoop(workload.pass(run, a("warm-inputs"),
      readPlan(s"${a("warm-inputs")}/plan.json")))
    spark.catalog.clearCache()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val inputs = a("inputs")
    val plan = readPlan(s"$inputs/plan.json")
    // A fixed number of passes for a given --seconds: were the count to
    // follow the clock, a slower machine would run fewer passes and its
    // median would sit at another point of the JIT's warming curve.
    val passes = math.max(MinPasses, math.round(seconds / workload.nominalPassS).toInt)
    if (!trace) for (_ <- 1 to passes) run.timedPass(workload.pass(run, inputs, plan))
    else {
      for (i <- 1 to passes + passes % 2) {
        run.setTraced(i % 2 == 0)
        run.timedPass(workload.pass(run, inputs, plan))
      }
      run.setTraced(false)
    }

    val extras = workload.extras(run)
    val layers = if (trace) Layers(run, extras) else Map.empty[String, Double]
    if (trace) writeJson(s"$work/spans.json", run.tracer.toJson)
    val out = Map[String, Any](
      "env" -> Map[String, Any](
        "conf" -> new java.util.TreeMap[String, String](spark.conf.getAll.asJava),
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString).asJava,
      "setup_s" -> setupS,
      "heap_live_peak_mb" -> run.heap.peakBytes / 1048576.0,
      "passes" -> run.passes.map(p => Map[String, Any]("pass" -> p.pass,
        "traced" -> p.traced, "wall_s" -> p.wall, "cpu_s" -> p.cpu).asJava).asJava,
      "ops" -> run.ops.filter(_.pass > 0).map(o => Map[String, Any](
        "pass" -> o.pass, "name" -> o.name, "kind" -> o.kind,
        "latency_s" -> o.latency, "ok" -> o.ok, "error" -> o.error,
        "output" -> o.output).asJava).asJava,
      "warmup_failures" -> run.ops.filter(o => o.pass == 0 && !o.ok)
        .map(o => s"${o.name}: ${o.error}").asJava,
      "warmup_loops_s" -> run.warmWalls.asJava,
      "stream_failures" -> run.streams.failures.asScala.toSeq.asJava,
      "extras" -> extras.asJava,
      "layers" -> layers.asJava,
      "queries" -> (Analytics.All ++ TableCdc.Queries).distinct.asJava)
    writeJson(a("out"), out.asJava)
    spark.stop()
  }
}
