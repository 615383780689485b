package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer numbers of a traced run. Layers are named after the
  * repository's modules; a layer a workload bypasses reports 0. Per-call
  * latencies of whole operations (engine statements, replays, queries) are
  * left to `run.py`, which knows after its oracle check which calls failed.
  *
  *  - pipeline stage times: the median over the run's daily loads;
  *  - per-pass totals (driver, spark, streaming counts, self times): the
  *    median over the traced passes;
  *  - streaming phase times: the median over micro-batches;
  *  - table counts: the tables the last pass left.
  */
object Layers {
  val PipelineStages = Seq("staging", "channels", "facts", "agg", "truncate")
  val StreamPhases = Seq("add_batch" -> "addBatch", "wal_commit" -> "walCommit",
    "commit_offsets" -> "commitOffsets", "latest_offset" -> "latestOffset",
    "query_planning" -> "queryPlanning")
  val SelfLayers = Seq("pipeline", "engine", "streaming", "operators", "driver")
  val TableCounts = Seq("engine.versions", "engine.data_files",
    "engine.dv_files", "engine.table_mb")

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of intervals. */
  private def covered(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.MinValue)) { case ((tot, end), (s, e)) =>
      if (e <= end) (tot, end)
      else (tot + e - math.max(s, end), e)
    }._1

  def apply(run: Run, extras: Map[String, Double]): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBusShim.drain(run.spark.sparkContext)
    val traced = run.passes.filter(_.traced).map(_.pass)
    val spans = run.tracer.spans.toSeq
    def perPass(f: Int => Double): Double = median(traced.map(f))
    val passOf = (op: String) => op.takeWhile(_ != ':').toIntOption.getOrElse(-1)

    val pipeline = PipelineStages.map { st =>
      s"pipeline.${st}_s" -> median(spans.filter(s => s.layer == "pipeline" &&
        s.name == st && s.op.contains(":day_")).map(_.seconds))
    }
    val engine = TableCounts.map(k => k -> extras.getOrElse(k, 0.0))

    val jobs = run.jobs.jobs.asScala.toSeq
    val stages = run.jobs.stages.asScala.toSeq
    val tasks = run.jobs.tasks.asScala.toSeq
    val roots = spans.filter(_.parent == 0)
    val driver = Seq(
      "driver.plan_s" -> perPass(p => spans.filter(s => s.pass == p &&
        s.layer == "driver" && s.name == "plan").map(_.seconds).sum),
      "driver.gap_s" -> perPass(p => roots.filter(_.pass == p).map { r =>
        val iv = jobs.filter(_._1 == r.op).map(j =>
          (math.max(j._2, r.start), math.min(j._3, r.end))).filter(j => j._2 > j._1)
        r.seconds - covered(iv) / 1000.0
      }.sum))
    def taskSum(p: Int, f: TaskRec => Double) =
      tasks.filter(t => passOf(t.op) == p).map(f).sum
    val mb = 1048576.0
    val skews = tasks.filter(t => traced.contains(passOf(t.op))).groupBy(_.stage)
      .values.filter(_.size >= 2).map { ts =>
        val d = ts.map(_.durationMs.toDouble)
        d.max / math.max(median(d), 1.0)
      }
    val spark = Seq(
      "spark.jobs" -> perPass(p => jobs.count(j => passOf(j._1) == p)),
      "spark.stages" -> perPass(p => stages.count(s => passOf(s._1) == p)),
      "spark.tasks" -> perPass(p => tasks.count(t => passOf(t.op) == p)),
      "spark.exec_run_s" -> perPass(p => taskSum(p, _.runMs / 1000.0)),
      "spark.exec_cpu_s" -> perPass(p => taskSum(p, _.cpuNs / 1e9)),
      "spark.gc_s" -> perPass(p => taskSum(p, _.gcMs / 1000.0)),
      "spark.input_mb" -> perPass(p => taskSum(p, _.inputBytes / mb)),
      "spark.shuffle_write_mb" -> perPass(p => taskSum(p, _.shuffleWrite / mb)),
      "spark.shuffle_read_mb" -> perPass(p => taskSum(p, _.shuffleRead / mb)),
      "spark.spill_mb" -> perPass(p => taskSum(p, _.spillBytes / mb)),
      "spark.task_skew" -> median(skews))

    val progress = run.streams.progress.asScala.toSeq
    val streamPass = (name: String) => name.stripPrefix("cdf_drain_p").toIntOption.getOrElse(-1)
    val streaming = Seq(
      "streaming.batches" -> perPass(p => progress.count(b => streamPass(b._1) == p)),
      "streaming.rows" -> perPass(p =>
        progress.filter(b => streamPass(b._1) == p).map(_._2.toDouble).sum)) ++
      StreamPhases.map { case (metric, key) =>
        s"streaming.${metric}_ms" -> median(progress.flatMap(b =>
          Option(b._3.get(key)).map(_.doubleValue)))
      }

    val childTime = spans.groupBy(_.parent).map { case (id, cs) => id -> cs.map(_.seconds).sum }
    val self = SelfLayers.map { l =>
      s"self.${l}_s" -> perPass(p => spans.filter(s => s.pass == p && s.layer == l)
        .map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum)
    }
    // each traced pass against the untraced pass just before it, so that
    // slow drift across the run cancels out; the JIT's warming between the
    // two passes does not, so with few passes the ratio reads low
    val pairs = run.passes.toSeq.sliding(2).collect {
      case Seq(u: PassRec, t: PassRec) if !u.traced && t.traced => t.wall / u.wall
    }.toSeq
    val overhead = Seq("trace.overhead" -> median(pairs))
    (pipeline ++ engine ++ driver ++ spark ++ streaming ++ self ++
      overhead).toMap
  }
}
