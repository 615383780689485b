package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.SparkEntry

/** Dev probe on the bench's own session profile ([[graft.engine.Session]]),
  * so every plan and timing it shows is the one the bench runs.
  *
  * {{{
  * sbt "runMain graft.tools.Probe plan <q1,q2,...> [sfDir] [formatted|executed] [outDir]"
  *   — `explain("formatted")`, or the executed physical plan tree that
  *     PlanSpec's guards match. With outDir, each plan is written to
  *     <outDir>/<q>_<mode>.txt instead of printed.
  * sbt "runMain graft.tools.Probe sweep [sfDir]"
  *   — every query's executed plan, flagged for cartesian products,
  *     nested-loop joins, single-partition exchanges and CodegenFallback.
  *     Bounded-broadcast cross joins are expected at the documented
  *     scalar attach points: the sweep prints each one, it does not fail.
  * sbt "runMain graft.tools.Probe time <q1,q2,...> [sfDir] [reps]"
  *   — wall time and row count of each rep.
  * sbt "runMain graft.tools.Probe jobs <q1,q2,...> [sfDir] [reps]"
  *   — as `time`, plus every Spark job's duration and label (its SQL
  *     execution id, then its description, or else its final stage's
  *     operators and call site) and each streaming batch's durationMs
  *     split, so the slow job of a composite query is visible. The gap
  *     between the rep's wall and the sum of its jobs is driver/planning
  *     time.
  * }}}
  *
  * sfDir defaults to /root/testdata/sf0.1 and reps to 3. Environment:
  *   - `SPARK_GRAFT_CONFS="k=v;k=v"` layers extra confs on the session;
  *   - `SPARK_GRAFT_WARM_SF=<sfDir>` runs each named query once there
  *     before timing (the bench's per-plan warmup);
  *   - `SPARK_GRAFT_AB="k=v"` sets the conf to v on even reps and back to
  *     its session value on odd ones, so each A/B pair shares its host
  *     load (co-tenant noise here swings 2-5×).
  */
object Probe {
  private val Flags = Seq(
    "CartesianProduct" -> "cartesian",
    "BroadcastNestedLoopJoin" -> "bnl-join",
    "SinglePartition" -> "single-partition",
    "CodegenFallback" -> "codegen-fallback")

  private def keyValue(s: String): Option[(String, String)] = {
    val i = s.indexOf('=')
    if (i > 0) Some(s.take(i) -> s.drop(i + 1)) else None
  }

  private def clearCache(spark: SparkSession): Unit =
    try spark.catalog.clearCache() catch { case NonFatal(_) => () }

  def main(args: Array[String]): Unit = {
    val verb = args.headOption.getOrElse("")
    val sweep = verb == "sweep"
    val names = if (sweep) SparkEntry.queries.keys.toSeq.sorted
      else args.lift(1).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    if (!Set("plan", "sweep", "time", "jobs")(verb) || names.isEmpty) {
      System.err.println("usage: Probe plan|time|jobs <q1,q2,...> [sfDir] " +
        "[formatted|executed|reps] [outDir]  or  Probe sweep [sfDir]")
      sys.exit(1)
    }
    val sfDir = args.lift(if (sweep) 1 else 2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.engine.Session(extra = sys.env.get("SPARK_GRAFT_CONFS")
      .toSeq.flatMap(_.split(';').flatMap(keyValue)))
    verb match {
      case "plan" =>
        plan(spark, names, sfDir, args.lift(3).getOrElse("formatted"),
          args.lift(4))
      case "sweep" =>
        names.foreach { q =>
          val verdict = try {
            val p = planText(spark, q, sfDir, "executed")
            val hits = Flags.collect { case (pat, tag) if p.contains(pat) => tag }
            if (hits.isEmpty) "clean" else hits.mkString(",")
          } catch { case NonFatal(e) => s"ERROR ${e.getMessage}" }
          println(f"[sweep] $q%-24s $verdict")
        }
      case _ =>
        run(spark, names, sfDir, args.lift(3).fold(3)(_.toInt), verb == "jobs")
    }
    spark.stop()
  }

  private def planText(spark: SparkSession, q: String, sfDir: String,
      mode: String): String = {
    val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
    if (mode == "executed") qe.executedPlan.toString
    else qe.explainString(ExplainMode.fromString("formatted"))
  }

  private def plan(spark: SparkSession, names: Seq[String], sfDir: String,
      mode: String, outDir: Option[String]): Unit = {
    require(mode == "formatted" || mode == "executed",
      s"plan mode is formatted or executed, not $mode")
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { q =>
      val txt = try planText(spark, q, sfDir, mode)
        catch { case NonFatal(e) => s"ERROR: ${e.getMessage}\n" }
      outDir match {
        case Some(d) =>
          val path = Paths.get(d, s"${q}_$mode.txt")
          Files.writeString(path, txt)
          println(s"[plan] wrote $path (${txt.length} chars)")
        case None => println(s"===== $q =====\n$txt")
      }
    }
  }

  private def run(spark: SparkSession, names: Seq[String], sfDir: String,
      reps: Int, jobs: Boolean): Unit = {
    val jobRows = new ConcurrentLinkedQueue[(Int, Double, String)]()
    if (jobs) {
      val starts = new ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val prop = (k: String) =>
            Option(e.properties).flatMap(p => Option(p.getProperty(k)))
          // AQE submits its stage jobs from a pool thread, so their call
          // site is the same CompletableFuture frame: name the final
          // stage's operators (its RDD scopes) ahead of the call site
          val site = e.stageInfos.sortBy(_.stageId).lastOption.fold("") {
            st => st.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim))
              .distinct.mkString(" > ") + s" @ ${st.name}"
          }
          val label = prop("spark.job.description").getOrElse(site)
          starts.put(e.jobId, (e.time,
            prop("spark.sql.execution.id").fold("")(x => s"exec$x ") + label))
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          Option(starts.remove(e.jobId)).foreach { case (t0, d) =>
            jobRows.add((e.jobId, (e.time - t0) / 1e3, d))
          }
      })
      // per-batch durationMs from the engine's own progress events
      // (triggerExecution = wall; addBatch/getBatch/queryPlanning/
      // walCommit/commitOffsets split it)
      spark.streams.addListener(new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val d = e.progress.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(s"[streambreak] batch${e.progress.batchId} " +
            s"rows=${e.progress.numInputRows} $d")
        }
      })
    }
    spark.range(1000000).selectExpr("sum(id)").collect()
    sys.env.get("SPARK_GRAFT_WARM_SF").foreach { wsf =>
      names.foreach { q =>
        try SparkEntry.queries(q)(spark, wsf).count()
        catch { case NonFatal(_) => () }
      }
      clearCache(spark)
    }
    val ab = sys.env.get("SPARK_GRAFT_AB").flatMap(keyValue)
    // the session-build value, so A reps restore what SPARK_GRAFT_CONFS
    // set rather than unsetting it
    val abBaseline = ab.flatMap { case (k, _) => spark.conf.getOption(k) }
    val tag = if (jobs) "jobs" else "time"
    names.foreach { q =>
      val fn = SparkEntry.queries(q)
      (1 to reps).foreach { rep =>
        val abTag = ab.fold("") { case (k, v) =>
          if (rep % 2 == 0) { spark.conf.set(k, v); s" B($v)" }
          else abBaseline match {
            case Some(v0) => spark.conf.set(k, v0); s" A(baseline=$v0)"
            case None     => spark.conf.unset(k); " A(default)"
          }
        }
        jobRows.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        clearCache(spark)
        println(f"[$tag] $q rep$rep$abTag $dt%7.3f s ($n rows)")
        if (jobs) {
          val all = jobRows.asScala.toSeq.sortBy(_._1)
          all.foreach { case (id, s, d) =>
            println(f"[jobs]   job$id%-4d $s%8.3f s  ${d.take(140)}")
          }
          println(f"[jobs]   ${all.size} jobs, sum ${all.map(_._2).sum}%8.3f s " +
            "(gap to the rep's wall = driver/planning)")
        }
      }
    }
  }
}
