package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One timed operation: a daily load, a query, a SQL statement or a
  * stream drain. `ok` is false when it threw or its result differed from
  * the first pass's; the oracle check later may mark it failed too.
  * `output` is a small JSON-able summary the oracle check reads. */
final case class OpRec(pass: Int, name: String, kind: String,
    latency: Double, var ok: Boolean, var error: String,
    var output: Any = null)

/** One timed pass: its wall time, and the CPU time the whole JVM used
  * meanwhile (every thread: the driver, tasks, JIT compiler and GC). */
final case class PassRec(pass: Int, traced: Boolean, wall: Double, cpu: Double)

/** Shared state of one benchmark run: the session, the tracer and
  * listeners, the operation ledger, and the per-result digests that tie
  * every later pass's outputs to the first pass's (which the oracle
  * checks). Pass 0 is the warm-up: it runs on separate inputs and is
  * neither checked nor timed. */
final class Run(val spark: SparkSession, val seed: Long,
    val work: String, val corrupt: Option[String]) {
  val tracer = new Tracer
  val jobs = new JobLedger
  val streams = new StreamLedger
  val heap = new HeapPeak
  val ops = mutable.ArrayBuffer[OpRec]()
  val passes = mutable.ArrayBuffer[PassRec]()
  var pass = 0
  /** Counts every loop, warm-up ones too; names each loop's tables. */
  var loop = 0
  private val digests = mutable.Map[String, String]()
  val resultsDir: String = s"$work/results"

  def traced: Boolean = tracer.enabled

  def setTraced(on: Boolean): Unit = {
    if (on && !tracer.enabled) spark.sparkContext.addSparkListener(jobs)
    if (!on && tracer.enabled) {
      org.apache.spark.perfbench.ListenerBusShim.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
    }
    tracer.enabled = on
    streams.recordProgress = on
  }

  /** Times `body` as one operation. A throw is recorded as a failed
    * operation and swallowed here only so the pass can go on; the run's
    * result counts it. */
  def op[T](name: String, kind: String, layer: String)(body: => T): Option[T] = {
    val id = s"$pass:$name"
    tracer.beginOp(id, pass)
    spark.sparkContext.setLocalProperty(JobLedger.OpKey, id)
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(layer, name)(body)
      ops += OpRec(pass, name, kind, (System.nanoTime() - t0) / 1e9, ok = true, null)
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops += OpRec(pass, name, kind, (System.nanoTime() - t0) / 1e9,
          ok = false, s"${e.getClass.getName}: ${e.getMessage}".take(500))
        None
    } finally spark.sparkContext.setLocalProperty(JobLedger.OpKey, null)
  }

  def last: OpRec = ops.last

  /** Wall and CPU time the current pass spent writing results for the
    * oracle check; left out of the pass's. */
  private var oracleWriteS, oracleWriteCpuS = 0.0

  /** Ties a collected result to the first pass's result of the same name:
    * the first is written out for the oracle check, later ones must have
    * the same digest. Marks the last operation failed on a mismatch. */
  def checkRows(name: String, rows: Array[Row], schema: StructType): Unit =
    if (pass > 0) {
      val d = Run.digest(rows.iterator.map(_.toString))
      digests.get(name) match {
        case None =>
          digests(name) = d
          val (t0, c0) = (System.nanoTime(), Run.processCpuS())
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$resultsDir/$name")
          oracleWriteS += (System.nanoTime() - t0) / 1e9
          oracleWriteCpuS += Run.processCpuS() - c0
        case Some(first) if first != d =>
          last.ok = false
          last.error = s"result differs from pass 1's (digest $d vs $first)"
        case _ => ()
      }
    }

  val warmWalls = mutable.ArrayBuffer[Double]()

  /** Runs one untimed loop over the warm-up inputs. */
  def warmLoop(body: => Unit): Unit = {
    loop += 1
    val t0 = System.nanoTime()
    body
    warmWalls += (System.nanoTime() - t0) / 1e9
  }

  /** Runs one pass: `body` is the workload's closed loop over its
    * operations. */
  def timedPass(body: => Unit): Unit = {
    pass += 1
    loop += 1
    heap.active = true
    oracleWriteS = 0.0
    oracleWriteCpuS = 0.0
    val (t0, c0) = (System.nanoTime(), Run.processCpuS())
    body
    passes += PassRec(pass, traced, (System.nanoTime() - t0) / 1e9 - oracleWriteS,
      Run.processCpuS() - c0 - oracleWriteCpuS)
    heap.active = false
  }
}

object Run {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM so far. On a virtual machine it leaves out time
    * the host held the CPUs for other guests, which wall time includes. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def bytesUnder(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    }
}
