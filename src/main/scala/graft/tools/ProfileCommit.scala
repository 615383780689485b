package graft.tools

import org.apache.spark.sql.functions._

/** Dev profiler (r16): where does a table COMMIT's wall time go? Replays
  * the q_stream_cdf_ids fixture's commit sequence (3 tracked appends →
  * delete → update → compact) with nanotime fences around each verb, twice
  * (cold/warm), so the per-commit driver constant — write job + footer
  * stats + manifest publish — is measured, not guessed. Run:
  *   sbt "runMain graft.tools.ProfileCommit /root/testdata/sf0.1"
  */
object ProfileCommit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.engine.Session()
    spark.range(1000000).selectExpr("sum(id)").collect()
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.engine.TableCommit
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType)))
    val src = graft.engine.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    (1 to 2).foreach { rep =>
      val root = graft.engine.TempWarehouse.createManaged("graft_pfc_") +
        "/events"
      def t[A](what: String)(f: => A): A = {
        val c0 = TableCommit.manifestParseCount.get()
        val n0 = TableCommit.manifestParseNanos.get()
        val t0 = System.nanoTime(); val r = f
        val dc = TableCommit.manifestParseCount.get() - c0
        val dn = (TableCommit.manifestParseNanos.get() - n0) / 1e6
        println(f"[profilecommit] rep$rep $what ${(System.nanoTime() - t0) / 1e9}%7.3f s" +
          f"  manifest-parses=$dc%3d (${dn}%7.2f ms)")
        r
      }
      (0 to 2).foreach { g =>
        t(s"append$g") {
          TableCommit.commitAppend(
            src.filter(pmod(col("event_id"), lit(3L)) === g.toLong)
              .repartition(1).sortWithinPartitions("event_id"),
            root, retain = 8, trackRowIds = true)
        }
      }
      t("delete") {
        TableCommit.commitDeleteRows(spark, root, schema,
          pmod(col("event_id"), lit(7L)) === 0L, retain = 8)
      }
      t("update") {
        TableCommit.commitUpdateRows(spark, root, schema,
          pmod(col("event_id"), lit(11L)) === 3L,
          Seq("event_type" -> lit("relabeled")), retain = 8,
          preserveRowIds = true)
      }
      t("compact") {
        TableCommit.commitCompact(spark, root, targetFiles = 4,
          sortCol = Some("event_id"), retain = 8, preserveRowIds = true)
      }
    }
    spark.stop()
  }
}
