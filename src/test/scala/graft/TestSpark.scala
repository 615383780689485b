package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Test / fork := true gives
  * the JVM the required --add-opens; building per-suite would dominate test
  * wall time), built from the same profile as Verify and Bench. */
object TestSpark {
  lazy val spark: SparkSession = graft.engine.Session(cpus = "4")
}
