package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{Chunker, StringExprs, VectorExprs, Winnow}

/** Session-extension injector (`spark.sql.extensions=graft.plans.GraftExtensions`):
  * registers the engine's native expressions at session build — the
  * production wiring for a cluster where every session (including plain
  * `spark.sql` users) should see `graft_dot` / `graft_normsq` — and the
  * HofVectorize optimizer rule that rewrites the interpreted HOF spellings
  * of those hot paths into the native codegen forms automatically. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (VectorExprs.functions ++ Chunker.functions ++ StringExprs.functions ++
        Winnow.functions)
      .foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => HofVectorize)
    // X304: DESCRIBE HISTORY as SQL — graft_history('<root>') TVF
    GraftHistoryTvf.functions.foreach(ext.injectTableFunction)
    // X319: DESCRIBE DETAIL at file granularity
    GraftFilesTvf.functions.foreach(ext.injectTableFunction)
    // X307: SQL maintenance verbs — graft_melt / graft_compact /
    // graft_vacuum, each a deferred one-row-report command
    GraftMaintenanceTvf.functions.foreach(ext.injectTableFunction)
    // X297: SQL DELETE / UPDATE / MERGE INTO on graft-catalog tables → the
    // engine's merge-on-read DV commits (post-hoc: after resolution,
    // before Spark's row-level-operation check would refuse them)
    ext.injectPostHocResolutionRule(s => GraftSqlDml(s))
  }
}
