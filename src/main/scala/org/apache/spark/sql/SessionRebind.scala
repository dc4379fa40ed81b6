package org.apache.spark.sql

/** `classic.Dataset.ofRows` is private to Spark's sql package; graft
  * needs it to re-plan a finished query in a sibling session (the light
  * lane's narrow AQE-off child, `graft.NarrowSession`). Rebinding the
  * ANALYZED plan re-runs only optimization and physical planning under
  * the target session's conf: no re-analysis, no job, and cached data
  * (graph tables, posting lists) is still found through the shared
  * `CacheManager`. Both sessions must share one SparkContext. This
  * accessor lives under `org.apache.spark.sql` solely to re-export that
  * one constructor — no other internals are touched. */
object SessionRebind {
  def apply(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
