package graft

import org.apache.spark.sql.SparkSession

/** One sweep over every shared-artifact memo ([[graft.sources.StarDocs]]
  * documents, [[graft.operators.Shred]] shreds, [[graft.ext.Dedup]]
  * shingle/signature tables): unpersists the cache entries and drops the
  * memo keys for `spark`. Call on session teardown — the memos otherwise
  * hold strong references to DataFrames and their session forever, which
  * is fine for a batch job but leaks in a long-lived multi-tenant JVM. */
object Caches {
  def invalidate(spark: SparkSession): Unit = {
    // every PlanMemo-backed relation memo and ModelMemo-backed learned
    // model sweeps through its registry — new memos are covered
    // automatically, no per-object wiring
    graft.PlanMemo.invalidateAll(spark)
    graft.ModelMemo.invalidateAll(spark)
    graft.ext.Dedup.invalidate(spark)
    graft.ext.InvertedIndex.invalidate(spark)
    graft.ext.Curation.invalidate(spark)
    graft.operators.Shred.invalidate(spark)
    graft.sources.StarDocs.invalidate(spark)
    graft.sources.Tables.invalidate(spark)
  }
}
