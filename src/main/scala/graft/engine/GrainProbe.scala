package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dup-mass probe behind every rep-tier decision (the `fanOutPerText`
  * rule: class grain at ≥4× duplication factor).
  *
  * The probe itself is one count + fixed-size-HLL aggregate over the
  * key expression — cheap per call, but it is an EXTRA eager corpus
  * pass and an extra Spark job fired at DataFrame-construction time,
  * once per op invocation. The verdict is therefore memoized per
  * (session, canonicalized probe plan) in [[SessionCaches]].
  *
  * Why memoizing is sound and NOT result caching:
  *   - The probed value only picks a PLAN SHAPE — the row-grain and
  *     class-grain tiers are result-identical by construction (pinned
  *     rep==member in TextOpsSpec/SketchOpsSpec/DedupOpsSpec), so even
  *     a stale verdict can never change any query's output.
  *   - The key is the canonicalized logical plan of the probe
  *     aggregate itself: two ops probe the same cache entry only when
  *     their input plan AND key expression are semantically identical.
  *   - The Dml sinks clear the session's verdicts after a rewrite, so
  *     the next probe sees the new data.
  *
  * Streaming inputs never reach this (callers keep their
  * `!df.isStreaming` guard — tier probes are batch-only by contract).
  */
object GrainProbe {

  /** True when `key`'s distinct mass is ≤ 1/4 of the row count over
    * `df` — fire the class/rep tier. Empty input (null HLL cell) is
    * row grain. */
  def dupTier(df: DataFrame, key: Column): Boolean = {
    val probe = df.agg(count(lit(1)), approx_count_distinct(key))
    SessionCaches.memo(df.sparkSession,
        probe.queryExecution.analyzed.canonicalized) {
      val r = probe.head()
      !r.isNullAt(1) && r.getLong(1) * 4 <= r.getLong(0)
    }
  }
}
