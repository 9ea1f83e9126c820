package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The engine's one session memo: [[GrainProbe]]'s tier verdict, keyed
  * `(session, canonicalized probe plan)`. No relation is memoized
  * across queries — every query recomputes its inputs — so the only
  * thing a stale entry could affect is a PLAN SHAPE, and the row-grain
  * and class-grain tiers it picks between are result-identical.
  *
  * The DML sinks still [[invalidate]] the session after a rewrite, so
  * a re-probe sees the new data's duplication factor.
  */
object SessionCaches {

  private val verdicts = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, LogicalPlan), java.lang.Boolean]

  // Bench and perfbench snapshot these around each query: `fills`
  // counts verdicts probed and published, `hits` counts verdicts reused
  // (or lost to a racing probe).
  private val fillsCtr = new java.util.concurrent.atomic.AtomicLong
  private val hitsCtr = new java.util.concurrent.atomic.AtomicLong
  def fills: Long = fillsCtr.get()
  def hits: Long = hitsCtr.get()

  /** The verdict for `(spark, plan)`, probing with `compute` on a miss.
    * The probe runs OUTSIDE any map lock: it is a Spark job, and
    * holding the bin lock would serialize unrelated probes. A lost race
    * discards its own verdict — probes of one plan agree. */
  def memo(spark: SparkSession, plan: LogicalPlan)
      (compute: => Boolean): Boolean = {
    // Unbounded growth guard: a long-lived session probing ever-new
    // plans would otherwise pin them forever.
    if (verdicts.size > 4096) verdicts.clear()
    val k = (spark, plan)
    val hit = verdicts.get(k)
    if (hit != null) { hitsCtr.incrementAndGet(); hit.booleanValue() }
    else {
      val v = java.lang.Boolean.valueOf(compute)
      val prev = verdicts.putIfAbsent(k, v)
      if (prev != null) { hitsCtr.incrementAndGet(); prev.booleanValue() }
      else { fillsCtr.incrementAndGet(); v.booleanValue() }
    }
  }

  /** Drop every verdict of `spark` — the DML sinks' hook after a table
    * rewrite (plan-keyed entries cannot be mapped back to a table). */
  def invalidate(spark: SparkSession): Unit = {
    val it = verdicts.keySet().iterator()
    while (it.hasNext) if (it.next()._1 eq spark) it.remove()
  }
}
