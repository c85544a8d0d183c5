package graft.plans

import org.apache.spark.sql.DataFrame

/** Eager one-shot materialization of bounded intermediate frames (r19
  * optimization round; guide §3.3 "materialising an intermediate result
  * truncates the plan", §2.6 overlap independent jobs).
  *
  * WHY: several declared queries attach a derived scalar/threshold back to
  * the aggregate it was derived from (Q30/Q81 per-group outlier cuts,
  * Q23b's frequency mean, TPC-H Q11/Q15 totals, Q14's avg_sales). A
  * DataFrame subtree consumed by two such branches is computed
  * once ONLY while every consumer's copy stays canonically equal (then AQE
  * runtime stage reuse collapses them — q_tpcds_q23's freq/spend, audited
  * in OPTIMIZATION_r19.md, need no barrier). The moment one consumer specializes its copy
  * (an inferred IsNotNull pushed below the aggregate, divergent column
  * pruning, a literal-bearing filter), reuse is off and each copy runs its
  * own full fact scan — measured r19 in final executed plans: q14's
  * three-year channels 6x, q23b's store history 3x. Where the threshold is
  * a per-group count/sum over the aggregate itself, one window partitioned
  * by the group key computes it with no barrier and no second copy (q65,
  * q1). Otherwise an eager `localCheckpoint` is the engine's committed answer
  * (the q_dedup_cluster per-round precedent): the shared aggregate —
  * always GROUP-grain, orders of magnitude smaller than the fact input —
  * is computed exactly once, stored on the executors, and every consumer
  * reads the materialized rows. Count duplicates in the FINAL section of
  * an `--executed` plan only (the output also prints the initial plan,
  * which double-counts and hides runtime reuse), and apply the barrier
  * only where a real duplicate shows.
  *
  * HONESTY CONTRACT: this is not cross-run caching. The checkpoint lives
  * inside one constructed query's lifetime; every bench rep / verify run
  * constructs a fresh frame and recomputes it from the parquet inputs.
  *
  * SCALE POSTURE: only group-grain aggregates go through here (item-,
  * supplier-, part-, customer-grain — each far below its fact input and of
  * the same class as q_dedup_cluster's corpus-grain label checkpoints).
  * Lineage is truncated, so an executor loss during the consuming stage
  * fails and retries the query instead of recomputing the subtree — the
  * documented trade the cluster-loss probes already exercise.
  *
  * `concurrently` submits all checkpoint jobs through [[Fanout]] so
  * INDEPENDENT subtrees overlap (guide §2.6) instead of serializing on the
  * driver thread; every leg's job carries the caller's job group, and the
  * call returns only after every leg has finished.
  */
object Materialize {
  def concurrently(dfs: Seq[DataFrame]): Seq[DataFrame] =
    Fanout.map(dfs)(_.localCheckpoint())
}
