package graft

/** Physical-plan pins for the two most expensive driver queries — the same
  * discipline as DocsSpec's filterPipeline two-shuffle assert: a future
  * change that regresses the join strategy (an inequality predicate leaking
  * into the join condition, a lost equi key) fails HERE with the plan in
  * the message, instead of as a silent sf0.1 bench cliff.
  *
  * Pinned at sf0.001 — plan SHAPE is scale-invariant (strategy choice
  * depends on the logical plan, not row counts, once broadcast thresholds
  * are out of the picture for the shuffled sides).
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("gps_session_attr: equi joins only — no nested-loop/cartesian/range join") {
    val plan = planOf("gps_session_attr")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the containment predicate must ride as a post-join filter on an EQUI
    // join over (user, chunk) — a theta join would plan as BNLJ above
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("dbscan_distributed: final assignment plan is equi-join + hash-agg only") {
    // run() executes its bounded driver seams during construction (count
    // guards, label ranking) — cheap at sf0.001; the returned frame's plan
    // is the final label assignment the cluster actually executes at scale
    val plan = planOf("dbscan_distributed")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("emb_lsh_fixed: one hyperplane table plans no pair dedup aggregate") {
    // a pair can collide in several tables only when there are several:
    // the single-table query must not pay the dedup HashAggregate that the
    // eight-table emb_lsh does
    val fixed = planOf("emb_lsh_fixed")
    assert(!fixed.contains("HashAggregate"), fixed)
    assert(!fixed.contains("Generate"), fixed)
    val multi = planOf("emb_lsh")
    assert(multi.contains("HashAggregate"), multi)
  }
}
