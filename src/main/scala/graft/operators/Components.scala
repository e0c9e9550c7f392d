package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation with
  * pointer halving — the shared kernel behind [[DistributedDbscan]]'s
  * large-graph branch and [[Docs.nearDupClusters]].
  *
  * Contract: `nodes` has one long column `uid`; `edges` has `(a_uid, b_uid)`
  * and MUST contain BOTH directions of every undirected edge — each round
  * propagates labels b→a only, so a one-directional edge set strands the
  * component minimum on one side. Labels converge to the component-minimum
  * uid in O(log diameter) rounds (min-propagation + comp ← comp(comp)
  * halving); every round is one aggregation plus two joins over frames
  * keyed by uid, localCheckpointed to cut lineage.
  */
object Components {

  /** Adaptive entry point: a small graph (≤ graft.cc.unionFindMaxEdges
    * edges, default 5M — ~320 MB driver heap worst case at ~64 B/edge — AND
    * ≤ 2·maxEdges nodes: the NODE set is also collected, and e.g. millions
    * of isolated core points arrive with few edges, so an edge-only gate
    * would not bound the driver) is solved by one driver-side union-find
    * pass over a bounded collect; a large one runs the distributed
    * [[minLabel]] loop. The same adaptive posture as a
    * broadcast-join threshold: near-dup graphs are tiny relative to their
    * corpus, so the common case is one collect instead of O(log diameter)
    * join rounds.
    */
  def assign(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val maxEdges = spark.conf.getOption("graft.cc.unionFindMaxEdges")
      .map(_.toLong).getOrElse(5_000_000L)
    // ONE probe job for both branch-decision counts (two separate count()
    // actions doubled the driver-seam job count on every CC call — r5
    // verdict finding #3); both inputs are checkpointed/persisted by every
    // caller, so the union scan is cheap.
    val probe = edges.select(lit(1).as("__side"))
      .unionAll(nodes.select(lit(2).as("__side")))
      .groupBy("__side").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nEdges = probe.getOrElse(1, 0L)
    val nNodes = probe.getOrElse(2, 0L)
    if (nEdges <= maxEdges && nNodes <= 2L * maxEdges) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // edges and nodes ride ONE collect job (node rows tagged by a null
      // b_uid — the contract forbids null edge endpoints); union-find must
      // see every edge before roots resolve, so partition the rows first
      val rows = edges.select(col("a_uid"), col("b_uid"))
        .unionAll(nodes.select(col("uid").as("a_uid"), lit(null).cast("long").as("b_uid")))
        .collect()
      val (edgeRows, nodeRows) = rows.partition(!_.isNullAt(1))
      edgeRows.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      import spark.implicits._
      val roots = nodeRows.map(r => { val u = r.getLong(0); (u, find(u)) })
      roots.toSeq.toDF("uid", "comp")
    } else minLabel(nodes, edges)
  }

  /** The distributed loop, at most `maxIters` rounds. Labels still changing
    * in the last round throw IllegalStateException (rounds run, labels that
    * moved) — unconverged labels are never returned as components.
    */
  def minLabel(nodes: DataFrame, edges: DataFrame, maxIters: Int = 50): DataFrame = {
    require(maxIters > 0, "maxIters must be positive")
    var comp = nodes.select(col("uid"), col("uid").as("comp"))
      .localCheckpoint(eager = true)
    var changed = -1L // labels moved in the last probed round
    var iter = 0
    while (changed != 0L && iter < maxIters) {
      val viaNeighbors = edges
        .join(comp.withColumnRenamed("uid", "b_uid").withColumnRenamed("comp", "nc"), Seq("b_uid"))
        .groupBy(col("a_uid").as("uid"))
        .agg(min("nc").as("minNc"))
      // min-propagation + pointer-halving (comp ← comp(comp)); the
      // round-start comp rides along as `old` so convergence is detectable
      // from the checkpointed frame alone (no extra join job)
      val prop = comp.join(viaNeighbors, Seq("uid"), "left")
        .select(col("uid"), col("comp").as("old"),
          least(col("comp"), coalesce(col("minNc"), col("comp"))).as("comp"))
      val halved = prop.as("p")
        .join(prop.select(col("uid").as("comp"), col("comp").as("cc")).as("m"), Seq("comp"), "left")
        .select(col("uid"), col("old"),
          least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp"))
        .localCheckpoint(eager = true)
      iter += 1
      // probe convergence every 2nd round only — a cheap scan over the
      // local checkpoint, half as many probe jobs as checking every round
      if (iter % 2 == 0 || iter >= maxIters)
        changed = halved.where(col("comp") =!= col("old")).count()
      comp = halved.select("uid", "comp")
    }
    if (changed != 0L)
      throw new IllegalStateException(s"connected components did not converge in " +
        s"$iter rounds: $changed labels still changing")
    comp
  }
}
