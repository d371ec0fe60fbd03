package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph construction + analysis operators (north-star extension,
  * alongside [[DedupOps.connectedComponents]] / [[DedupOps.pageRank]]):
  * the "build a similarity graph from co-occurrence, then analyze it"
  * pipeline a production dedup/recommendation system runs over its
  * entity tables.
  *
  * Every stage is fan-out-bounded — the house candidate-generator
  * discipline:
  *  - co-occurrence pair expansion is capped per group key (an
  *    uncapped hot key would emit O(groupSize²) pairs);
  *  - the graph keeps only each node's top-k strongest neighbors, so
  *    edge count is ≤ k·n regardless of how dense co-occurrence is;
  *  - triangle counting orients every edge from its lower-(degree,id)
  *    endpoint to its higher one, so a node's out-degree is bounded by
  *    O(√m) and the 2-path join does O(m^1.5) work total instead of
  *    Σ deg² (the standard orientation bound — on a skewed graph the
  *    hub's quadratic fan-out moves to its many low-degree neighbors).
  *
  * Iteration contract, shared by every graph and clustering loop here
  * and in [[DedupOps]]:
  *  - every round's frame goes through [[cut]], one lazy lineage cut,
  *    so each round's plan is constant-size at any round count;
  *  - a fixpoint loop ([[kCore]], [[DedupOps.connectedComponents]],
  *    [[DedupOps.starContraction]]) runs in [[fixpoint]] and makes ONE
  *    probe action per round, which also materializes the round's cut;
  *  - a fixpoint that reaches its round bound fails loudly with the one
  *    "did not converge" error, never returning a partial result;
  *  - [[fixpoint]] returns the rounds it ran (star contraction reports
  *    them); a fixed-round loop ([[labelPropagation]], [[bfsDistances]],
  *    [[DedupOps.pageRank]]) is a fold over its rounds with no probe.
  */
object GraphOps {

  /** Pack the (degree, id) orientation key into one comparable Long:
    * total order = degree, then id. Ids must be < 10^9 (holds for every
    * key space in the test tables); degrees are ≤ n < 10^9, so the
    * product stays far below Long range. A single Long key keeps the
    * orientation compare codegen-friendly and trivially portable to the
    * SQL oracle (struct/row comparison semantics differ across engines;
    * integer compare doesn't).
    */
  private val OrientBase = 1000000000L

  /** The one lineage cut of the graph and clustering operators: a lazy
    * `localCheckpoint`. Policy: a loop cuts every round (and the
    * triangle and common-neighbor joins cut each frame they reference
    * more than once). Uncut, round i+1's plan references round i up to
    * twice, so the logical plan doubles per round and its rendered
    * string grows 4× per round (measured 13 KB at round 1, 261 MB at
    * round 8, heap OOM near round 9 on a 60-node chain); the cut
    * truncates it to a LogicalRDD. Nothing enters the CacheManager, so
    * repeated calls leak no cache entries: the blocks of a dropped
    * round are freed by the ContextCleaner once its RDD is collected.
    * The first action over the frame materializes it, and
    * `doCheckpoint` computes any partitions that action skipped (a
    * `limit(1)` probe) before truncating, so no recompute misses data.
    *
    * Lazy is not free under AQE (the session default): asking for the
    * checkpoint's RDD plans the adaptive query, which runs its shuffle
    * stages while the DataFrame is being built, so a fixed-round loop
    * over shuffled rounds runs its rounds at construction time.
    * `SessionMemo.retain` stays separate: it is the eager,
    * session-lifetime, serialized form.
    */
  private[operators] def cut(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false)

  /** The one fixpoint loop: runs `step` from `init` until it reports
    * convergence and returns the converged state with the rounds run.
    * `step` returns (next state, converged) and makes the round's one
    * probe action. A loop that has not converged after `maxRounds`
    * rounds fails with `IllegalArgumentException` — a partial fixpoint
    * is never returned.
    */
  private[operators] def fixpoint[S](what: String, init: S,
      maxRounds: Int)(step: S => (S, Boolean)): (S, Int) = {
    @tailrec def go(s: S, round: Int): (S, Int) = {
      require(round <= maxRounds,
        s"$what did not converge in $maxRounds rounds")
      val (next, converged) = step(s)
      if (converged) (next, round) else go(next, round + 1)
    }
    go(init, 1)
  }

  /** The undirected edge list of a pair list: every row (a, b) becomes
    * the two rows (a, b) and (b, a), other columns carried. A narrow
    * in-row explode, not a self-union: a union references `pairs`
    * twice, and each reference is evaluated up to its last exchange
    * (ReuseExchange dedups the exchanges themselves, but a pair-distinct
    * final aggregate upstream runs once per direction, and a composed
    * co-occurrence pipeline re-expands its whole subtree). Same row
    * multiset, one evaluation.
    */
  private[operators] def symmetrized(pairs: DataFrame, a: String,
      b: String): DataFrame = {
    val rest = pairs.columns.filterNot(Set(a, b)).map(col).toSeq
    pairs.select(rest :+ explode(array(struct(col(a), col(b)),
        struct(col(b).as(a), col(a).as(b)))).as("e"): _*)
      .select(rest ++ Seq(col("e").getField(a).as(a),
        col("e").getField(b).as(b)): _*)
  }

  /** `use` over the [[symmetrized]] `pairs`, persisted while `use` runs:
    * the one way the loops hold the edge list every round reads.
    * Persisted, not [[cut]]: under AQE the cache is built as its own
    * query stage before the rounds plan their joins, and a lazy cut in
    * its place ran d9 at sf0.1 in 14 Spark jobs instead of 11.
    */
  private[operators] def withSymmetrized[T](pairs: DataFrame, a: String,
      b: String)(use: DataFrame => T): T = {
    val sym = symmetrized(pairs, a, b).persist()
    try use(sym) finally sym.unpersist()
  }

  /** Weighted co-occurrence pairs: members sharing a group key become a
    * pair weighted by how many keys they share. The per-key member list
    * is capped at `maxMembersPerKey` (smallest ids kept — deterministic
    * under any partitioning) BEFORE the in-row pair expansion, so one
    * hot key expands to at most O(cap²) pairs — same discipline as
    * x16's token cap and every LSH bucket cap. One hash-agg to build
    * the capped lists, one narrow double-explode, one hash-agg to
    * count: two shuffles total, both with map-side partials.
    */
  def coOccurrenceWeights(pairs: DataFrame, keyCol: String,
      memberCol: String, maxMembersPerKey: Int): DataFrame = {
    // no .distinct() before the groupBy: collect_set dedups (k,m) by
    // definition, and a distinct would add a full extra shuffle of the
    // raw input on a different key
    val capped = pairs
      .select(col(keyCol).as("k"), col(memberCol).cast("long").as("m"))
      .groupBy("k")
      .agg(slice(sort_array(collect_set(col("m"))), 1, maxMembersPerKey)
        .as("ms"))
    // ordered-pair expansion: `ms` is sorted asc, so pairing element i
    // with the tail after it yields exactly the C(s,2) a<b pairs —
    // half the rows of a full s² cross-explode + filter
    capped
      .select(col("ms"), posexplode(col("ms")))
      .select(col("col").as("a"),
        explode(slice(col("ms"), col("pos") + lit(2),
          lit(maxMembersPerKey))).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
  }

  /** Top-k similarity graph from weighted pairs: each node keeps its k
    * strongest neighbors (weight desc, neighbor id asc as the unique
    * tiebreak), and an undirected edge survives if EITHER endpoint kept
    * it (union-mutualization — the usual k-NN-graph construction).
    * Edge count is ≤ k·n by construction, which is what makes the
    * downstream triangle join safe on arbitrarily dense co-occurrence:
    * thresholding by absolute weight is data-distribution-tuned (the
    * mean shared-key count shifts with scale), but "your k closest"
    * is not. One shuffle for the per-node window, one distinct.
    */
  def topKNeighborGraph(weights: DataFrame, k: Int): DataFrame = {
    val sym = symmetrized(weights.select(col("a").as("u"),
      col("b").as("v"), col("w")), "u", "v")
    val win = Window.partitionBy("u").orderBy(col("w").desc, col("v").asc)
    sym.withColumn("rn", row_number().over(win))
      .filter(col("rn") <= k)
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
  }

  /** Per-node triangle counts over an undirected edge list (`a` < `b`
    * per row, no duplicates — [[topKNeighborGraph]]'s contract).
    *
    * Degree-oriented algorithm: every edge points from its lower
    * (degree, id) endpoint to its higher one; a triangle {u,v,w} is
    * found exactly once as two out-edges u→v, u→w (v before w in
    * orientation order) whose closing edge v→w exists. The per-node
    * count then explodes each found triangle to its three corners and
    * hash-aggregates. Joins are all on 8-byte keys; the orientation
    * key packs (degree, id) into one Long ([[OrientBase]]) so the
    * v-before-w predicate is a primitive compare inside codegen.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // The triangle join necessarily references the edge list many times
    // (degrees, orientation join, both 2-path sides, the closing probe).
    // Without lineage cuts those references multiply: each re-expands
    // the full upstream pipeline (measured 60 copies of the co-occurrence
    // aggregate in the composed d10 plan). [[cut]] collapses each
    // shared frame to one checkpointed RDD, computed once at the first
    // action, MEMORY_AND_DISK so a 100 TB edge list spills instead of
    // OOMing.
    val e = cut(edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")))
    // Degree attach without a join: aggregating degrees separately and
    // sort-merge-joining them back onto the edge list once per endpoint
    // costs 3 exchanges and 2 sorts on d10's critical path. Exploding
    // each edge to its two endpoints, counting per endpoint with an
    // UNORDERED window (count over partitionBy(id) = the node's degree
    // — every edge contributes exactly one exploded row per endpoint),
    // then regrouping by the edge key computes the identical
    // (dega, degb) in 2 exchanges. Same degrees → same orientation keys
    // → identical triangles; bytes moved stay O(|E|).
    val degWin = Window.partitionBy("id")
    val keyed = e
      .select(col("a"), col("b"), explode(array(col("a"), col("b")))
        .as("id"))
      .withColumn("dg", count(lit(1)).over(degWin))
      .groupBy(col("a"), col("b"))
      .agg(max(when(col("id") === col("a"), col("dg"))).as("dega"),
        max(when(col("id") === col("b"), col("dg"))).as("degb"))
      .select(col("a"), col("b"),
        (col("dega") * OrientBase + col("a")).as("oka"),
        (col("degb") * OrientBase + col("b")).as("okb"))
    // `oriented` carries the VALUE-ordered edge key (a, b) through so
    // the closing-edge probe below can semi-join against this same
    // frame on (a, b) — the partitioning the groupBy above already
    // established (the cut preserves it), so the probe's right side
    // needs no re-exchange (re-keying a projection of `oriented` by its
    // ORIENTATION-ordered pair would force one).
    val oriented = cut(keyed.select(
      when(col("oka") < col("okb"), col("a")).otherwise(col("b")).as("u"),
      when(col("oka") < col("okb"), col("b")).otherwise(col("a")).as("v"),
      greatest(col("oka"), col("okb")).as("okv"),
      col("a"), col("b")))
    val e1 = oriented.select(col("u"), col("v").as("v1"),
      col("okv").as("ok1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"),
      col("okv").as("ok2"))
    val paths = e1.join(e2, Seq("u")).filter(col("ok1") < col("ok2"))
    // closing edge {v1,v2} exists iff the value-ordered pair is an edge
    // (ok1 < ok2 already fixes the orientation order, so an
    // orientation-ordered probe and this value-ordered one agree);
    // left_semi because edge rows are unique — same multiplicity as an
    // inner join
    val tris = paths.join(oriented.select(col("a"), col("b")),
        least(col("v1"), col("v2")) === col("a") &&
          greatest(col("v1"), col("v2")) === col("b"), "left_semi")
      .select(col("u"), col("v1"), col("v2"))
    tris.select(explode(array(col("u"), col("v1"), col("v2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Node-pair similarity over an undirected edge list (`a` < `b` per
    * row, no duplicates — [[topKNeighborGraph]]'s contract):
    * common-neighbor count and neighbor-set Jaccard for every pair of
    * nodes sharing at least one neighbor. The 2-path expansion is the
    * classic hub hazard — a degree-D shared neighbor pairs C(D,2)
    * candidates — so each HUB contributes at most `maxAdj` of its
    * (id-ordered, deterministic) incident arcs to path generation:
    * worst-case fan-out is C(maxAdj,2) per node at ANY degree
    * distribution, the same cap discipline as every candidate
    * generator here. True (uncapped) degrees feed the Jaccard
    * denominator, so the cap bounds candidate RECALL through
    * super-hubs, never the similarity value itself. Shape: one
    * symmetrize explode, one degree agg, one per-hub window, one
    * equi-join on the hub key, two degree joins — all shuffles on
    * 8-byte keys with map-side partials.
    */
  def commonNeighborPairs(edges: DataFrame, maxAdj: Int): DataFrame = {
    val e = cut(edges.select(col("a").cast("long").as("u"),
      col("b").cast("long").as("v")))
    val sym = cut(symmetrized(e, "u", "v"))
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val hubWin = Window.partitionBy("v").orderBy(col("u").asc)
    val capped = cut(sym.withColumn("rn", row_number().over(hubWin))
      .filter(col("rn") <= maxAdj))
    val s1 = capped.select(col("v"), col("u").as("x"))
    val s2 = capped.select(col("v"), col("u").as("y"))
    val cn = s1.join(s2, Seq("v")).filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("common"))
    cn.join(deg.select(col("id").as("x"), col("deg").as("deg_x")),
        Seq("x"))
      .join(deg.select(col("id").as("y"), col("deg").as("deg_y")),
        Seq("y"))
      .select(col("x"), col("y"), col("common"),
        round(col("common") /
          (col("deg_x") + col("deg_y") - col("common")), 6)
          .as("nbr_jaccard"))
  }

  /** k-core decomposition by iterative peeling: repeatedly delete every
    * node whose current degree is < k until none remains, then report
    * each surviving node's within-core degree. The k-core is the UNIQUE
    * maximal subgraph of min-degree ≥ k — peel order doesn't matter —
    * which is what lets an iterative Spark loop hash-match a SQL oracle
    * that unrolls the peel: both converge to the same fixpoint, and
    * extra unrolled rounds past convergence are no-ops.
    *
    * Shape per round: one hash-agg for degrees, one bounded probe
    * action on the peel set (`limit(1)`), two anti-joins to drop edges
    * touching peeled nodes; every round's edge list and degrees are
    * [[cut]]. The loop is a [[fixpoint]]; `maxRounds` bounds the PEELS,
    * and one more probe checks the input before any peel, so R peels
    * take R + 1 rounds. A non-convergent input fails loudly rather than
    * returning a partial peel.
    *
    * The CONVERGED round's degree frame is returned directly: the round
    * that finds no node below k has already aggregated every survivor's
    * within-core degree — the exact output — so no trailing degree
    * pass (one full O(|E|) explode + hash-agg) recomputes it. A
    * self-pair (a, a) counts twice toward a's degree, the usual
    * convention for a loop.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 20): DataFrame = {
    // node-sized: the probe materializes it, and both the anti-join
    // inputs and the converged RETURN read the one materialization
    def degrees(ed: DataFrame): DataFrame = cut(ed
      .select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("core_deg")))
    val e0 = cut(edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")))
    val ((_, core), _) = fixpoint("kCore", (e0, degrees(e0)),
        maxRounds + 1) { case (e, dg) =>
      val bad = dg.filter(col("core_deg") < k).select(col("id"))
      if (bad.limit(1).count() == 0) ((e, dg), true)
      else {
        val peeled = cut(e
          .join(bad.select(col("id").as("a")), Seq("a"), "left_anti")
          .join(bad.select(col("id").as("b")), Seq("b"), "left_anti")
          .select(col("a"), col("b")))
        ((peeled, degrees(peeled)), false)
      }
    }
    core
  }

  /** Synchronous label propagation (deterministic LPA), `rounds` fixed
    * iterations: labels start as node ids; each round every node adopts
    * the most frequent label among its NEIGHBORS (count desc, label asc
    * — the unique tiebreak that makes synchronous LPA reproducible; the
    * classic randomized tie-break cannot hash-match anything). A fixed
    * round count sidesteps LPA's known bipartite oscillation — the
    * caller picks the horizon, and the oracle unrolls exactly the same
    * rounds.
    *
    * Shape per round: one equi-join of the symmetrized edges to the
    * label frame + one hash-agg of votes + one per-node window argmax —
    * everything moves O(edges), never corpus payloads, and each round's
    * labels are [[cut]] so the plan stays constant-size at any round
    * count. `rounds` = 0 returns every node labeled with its own id.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    withSymmetrized(edges.select(col("a").cast("long").as("u"),
        col("b").cast("long").as("v")), "u", "v") { sym =>
      val init = sym.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("lbl"))
      (1 to rounds).foldLeft(init) { (labels, _) =>
        val votes = sym
          .join(labels.select(col("id").as("v"), col("lbl")), Seq("v"))
          .groupBy("u", "lbl").agg(count(lit(1)).as("n"))
        val win = Window.partitionBy("u")
          .orderBy(col("n").desc, col("lbl").asc)
        cut(votes.withColumn("rn", row_number().over(win))
          .filter(col("rn") === 1)
          .select(col("u").as("id"), col("lbl")))
      }
    }

  /** Convenience composition: co-occurrence → top-k graph → per-node
    * triangle counts, returning the `topK` most triangle-dense nodes
    * (count desc, id asc). The full "similarity-graph analytics"
    * pipeline in one call.
    */
  def cooccurrenceTriangles(pairs: DataFrame, keyCol: String,
      memberCol: String, maxMembersPerKey: Int, neighborsK: Int,
      topK: Int): DataFrame = {
    val counts = triangleCounts(
      topKNeighborGraph(
        coOccurrenceWeights(pairs, keyCol, memberCol, maxMembersPerKey),
        neighborsK))
    RelationalOps.topKGlobal(counts,
      Seq(col("n_triangles").desc, col("id").asc), topK)
  }

  /** Multi-source BFS hop distances over the undirected edge set:
    * `rounds` synchronous frontier expansions from `sources` (a frame
    * with one `id` column, dist 0). Each round is ONE equi-join of the
    * current frontier to the symmetrized edges + one anti-join against
    * the discovered set + a distinct — everything moves O(frontier·
    * avg_deg) keys, never payloads, and frontier/discovered are
    * [[cut]] per round so the plan stays constant-size at any
    * horizon. First discovery IS the shortest hop count (BFS
    * invariant), so the result equals a depth-bounded recursive closure
    * with min(dist) — the exact shape the SQL oracle takes. Nodes
    * beyond `rounds` hops are absent by contract (the bounded-horizon
    * semantics a "within k hops" audience query wants; an unbounded
    * frontier would iterate to the graph diameter). `rounds` = 0
    * returns the sources at dist 0.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
      rounds: Int): DataFrame =
    withSymmetrized(edges.select(col("a").cast("long").as("u"),
        col("b").cast("long").as("v")), "u", "v") { sym =>
      val seeds = cut(sources
        .select(col("id").cast("long").as("id"), lit(0L).as("dist")))
      (1 to rounds).foldLeft((seeds, seeds)) {
        case ((discovered, frontier), r) =>
          val next = cut(sym
            .join(frontier.select(col("id").as("u")), Seq("u"))
            .select(col("v").as("id")).distinct()
            .join(discovered, Seq("id"), "left_anti")
            .select(col("id"), lit(r.toLong).as("dist")))
          (cut(discovered.unionAll(next)), next)
      }._1
    }
}
