package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bulk-iterative graph analytics over plain edge DataFrames — the
  * Pregel-shaped loops (rank propagation here; the dedup family's
  * connected components lives in `ext/Dedup`) expressed as per-iteration
  * join+aggregate rounds the planner schedules like any other shuffle
  * stage. No GraphX/RDD surface: edges and ranks stay DataFrames, so
  * AQE, partial aggregation, and skew splitting all apply per round.
  */
object GraphOps {

  /** Triangle count + global clustering coefficient over an undirected
    * edge frame — one row: vertices, edges, wedges (open two-paths),
    * triangles, and `3·T / W` rounded (NULL when wedge-free). Integer
    * everywhere except the final rounded ratio, so the counts replay
    * bit-exactly in any engine.
    *
    * The count uses the ordered-edge formulation: orient every edge
    * along a total vertex order, then triangles are exactly the rows of
    * `E(a,b) ⋈ E(b,c) ⋈ E(a,c)` — each triangle {x≺y≺z} appears ONCE
    * (as a=x, b=y, c=z), no /6 correction, no direction bookkeeping.
    * Wedges come from degrees alone: `Σ d·(d−1)/2`.
    *
    * The order is the classic `m^{3/2}` DEGREE order `(d(v), v)`
    * ([[orientByDegree]]), not raw id order: the wedge join's key
    * multiplicity at a middle vertex b is d_in(b)·d_out(b), and under
    * degree orientation every out-neighbor outranks its source, so
    * out-degrees are O(√m) and a hub's wedges spread across its
    * low-degree neighbors instead of serializing one join key. The
    * triangle COUNT is invariant to which total order is used, so the
    * result (and every recorded hash) is unchanged from the id-order
    * formulation — only the join's load distribution differs
    * (skew audit in GraphOpsSpec).
    *
    * Scale shape: two self-joins on single vertex keys plus one
    * degree aggregate — every stage partial-agg-friendly and
    * AQE-skew-splittable, with the degree orientation removing the one
    * structural skew source (power-law hubs) the planner can't split.
    */
  def triangleStats(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      contentKey: Option[String] = None
  ): DataFrame = {
    // the adjacency arrays key on LONG ids (the integer merge-walk
    // kernel); a lossy .cast("long") on a non-numeric id column would
    // NULL every neighbor silently and report n_triangles = 0 — require
    // an integral id type so a string-keyed graph fails loudly instead
    // (hash/md5 string ids to longs at the call site, or key the walk on
    // the string kernel)
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idTypes = Seq(srcCol, dstCol).map(c => edges.schema(c).dataType)
    require(
      idTypes.forall(t => Seq(ByteType, ShortType, IntegerType, LongType).contains(t)),
      s"triangleStats: vertex id columns ($srcCol, $dstCol) must be integral, got " +
        idTypes.map(_.simpleString).mkString(", "))
    // the oriented frame is referenced FIVE times below (degree table, the
    // three wedge-join legs, the edge count) and each reference would
    // otherwise replay the whole upstream chain — pair generation +
    // verification when the edges come from a dedup candidate join. With a
    // caller-asserted contentKey the orientation lands in the plan-keyed
    // parquet memo once (the kcorePeel/lpa round-sharing discipline).
    val oriented = orientByDegree(edges, srcCol, dstCol)
    val e = graft.Memo.frame("tri_oriented", contentKey.map(_ + "|orient"), edges.sparkSession)(oriented)
    val deg = e
      .select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("d"))
    // triangles = Σ over oriented edges (a,b) of |N⁺(a) ∩ N⁺(b)|: build the
    // sorted out-neighbor array per vertex once (one model-shaped groupBy —
    // total payload is exactly m ids), then ONE pass over the edge frame
    // with two adjacency lookups and the zero-allocation native merge-walk
    // intersect. This replaces the e⋈e⋈e wedge formulation, which
    // MATERIALIZED every wedge as a join row before the closing probe —
    // Σ outdeg² rows through an exchange; near-clique components (the
    // dedup pair graph's shape) make that quadratic in clique size. The
    // orientation bounds each array at O(√m), and AQE broadcasts the
    // adjacency side when it is small. Ids stay LONGS through the
    // integer-key merge-walk kernel (graft_inter_sorted_l) — one `<` per
    // step, no id→string casts, and its OWN static method so the string
    // kernel's set-similarity profile cannot pollute this loop's JIT
    // (see SortedIntersectCountLong's scaladoc for the measurement).
    val adj = e
      .groupBy(col("a"))
      .agg(sort_array(collect_list(col("b").cast("long"))).as("nbrs"))
    val tri = e
      .join(adj.select(col("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("a").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(call_function("graft_inter_sorted_l", col("na"), col("nb")).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    val degStats = deg.agg(
      count(lit(1)).as("n_vertices"),
      expr("sum(d * (d - 1) div 2)").as("n_wedges"))
    val edgeCount = e.agg(count(lit(1)).as("n_edges"))
    degStats
      .crossJoin(edgeCount) // three one-row frames: the cross joins are scalars
      .crossJoin(tri)
      .select(
        col("n_vertices"),
        col("n_edges"),
        col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3).cast("double") * col("n_triangles") / col("n_wedges"), 6))
          .as("clustering"))
  }

  /** Canonical degree-oriented edge frame: undirected edges deduped to
    * one row per unordered pair, then oriented `a → b` along the total
    * order `(d(a), a) < (d(b), b)` — every edge points from its lower-
    * degree endpoint (id as tie-break) to the higher. The out-degree of
    * any vertex under this orientation is O(√m), which is what bounds
    * the wedge join in [[triangleStats]] at `m^{3/2}` and keeps a
    * power-law hub from concentrating O(d²) wedge pairs on one key: a
    * hub out-ranks all its low-degree neighbors, so its edges all point
    * IN and it generates d_in·0 = 0 wedges as a middle vertex.
    *
    * Scale shape: one distinct on the canonical pair, one degree
    * aggregate, two equi-joins of the edge frame against the (|V|-row)
    * degree table — all partial-agg-friendly; AQE broadcasts the degree
    * side when small.
    */
  private[graft] def orientByDegree(
      edges: DataFrame,
      srcCol: String,
      dstCol: String
  ): DataFrame = {
    val und = edges
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x"))
      .agg(count(lit(1)).as("d"))
    val lowerIsU = // (d_u, u) < (d_v, v); u < v already, so a degree tie keeps u
      col("du") < col("dv") || (col("du") === col("dv"))
    und
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(lowerIsU, col("u")).otherwise(col("v")).as("a"),
        when(lowerIsU, col("v")).otherwise(col("u")).as("b"))
  }

  /** Fixed-iteration SYNCHRONOUS label propagation (Raghavan et al. 2007,
    * derandomized): community ids over an undirected edge frame. Every
    * node starts labeled with itself; each round, every node
    * simultaneously adopts the most frequent label among its neighbors,
    * ties broken on the SMALLEST label — counts are integers and the
    * tie-break total, so a fixed iteration count replays bit-exactly in
    * any engine (the classic formulation's random tie-breaks and
    * asynchronous sweeps are deterministically replaced, the same
    * derandomization discipline as the integer PageRank below).
    * Synchronous LPA can oscillate on bipartite structure instead of
    * converging — fixed `iters` makes even that deterministic.
    *
    * On the near-dup pair graph this labels each near-clique cluster with
    * its minimum doc id in 1–2 rounds — community ids for
    * cluster-balanced sampling (ext/Curation.clusterBalancedSample is the
    * embedding-space analogue) without the pointer-jumping machinery of
    * full connected components, and unlike CC it does NOT chain loosely
    * bridged clusters into one label: the mode favors the dense side.
    *
    * Scale shape: per round, one shuffle joins labels to the symmetric
    * adjacency on the neighbor key, one partial-aggregated (node, label)
    * count, one per-node top-1 window — all keyed on vertex ids, AQE-
    * splittable, no global state. `localCheckpoint` severs lineage every
    * 4th round (the pageRank pacing).
    *
    * @return (node, label) — label = elected community id
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      contentKey: Option[String] = None
  ): DataFrame = lpaLabels(edges, srcCol, dstCol, iters, contentKey)

  /** The round-`iters` label frame, optionally content-key-spilled: the
    * synchronous rounds are deterministic, so the assignment AND its
    * fixpoint certificate (which probes off the identical round-R frame)
    * share one execution of the loop through the plan-keyed memo — the
    * [[kcorePeel]] discipline.
    */
  private def lpaLabels(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      contentKey: Option[String]
  ): DataFrame = {
    require(iters >= 1 && iters <= 16, "iters must be in [1, 16] — fixed unrolled rounds")
    def loop: DataFrame = {
      val adj = symmetricAdj(edges, srcCol, dstCol)
      var labels = adj.select(col("node")).distinct().withColumn("label", col("node"))
      for (i <- 1 to iters) {
        labels = lpaRound(adj, labels)
        if (i % 4 == 0 && i < iters) labels = labels.localCheckpoint(false)
      }
      labels
    }
    graft.Memo.frame("lpa_labels", contentKey.map(key => s"$key|iters=$iters"), edges.sparkSession)(loop)
  }

  /** The canonical symmetric adjacency of an undirected edge frame:
    * dedupe to (min, max), drop self-loops, emit both directions. */
  private def symmetricAdj(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    und
      .select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
  }

  /** One synchronous LPA round: mode of neighbor labels, ties to the
    * smallest label (join + partial-agg'd count + per-node top-1). */
  private def lpaRound(adj: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = adj
      .join(labels.select(col("node").as("nbr"), col("label")), Seq("nbr"))
      .groupBy(col("node"), col("label"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("node")).orderBy(col("c").desc, col("label").asc)
    cnt
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("node"), col("label"))
  }

  /** Fixpoint CERTIFICATE for [[labelPropagation]]: run the `iters`-round
    * assignment, then ONE more round, and report whether any node's label
    * still moves — a checkable convergence signal, so a caller can tell a
    * converged labeling from a truncated one (synchronous LPA can
    * oscillate on bipartite structure; the fixed round count alone cannot
    * distinguish the two). One row out:
    * `(iters, n_nodes, n_changed, converged)`.
    *
    * Cost: exactly one extra LPA round on top of the run being certified
    * (the round-`iters` label frame is reused as round `iters+1`'s
    * input), plus one node-keyed join and a one-row aggregate — the
    * certificate never recomputes the run, so it scales wherever the run
    * itself does.
    */
  def labelPropFixpoint(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      contentKey: Option[String] = None
  ): DataFrame = {
    require(iters >= 1 && iters <= 15, "iters must be in [1, 15] — one extra probe round runs")
    // the R assignment rounds are IDENTICAL to labelPropagation's — under
    // a contentKey they share one spill entry, so the certificate costs
    // one probe round plus the node-keyed diff
    val adj = symmetricAdj(edges, srcCol, dstCol)
    val labels = lpaLabels(edges, srcCol, dstCol, iters, contentKey)
    val next = lpaRound(adj, labels).withColumnRenamed("label", "label_r1")
    // same node set on both sides (every node relabels every round), so
    // the comparison is a plain node-keyed inner join
    labels
      .withColumnRenamed("label", "label_r")
      .join(next, Seq("node"))
      .agg(
        lit(iters).as("iters"),
        count(lit(1)).as("n_nodes"),
        count(when(col("label_r") =!= col("label_r1"), 1)).as("n_changed"))
      .withColumn("converged", col("n_changed") === 0)
  }

  /** Fixed-round k-core peel (Seidman 1983 cores, bulk-synchronous
    * Matula–Beck peeling): each round simultaneously removes every vertex
    * whose CURRENT degree is below `k`, then recomputes degrees over the
    * surviving edges. After `rounds` rounds the survivors with their final
    * degrees come back as `(node, degree)` — on the near-dup pair graph
    * (near-cliques) the peel reaches its fixpoint in 1–2 rounds, and a
    * fixpoint round removes nothing, so the fixed count replays the true
    * k-core. On adversarial chains the R-round peel is a documented
    * superset of the true core (the long-chain case needs O(diameter)
    * rounds); callers wanting the exact core on arbitrary graphs raise
    * `rounds` — every round is integer-deterministic either way, which is
    * what lets the DuckDB twin unroll the identical rounds.
    *
    * Dense-subgraph extraction is the curation use: spam/SEO farms and
    * template mills form high-core near-cliques in the near-dup graph,
    * while organic near-dup pairs (quote, syndication) stay in low cores —
    * the k-core id is the standard cheap dense-cluster certificate
    * (cheaper than triangle counting, monotone under edge removal).
    *
    * Scale shape: per round, one partial-aggregated degree count (explode
    * is map-side) and two semi-joins of the edge frame against the
    * surviving-vertex set on single vertex keys — AQE broadcasts the
    * vertex side when the survivor set is small, and every stage is
    * skew-splittable. No global state; `localCheckpoint` severs lineage
    * every 4th round (the pageRank pacing).
    *
    * ADJUDICATED (r14): the proposed incremental-degree peel (maintain
    * degrees across rounds, subtract removed-edge deltas instead of
    * re-aggregating the survivor frame) is NOT worth its complexity here.
    * Under the denoised bench harness (min-of-5), graph_kcore measures a
    * stable 2.55-2.56 s back-to-back at sf0.1 — the r13 8.4 s reading
    * that motivated the task was scheduler noise from the min-of-2 era
    * (bench_history/README.md records the measured band). The re-agg per
    * round is partial-aggregated over a frame that only shrinks, so the
    * asymptotics already match the incremental form's; deltas would save
    * constants while adding a join against the removed-edge set per round.
    */
  def kcorePeel(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int,
      contentKey: Option[String] = None
  ): DataFrame = {
    // final survivors: vertices still meeting the bar over the peeled edges
    coreDegrees(peeledEdges(edges, srcCol, dstCol, k, rounds, contentKey))
      .filter(col("degree") >= k)
  }

  /** The R-round peeled edge frame, optionally content-key-spilled: the
    * peel loop is integer-deterministic, so when a caller asserts the
    * input's identity (corpus + pair-generation params) via `contentKey`,
    * the peeled frame lands in the plan-keyed parquet memo and every
    * consumer in the session — the core query AND its fixpoint
    * certificate, which peels the IDENTICAL R rounds before its probe —
    * pays for the loop once (the setsim-spill discipline one level up).
    */
  private def peeledEdges(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int,
      contentKey: Option[String]
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1, 16] — fixed unrolled rounds")
    def loop: DataFrame = {
      var e = undirectedEdges(edges, srcCol, dstCol)
      for (i <- 1 to rounds) {
        e = peelRound(e, k)
        if (i % 4 == 0 && i < rounds) e = e.localCheckpoint(false)
      }
      e
    }
    graft.Memo.frame("kcore_peeled", contentKey.map(key => s"$key|k=$k|rounds=$rounds"), edges.sparkSession)(
      loop)
  }

  /** Multi-source BFS hop distances over the undirected graph, `rounds`
    * bulk-synchronous frontier expansions — the reachability primitive
    * under contamination tracing ("every doc within 3 near-dup hops of a
    * benchmark document") and blast-radius audits. Every round joins ONLY
    * the newly-discovered frontier to the adjacency (work is
    * frontier-proportional, never |V|-proportional — the non-negotiable
    * property at 100 TB where round 1 touches thousands of nodes, not
    * billions), dedupes candidates with a partial-agg'd distinct, and
    * anti-joins the known set so each node keeps its FIRST (minimal)
    * distance. Sources not in any edge still report distance 0.
    *
    * Unreached nodes are absent from the output (emitting |V| null rows
    * would be the expensive way to say "not within `rounds` hops").
    * `localCheckpoint` severs lineage every 4th round, the shared
    * iteration discipline of this module.
    *
    * @return (node, dist) — dist ∈ [0, rounds], minimal hop count
    */
  def bfsDistances(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: DataFrame,
      srcIdCol: String,
      rounds: Int,
      contentKey: Option[String] = None
  ): DataFrame = bfsDist(edges, srcCol, dstCol, sources, srcIdCol, rounds, contentKey)

  /** The round-R distance table, optionally content-key-spilled. The
    * caller's `contentKey` must assert the SOURCE SET's identity as well
    * as the edge frame's — both are inputs to the loop.
    */
  private def bfsDist(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: DataFrame,
      srcIdCol: String,
      rounds: Int,
      contentKey: Option[String]
  ): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1, 16] — fixed unrolled rounds")
    def loop: DataFrame = {
      val adj = bfsAdj(edges, srcCol, dstCol, rounds)
      var dist = sources.select(col(srcIdCol).as("node")).distinct().withColumn("dist", lit(0))
      var frontier = dist.select(col("node"))
      for (i <- 1 to rounds) {
        val newly = bfsRound(adj, frontier, dist, i)
        dist = dist.unionByName(newly)
        frontier = newly.select(col("node"))
        // dist feeds BOTH the anti-join and the union next round — sever
        // every other round or the plan doubles per round
        if (i % 2 == 0 && i < rounds) {
          dist = dist.localCheckpoint(false)
          frontier = frontier.localCheckpoint(false)
        }
      }
      dist
    }
    graft.Memo.frame("bfs_dist", contentKey.map(key => s"$key|rounds=$rounds"), edges.sparkSession)(loop)
  }

  /** The frontier-semi-joined adjacency of one BFS expansion: the nodes
    * discovered at distance `i` (candidates minus the known set). */
  private def bfsRound(adj: DataFrame, frontier: DataFrame, dist: DataFrame, i: Int): DataFrame = {
    val cand = adj
      .join(frontier.withColumnRenamed("node", "s"), Seq("s"), "left_semi")
      .select(col("d").as("node"))
      .distinct()
    cand.join(dist, Seq("node"), "left_anti").withColumn("dist", lit(i))
  }

  private def bfsAdj(edges: DataFrame, srcCol: String, dstCol: String, rounds: Int): DataFrame = {
    val e = undirectedEdges(edges, srcCol, dstCol)
    val adj0 = e.select(col("u").as("s"), col("v").as("d"))
      .unionByName(e.select(col("v").as("s"), col("u").as("d")))
    // the adjacency sits at EVERY leaf of the unrolled round lineage —
    // materialize it once (multi-round only) or an expensive edge
    // derivation (a setsim pair build) replays per round per reference
    if (rounds > 1) adj0.localCheckpoint(false) else adj0
  }

  /** Fixpoint CERTIFICATE for [[bfsDistances]]: run one PROBE round past
    * `rounds` and count the nodes it would still discover —
    * `at_fixpoint = true` proves the R-round distance table IS the full
    * reachability closure of the sources (nothing lies beyond R hops),
    * the same checked-not-assumed contract as [[kcoreFixpoint]].
    */
  def bfsFixpoint(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: DataFrame,
      srcIdCol: String,
      rounds: Int,
      contentKey: Option[String] = None
  ): DataFrame = {
    // the R expansion rounds are IDENTICAL to bfsDistances' — under a
    // contentKey the round-R table rides the shared spill and the probe
    // is ONE more frontier expansion (frontier = the dist==R stratum),
    // never a recompute of the loop
    val distR = bfsDist(edges, srcCol, dstCol, sources, srcIdCol, rounds, contentKey)
    val frontier = distR.filter(col("dist") === rounds).select(col("node"))
    val newly = bfsRound(bfsAdj(edges, srcCol, dstCol, rounds = 1), frontier, distR, rounds + 1)
    distR
      .agg(
        sum(when(col("dist") <= rounds, 1L).otherwise(0L)).as("n_reached"))
      .crossJoin(newly.agg(count(lit(1)).as("n_new_probe")))
      .select(
        lit(rounds).as("rounds"),
        col("n_reached"),
        col("n_new_probe"),
        (col("n_new_probe") === 0).as("at_fixpoint"))
  }

  private def undirectedEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  private def coreDegrees(e: DataFrame): DataFrame = e
    .select(explode(array(col("u"), col("v"))).as("node"))
    .groupBy(col("node"))
    .agg(count(lit(1)).as("degree"))

  /** One bulk-synchronous peel round: drop every edge touching a vertex
    * whose current degree is below `k` (two semi-joins on vertex keys). */
  private def peelRound(e: DataFrame, k: Int): DataFrame = {
    val alive = coreDegrees(e).filter(col("degree") >= k).select(col("node"))
    e.join(alive.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
      .join(alive.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
  }

  /** Fixpoint CERTIFICATE for [[kcorePeel]]: peel `rounds` rounds, then
    * ONE more, and report whether the survivor `(node, degree)` set moved
    * — the checkable complement to the documented "R rounds is a superset
    * of the true core on long chains" caveat. A fixpoint round removes
    * nothing, so `at_fixpoint = true` proves the R-round answer IS the
    * exact k-core; `false` tells the caller to raise `rounds`. One row
    * out: `(rounds, n_round_r, n_round_r1, n_diff, at_fixpoint)` where
    * `n_diff` counts `(node, degree)` entries on exactly one side.
    *
    * Cost: one extra peel round off the already-peeled round-R edge frame
    * (never a recompute from round 0), one (node, degree)-keyed full
    * outer join between two survivor sets, one one-row aggregate.
    */
  def kcoreFixpoint(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int,
      contentKey: Option[String] = None
  ): DataFrame = {
    require(rounds <= 15, "rounds must be in [1, 15] — one extra probe round runs")
    // the R peel rounds are IDENTICAL to kcorePeel's — under a contentKey
    // they ride the same spill entry, so the certificate costs one probe
    // round plus the diff, never a recompute of the loop
    val e = peeledEdges(edges, srcCol, dstCol, k, rounds, contentKey)
    val eNext = peelRound(e, k)
    val sR = coreDegrees(e).filter(col("degree") >= k).withColumn("in_r", lit(1))
    val sR1 = coreDegrees(eNext).filter(col("degree") >= k).withColumn("in_r1", lit(1))
    sR.join(sR1, Seq("node", "degree"), "full_outer")
      .agg(
        lit(rounds).as("rounds"),
        count(col("in_r")).as("n_round_r"),
        count(col("in_r1")).as("n_round_r1"),
        count(when(col("in_r").isNull || col("in_r1").isNull, 1)).as("n_diff"))
      .withColumn("at_fixpoint", col("n_diff") === 0)
  }

  /** Fixed-iteration weighted PageRank, ALL-INTEGER so any engine
    * reproduces it bit-for-bit (the float formulation drifts with
    * partition merge order): ranks live scaled by `scale`, the damping
    * split is percent arithmetic, and every division is exact integer
    * `div` —
    *
    *   r₀(v)   = scale div N
    *   rᵢ₊₁(v) = (damp · Σ_{(u,v,w)∈E} ((rᵢ(u) · w) div outw(u))
    *              + (100 − damp) · (scale div N)) div 100
    *
    * Dangling mass (nodes with no out-edges) leaks rather than
    * redistributing — deterministic either way; leaking keeps each
    * iteration one join+agg with no extra global sum, and relative
    * ranking (the thing PageRank is used for) is unaffected at these
    * damping levels. Overflow bound: rᵢ ≤ scale, so rᵢ·w stays in Long
    * for per-edge weights up to ~9·10⁶ at the default scale.
    *
    * Scale shape: per iteration, one shuffle joins ranks to edges on the
    * source key (out-weights ride the same key, so the planner reuses
    * the clustering) and one partial-aggregated sum clusters by
    * destination. `iters` is fixed and small (PageRank converges
    * geometrically; 3–5 rounds rank-order stabilizes), so the plan is a
    * bounded unrolled pipeline — `localCheckpoint` severs lineage every
    * 4th round (the connected-components discipline, paced so short
    * loops don't pay eager materialization they don't need).
    *
    * @return (node, rank) — rank in scaled units, Σ rank ≤ scale
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      iters: Int,
      scale: Long = 1000000000000L,
      damp: Int = 85,
      contentKey: Option[String] = None
  ): DataFrame = {
    require(iters >= 1 && iters <= 16, "iters must be in [1, 16] — fixed unrolled rounds")
    require(damp >= 0 && damp <= 100, "damp is a percentage")
    // The edge frame is re-embedded by EVERY reference below (nodes reads
    // it twice, outw once, each iteration's join once) and the references
    // multiply through the unrolled recurrence — with a window-derived
    // edge input the r21 plan audit counted 28 copies of the upstream
    // scan+window subtree (94 Exchanges) for 3 iterations. A caller-
    // asserted contentKey lands the prepared edges in the plan-keyed
    // parquet memo once (the triangleStats/lpa round-sharing discipline),
    // so every reference is a columnar leaf and the unrolled plan stays
    // iteration-sized. Rows are identical either way — the memo is a
    // materialization point, not a semantic change.
    val prepared = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).cast("long").as("w"))
    val e = graft.Memo.frame("pr_edges", contentKey.map(_ + "|edges"), edges.sparkSession)(prepared)
    // nodes and out-weights are likewise referenced once per unrolled
    // iteration; both are vertex-grain (model-shaped next to the edge
    // frame), so the same memo turns their per-iteration aggregate
    // subtrees into leaf reads (94 → 24 Exchanges at 3 iterations, the
    // remainder being the rank recurrence's own join/agg rounds)
    val nodes0 = e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()
    val nodes = graft.Memo.frame("pr_nodes", contentKey.map(_ + "|nodes"), edges.sparkSession)(nodes0)
    // |V| is the one driver scalar (model size, not data): the teleport
    // term needs it as a literal inside integer division
    val n = nodes.count()
    require(n > 0, "graph has no nodes")
    val base = scale / n
    val outw0 = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val outw = graft.Memo.frame("pr_outw", contentKey.map(_ + "|outw"), edges.sparkSession)(outw0)
    var ranks = nodes.withColumn("rank", lit(base))
    for (i <- 1 to iters) {
      val in = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outw, Seq("src"))
        .select(col("dst").as("node"), expr("(rank * w) div outw").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("in_sum"))
      ranks = nodes
        .join(in, Seq("node"), "left")
        .select(
          col("node"),
          expr(s"($damp * coalesce(in_sum, 0L) + ${100 - damp} * ${base}L) div 100").as("rank"))
      // sever lineage every few rounds: eager materialization per round
      // costs more than the short plans it saves (measured 2.6s → the
      // join work alone at 3 iters); depth only threatens long loops
      if (i % 4 == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks
  }
}
