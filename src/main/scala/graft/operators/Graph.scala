package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph primitives over edge DataFrames. Companion to the iterative
  * tier (x111 connected components, x140 PageRank): x163's triangle
  * SQL references its edge CTE three times, and Spark inlines CTEs, so
  * the contract form rebuilds the frequent-pair edge list three times.
  * This operator materializes the edges ONCE and reuses them across
  * the two joins — the x136/x140/x149/x161 policy (declarative SQL for
  * the oracle, persist-once Scala for the executable scale path).
  *
  * Triangle enumeration itself is the standard oriented-edge join:
  * edges kept as p1 < p2, so each triangle (a,b,c) with a<b<c is
  * produced exactly once (no 6-way symmetric duplicates to dedup — the
  * fan-out reduction that makes this viable on power-law graphs).
  */
object Graph {

  /** Frequent-co-occurrence edges from an incidence table: pairs of
    * `itemCol` values sharing a `basketCol` value in at least
    * `minSupport` baskets, oriented item1 < item2. Skew note: pair
    * count is O(baskets · maxBasketSize²); cap basket size upstream
    * for corpora with unbounded baskets (x119's cap pattern).
    */
  def coOccurrenceEdges(df: DataFrame, basketCol: String, itemCol: String,
                        minSupport: Long = 2L): DataFrame = {
    val li = df.select(col(basketCol).as("bk"), col(itemCol).as("it")).distinct()
    li.as("a").join(li.as("b"),
        col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
      .groupBy(col("a.it").as("p1"), col("b.it").as("p2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** All triangles (a,b,c), a<b<c, in an oriented edge set (columns
    * p1 < p2). The edge build above it is the expensive part, so it is
    * persisted and reused across both joins — one shuffle to build,
    * two broadcast-or-shuffle joins to close the wedges.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select("p1", "p2").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      e.count() // materialize once, before the three-way reuse
      val t = e.as("e1")
        .join(e.as("e2"), col("e1.p2") === col("e2.p1"))
        .join(e.as("e3"),
          col("e3.p1") === col("e1.p1") && col("e3.p2") === col("e2.p2"))
        .select(col("e1.p1").as("a"), col("e1.p2").as("b"), col("e2.p2").as("c"))
        .orderBy("a", "b", "c")
      // Force the plan to resolve against the persisted relation now;
      // the caller gets rows computed off the cached edges.
      t.localCheckpoint(eager = true)
    } finally e.unpersist()
  }

  /** HITS hubs/authorities (Kleinberg 1999) over a weighted directed
    * edge list — the iterative-materialized twin of x326's unrolled-CTE
    * SQL (the x136/x140 policy, applied to mutual reinforcement):
    * auth(j) = Σ_{i→j} hub(i)·w, hub(i) = Σ_{i→j} auth(j)·w, each half-
    * step max-normalized back to `scale` units. Spark inlines CTEs, so
    * the declared SQL re-executes the edge CTE — a 4-table fact join in
    * x326 — once per CTE reference (up to 6× for 2 iterations); this
    * operator aggregates the edges ONCE (persist) and each half-step is
    * one join edges⋈scores (shuffle on the probe endpoint) + one
    * groupBy + one broadcast join against the 1-row max — O(|E|)
    * shuffled longs per half-step, the fact join computed exactly once.
    *
    * Arithmetic contract (shared with the x326 SQL so the same DuckDB
    * oracle checks both): scores in BIGINT `scale`-units (micro by
    * convention); raw score v = Σ (score·w) over in-(auth) / out-(hub)
    * edges, 0 for isolated nodes; normalized score = (v·scale) div
    * max(v). Integer sums and integer division are execution-order
    * independent, so iterative-materialized == declarative-unrolled
    * bit-for-bit. Overflow (ADVICE r10 #4): v·scale must stay < 2⁶³.
    * Guarding v AFTER the Σ(score·w) aggregation is blind past 2⁶³ —
    * with ansi=off the sum itself wraps modulo 2⁶⁴ first, and the
    * wrapped value can land back UNDER the bound and pass (true
    * v ≈ 1.8·10¹⁹ wraps to ≈ 4.5·10¹¹), silently corrupting scores
    * while DuckDB raises — the exact engine divergence the guard
    * exists to prevent. So the guard runs at ENTRY on quantities no
    * BIGINT arithmetic has touched: per-node Σw in each direction,
    * summed as DOUBLE (non-negative double sums cannot wrap, and are
    * exact below 2⁵³ — six orders of magnitude above the bound), with
    * max(Σw) ≤ 2⁶³/scale² and min(w) ≥ 0 asserted on the 1-row frame.
    * Every score is ≤ scale by construction (initial h = scale;
    * normalized s = v·scale div max(v) ≤ scale), so per node
    * v = Σ score·w ≤ scale·Σw ≤ 2⁶³/scale: no term, partial sum, or
    * normalizer product can reach 2⁶³ in ANY later step — wrap-free by
    * induction, not spot-checked after the fact. A corpus outside the
    * bound fails at entry with the bound and the remedy NAMED, the
    * same way in ANSI-on (where the wrap would raise, but generically)
    * and ansi=off (where nothing else would catch it) sessions.
    * At 100 TB, pre-shrink the
    * weights with `perMilleWeights(edges)` below (one extra pass, same
    * plan shape): w ← max(1, (w·1000) div Σw) caps Σ_in w' near
    * 1000 + indeg, pushing the overflow horizon to indeg ≈ 9·10¹² —
    * beyond any physical graph. Rank ORDER is preserved for weight
    * profiles where shares dominate the ±1 rounding (GraphSpec pins the
    * fixture's ordering equal across exact and per-mille modes); exact
    * micro-scores differ, so the contract entry (x327) runs unshrunk.
    *
    * Lineage: unlike [[PageRank]] (whose rounds reference the previous
    * frame ONCE — a linear chain that can safely nest un-materialized
    * between sparse checkpoints), each HITS half-step references its
    * frame TWICE (the max agg and the normalizing join), so every
    * un-truncated half-step DOUBLES the recompute. Exchange reuse
    * cannot dedup it: the score frame's plan tops out in a join +
    * projection, not a shuffle boundary, and ReuseExchange only dedups
    * identical EXCHANGE subtrees (contrast [[ConnectedComponents]],
    * whose twice-referenced `prop` ends in a shuffle agg — its
    * exchange IS reused, one extra final-agg pass instead of a
    * rebuild; both behaviors were measured). Measured at
    * sf0.1/iters=2: per-half-step truncation ~2.4 s, one nested round
    * ~4.7 s, fully nested 7–15 s, and iters=6 nested (2¹² copies)
    * fails outright. Scores are therefore localCheckpoint'ed after
    * EVERY half-step, no knob (use reliable checkpoint() on a real
    * cluster): a handful of O(|V|) materializations beats exponential
    * recompute at every scale that matters.
    *
    * @param edges (src, dst, w: long) weighted directed edges; an
    *              HITS is undefined on a graph whose max raw score is
    *              0 (no edges, or every weight 0) — the normalizer
    *              guard fails LOUDLY with the reason named, the same
    *              way in ANSI and ansi=off sessions (unguarded, the
    *              div-0 would raise generically under ANSI but return
    *              silent all-null scores with ansi=off)
    * @param nodes (node) the full vertex set, including isolated nodes
    * @param iters full auth-then-hub rounds (≥ 1)
    * @param scale score units (default micro, 10⁶ = initial hub score)
    * @return (node, h, a) hub/authority scores in `scale` units */
  def hits(edges: DataFrame, nodes: DataFrame, iters: Int,
           scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val ew = edges.select(col("src"), col("dst"), col("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nds = nodes.select(col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ENTRY overflow guard (see the arithmetic-contract scaladoc):
      // per-node Σw per direction in DOUBLE — untouched by any BIGINT
      // op that could wrap first — bounded by 2⁶³/scale², which by the
      // score ≤ scale induction keeps every later product, partial
      // sum, and normalizer under 2⁶³ in BOTH ANSI modes. One 1-row
      // aggregate over the just-persisted edges (so this also warms
      // the cache the half-steps reuse); negative weights rejected in
      // the same pass (they would break the v ≥ 0 zero-guard logic
      // and sign the scores silently with ansi=off).
      // Per-DIRECTION Σw, not in+out combined (ADVICE r11 #2): each
      // half-step sums score·w over one direction only, so the bound
      // the induction needs is max(Σw by src) and max(Σw by dst)
      // separately — an untagged union would sum both directions per
      // node and spuriously reject a graph within the bound on each.
      val swBound = (Long.MaxValue / scale / scale).toDouble
      ew.select(col("src").as("node"), lit(0).as("dir"), col("w"))
        .union(ew.select(col("dst").as("node"), lit(1).as("dir"), col("w")))
        .groupBy("node", "dir").agg(sum(col("w").cast("double")).as("sw"))
        .agg(max(col("sw")).as("mxsw"))
        .crossJoin(ew.agg(min(col("w")).as("mnw")))
        // NULL aggregates = empty edge set: pass here so the half-step
        // zero-normalizer guard names the real cause ("HITS is
        // undefined"), not a phantom weight violation
        .where(coalesce(assert_true(coalesce(col("mnw") >= 0L, lit(true)),
          lit("Graph.hits: negative edge weight — HITS scores are " +
            "defined over non-negative weights; filter or abs() the " +
            "edge set first")), lit(true)))
        .where(coalesce(assert_true(coalesce(col("mxsw") <= swBound, lit(true)),
          lit(s"Graph.hits: a node's total edge weight exceeds " +
            s"2^63/$scale^2 — the score·weight sum could wrap BIGINT " +
            "before any in-plan check runs; pre-shrink weights with " +
            "Graph.perMilleWeights")), lit(true)))
        .collect()
      // one half-step: raw = Σ score(other end)·w grouped by `probe`,
      // isolated nodes coalesced to 0, then max-normalize to `scale`
      def halfStep(scores: DataFrame, scoreCol: String,
                   probe: String, other: String): DataFrame = {
        val raw = ew.join(scores, ew(other) === scores("node"))
          .groupBy(ew(probe).as("node"))
          .agg(sum(col(scoreCol) * col("w")).as("v"))
        val all = nds.join(raw, Seq("node"), "left")
          .select(col("node"), coalesce(col("v"), lit(0L)).as("v"))
        // zero-normalizer guard on the 1-ROW max (overflow is already
        // excluded at entry; this one is data-shape-dependent — a
        // subgraph can go all-zero only when the whole graph has no
        // positive weight, but the guard is O(1) so it stays)
        val mx = all.agg(max(col("v")).as("mxv"))
          .where(coalesce(assert_true(col("mxv") >= 1L,
            lit("Graph.hits: max raw score is 0 (no edges, or all " +
              "weights 0) — HITS is undefined; filter to a non-empty " +
              "positively-weighted edge set first")), lit(true)))
        all.crossJoin(broadcast(mx))
          .select(col("node"),
            expr(s"(v * $scale) div mxv").cast("long").as("s"))
      }
      var h = nds.select(col("node"), lit(scale).as("s"))
      var a: DataFrame = null
      for (_ <- 1 to iters) {
        a = halfStep(h, "s", "dst", "src").localCheckpoint(true)
        h = halfStep(a, "s", "src", "dst").localCheckpoint(true)
      }
      h.withColumnRenamed("s", "h")
        .join(a.withColumnRenamed("s", "a"), "node")
        .localCheckpoint(true)
    } finally { ew.unpersist(); nds.unpersist() }
  }

  /** Per-mille weight shrink for [[hits]] at extreme scale: each weight
    * becomes its per-mille share of the TOTAL edge weight, floored, but
    * never below 1 (an edge must not vanish). Symmetric — the same w'
    * serves both the auth (in-edge) and hub (out-edge) directions — and
    * order-preserving on weights. One aggregation + one broadcast join;
    * the [[hits]] overflow horizon moves from Σ_in w ≤ 2⁶³/scale² to
    * indeg ≈ 9·10¹². */
  def perMilleWeights(edges: DataFrame): DataFrame = {
    val tot = edges.agg(sum(col("w")).as("tw"))
    edges.crossJoin(broadcast(tot))
      .select(col("src"), col("dst"),
        greatest(expr("(w * 1000) div tw"), lit(1L)).cast("long").as("w"))
  }

  /** Fixed-round k-core peeling over an oriented edge set (p1 < p2):
    * each round drops every vertex whose CURRENT degree is below `k`
    * (and its incident edges), which can push surviving neighbors
    * below k — the feedback that distinguishes peeling from a one-shot
    * degree filter. Returns the surviving vertices with their degree
    * after `rounds` rounds.
    *
    * Iterative-materialized (the x140/x149 policy): each round is one
    * degree aggregation + two semi-join-shaped edge filters, with the
    * round's edge set localCheckpoint'ed so round r+1 never re-executes
    * rounds 1..r — unrolling this same recurrence in Spark SQL would
    * re-evaluate the base edge build ~3^rounds times (CTE inlining, the
    * x136 measurement). The DuckDB oracle (Extensions "x179") unrolls
    * the identical recurrence declaratively, where CTEs materialize.
    * At 100 TB: per round two shuffles of (int, int) edges hashed by
    * endpoint; round count is the fixed peel depth, not data-driven. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var und = edges
      .select(col("p1").as("a"), col("p2").as("b"))
      .union(edges.select(col("p2").as("a"), col("p1").as("b")))
      .localCheckpoint(true)
    var r = 0
    while (r < rounds) {
      val keep = und.groupBy("a").agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select("a")
      und = und.join(keep, Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      r += 1
    }
    und.groupBy("a").agg(count(lit(1)).as("deg"))
      .select(col("a").as("part"), col("deg"))
      .orderBy("part")
  }
}
