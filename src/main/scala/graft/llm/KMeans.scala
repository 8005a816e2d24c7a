package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lloyd k-means TRAINING loop over the embedding corpus — the
  * iterative half of the declared x333 single step and the unrolled
  * x340 3-round form, sharing x340's DuckDB oracle (the x136/x140/x148
  * policy: the declarative unrolling exists for the oracle, the
  * iterative operator with materialized per-round state is the shape
  * you run).
  *
  * Arithmetic is IDENTICAL to x333/x340, entirely in quantized
  * integers so every engine agrees bit-for-bit: components quantized
  * to 1e-4 units (round-half-away), distances are exact BIGINT squared
  * L2, the centroid update is an integer mean on +10000-shifted values
  * (non-negative ⇒ floor and truncating division coincide — the
  * cross-engine `div` vs `//` trap; the data premises are asserted by
  * InvariantsSpec). Initial centroids = the k lowest vec_ids.
  *
  * Why this scales to 100 TB where the unrolled form does not:
  *  - The corpus-sized long format (vec_id, dim, val) is repartitioned
  *    by vec_id ONCE and persisted; every round's two consumers — the
  *    distance pass and the centroid update — reuse that partitioning,
  *    so a round moves ZERO corpus bytes through a shuffle: the
  *    centroid side broadcasts (k × dims rows), both per-point
  *    aggregations run partition-local under the vec_id clustering,
  *    and the only exchange is the (cid, dim)-keyed partial-aggregate
  *    merge of the update — k × dims rows per partition, not points.
  *    (PlanAuditSpec pins the broadcast and the zero-exchange shape.)
  *  - Centroids are DRIVER-HELD between rounds (k × dims = 512 values
  *    at the contract shape — the same "index-sized metadata may ride
  *    the driver, corpus data never does" ceiling as the IVF centroids
  *    and the BPE argmax). Collecting them each round truncates the
  *    iteration's lineage for free — no checkpoint, no plan growth —
  *    and re-enters the next round as a broadcast-able local relation.
  *    This is deliberately NOT the x140 persist-per-round discipline:
  *    PageRank's per-round state is vertex-sized (must stay
  *    distributed), k-means' is centroid-sized (must not).
  *  - Assignments ARE point-sized, so they stay distributed: each
  *    round's assignment is persisted, compared to the previous round
  *    (the `moved` convergence signal — an aggregate read, one row to
  *    the driver), and the previous round's cache is dropped (the
  *    Bpe/ConnectedComponents truncation discipline).
  *
  * Convergence: `stopWhenStable = true` stops after the first round
  * that moves zero points — the classic Lloyd fixpoint (assignment
  * unchanged ⇒ update reproduces the same centroids ⇒ every later
  * round is identical). maxIters bounds the loop either way.
  */
object KMeans {

  /** One training round's convergence trace: points that changed
    * cluster vs the previous assignment, and total inertia (exact
    * BIGINT sum of assigned squared distances). */
  final case class Round(round: Int, moved: Long, inertia: Long)

  /** @param summary     per-round per-cluster census — (rk, cluster_id,
    *                     n, inertia), the x340 oracle's exact shape; one
    *                     block per round actually run
    * @param assignments final (vec_id, cid, dist); recomputes from the
    *                     source lineage when consumed after training
    *                     (internal caches are released before return)
    * @param rounds      the convergence trace
    * @param converged   true iff the last round moved zero points
    * @param centroids   the final centroid table (cid, dim, val) —
    *                     k×dims quantized longs, the train-once artifact
    *                     [[graft.llm.IndexStore.saveCentroids]] persists
    *                     and [[resume]] / the streaming twin reload */
  final case class Train(summary: DataFrame, assignments: DataFrame,
                         rounds: Seq[Round], converged: Boolean,
                         centroids: Seq[(Long, Int, Long)])

  /** THE quantized long-format projection (vec_id, dim, val), 1-based
    * dims, truncated to the first `dims` components — the single source
    * of the x333 quantization every consumer (the training loop, its
    * seeds, and the streaming twin) shares, so the grid cannot drift
    * apart from the oracle copy-by-copy. `dims` is honored by slicing
    * (review r15: it was previously accepted and silently ignored). */
  private[graft] def quantizedLong(emb: DataFrame, dims: Int): DataFrame =
    emb.select(col("vec_id"),
        expr(s"transform(slice(embedding, 1, $dims), x -> cast(round(cast(x AS DOUBLE)*10000) AS BIGINT))").as("qv"))
      .select(col("vec_id"), posexplode(col("qv")).as(Seq("d0", "val")))
      .select(col("vec_id"), (col("d0") + 1).as("dim"), col("val"))

  /** Quantized long-format points (vec_id, dim, val), 1-based dims —
    * the pre-shuffle form both per-round consumers share. Public so the
    * plan-shape spec audits exactly what the loop runs. */
  def quantizedPoints(emb: DataFrame, k: Int, dims: Int): DataFrame =
    quantizedLong(emb, dims).where(col("vec_id") >= k)

  /** Nearest-centroid assignment of `pts` against a driver-held
    * centroid table — one broadcast join, two aggregations that reuse
    * the points' vec_id partitioning (zero corpus shuffle). Ties break
    * to the lowest cid (min over the (dist, cid) struct ≡ the SQL
    * row_number ORDER BY dist, cid). */
  def assignTo(spark: SparkSession, pts: DataFrame,
               cent: Seq[(Long, Int, Long)]): DataFrame = {
    import spark.implicits._
    val centDf = cent.toDF("cid", "dim", "cval")
    pts.join(broadcast(centDf), "dim")
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("val") - col("cval")) * (col("val") - col("cval"))).as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
  }

  /** EMPTY-CLUSTER SEMANTICS (review r15, deliberate): a cluster that
    * captures zero points in some round DROPS OUT of the centroid table
    * for every later round — the update aggregation emits no (cid, dim)
    * rows for it, exactly as the declared x340 SQL's `c_r` CTE does,
    * and the oracle binds this operator to that behavior (its census
    * keeps reporting the cluster with n = 0). The STREAMING twin
    * diverges here by design: its cumulative state retains an empty
    * centroid at its last position (a stream cannot re-derive "the SQL
    * would have dropped it" without corpus history). Neither case
    * occurs on the contract corpus (conservation is spec-asserted). */
  def train(emb: DataFrame, k: Int = 8, dims: Int = 64, maxIters: Int = 3,
            stopWhenStable: Boolean = true): Train = {
    val spark = emb.sparkSession
    import spark.implicits._
    // initial centroids: the k lowest vec_ids, driver-held (k × dims)
    val init: Seq[(Long, Int, Long)] =
      quantizedLong(emb, dims).where(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("dim"), col("val"))
        .as[(Long, Int, Long)].collect().sortBy(c => (c._1, c._2)).toSeq
    run(emb, init, k, dims, maxIters, stopWhenStable)
  }

  /** Resume training from a persisted centroid table (the
    * train-once/serve-many shape, VERDICT r15 #5): rounds continue from
    * `centroids` exactly where a longer [[train]] would have been —
    * train(maxIters = a) → save → load → resume(maxIters = b)
    * reproduces train(maxIters = a + b)'s later rounds bit-for-bit
    * (IndexStoreSpec pins it). Round numbering restarts at 1; the
    * caller owns the global round offset. */
  def resume(emb: DataFrame, centroids: Seq[(Long, Int, Long)],
             k: Int = 8, dims: Int = 64, maxIters: Int = 3,
             stopWhenStable: Boolean = true): Train = {
    require(centroids.nonEmpty, "resume needs a non-empty centroid table")
    run(emb, centroids.sortBy(c => (c._1, c._2)), k, dims, maxIters,
      stopWhenStable)
  }

  private def run(emb: DataFrame, initial: Seq[(Long, Int, Long)], k: Int,
                  dims: Int, maxIters: Int, stopWhenStable: Boolean): Train = {
    val spark = emb.sparkSession
    import spark.implicits._
    val pts = quantizedPoints(emb, k, dims)
      .repartition(col("vec_id")) // the ONE corpus shuffle, amortized over all rounds
      .persist()
    // a failure mid-training must not strand cache entries in the
    // long-lived session (the phantom-regression class Bench
    // documents): every persisted handle is released on EVERY exit path
    var assign: DataFrame = null
    try {
      var cent: Seq[(Long, Int, Long)] = initial
      val clusterIds = cent.map(_._1).distinct.sorted

      assign = assignTo(spark, pts, cent).persist()
      assign.count()
      val trace = Seq.newBuilder[Round]
      // (rk, cluster_id) -> (n, inertia), accumulated driver-side (k rows/round)
      val census = Seq.newBuilder[(Long, Long, Long, Long)]
      var r = 0
      var converged = false
      while (r < maxIters && !converged) {
        r += 1
        // centroid update from the previous assignment: co-partitioned
        // join (both sides clustered by vec_id), then the round's only
        // exchange — the (cid, dim)-keyed merge of partial means
        cent = pts.join(assign.select("vec_id", "cid"), "vec_id")
          .groupBy("cid", "dim")
          .agg(expr("cast(cast(sum(val + 10000) AS BIGINT) div count(*) AS BIGINT) - 10000").as("cval"))
          .as[(Long, Int, Long)].collect().sortBy(c => (c._1, c._2)).toSeq
        val next = assignTo(spark, pts, cent).persist()
        try {
          next.count()
          val moved = next.as("a").join(assign.as("b"), "vec_id")
            .where(col("a.cid") =!= col("b.cid")).count()
          val stats = next.groupBy("cid")
            .agg(count(lit(1)).as("n"), sum("dist").as("inertia"))
            .as[(Long, Long, Long)].collect().map(s => s._1 -> (s._2, s._3)).toMap
          clusterIds.foreach { cid =>
            val (n, in) = stats.getOrElse(cid, (0L, 0L))
            census += ((r.toLong, cid, n, in))
          }
          trace += Round(r, moved, stats.valuesIterator.map(_._2).sum)
          assign.unpersist()
          assign = next
          if (stopWhenStable && moved == 0L) converged = true
        } catch { case e: Throwable => next.unpersist(); throw e }
      }
      val summary = census.result()
        .toDF("rk", "cluster_id", "n", "inertia")
        .orderBy("rk", "cluster_id")
      // the summary is already driver-sized, and the returned
      // assignments recompute through their lineage (local centroid
      // relation over the source scan) if consumed later
      Train(summary, assign, trace.result(), converged, cent)
    } finally {
      if (assign != null) assign.unpersist()
      pts.unpersist()
    }
  }
}
