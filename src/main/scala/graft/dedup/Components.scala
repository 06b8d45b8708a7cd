package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected-component labelling over a near-duplicate pair list, and the
  * keep-one-per-component dedup policy built on it (the standard corpus
  * policy: a chain A~B~C with A≁C is still ONE component, so greedy
  * pair-based dropping — MinHash.dedup — can keep two of its docs).
  *
  * Algorithm: alternating large-star / small-star contraction (the
  * standard MapReduce connected-components recipe). Each round rewires
  * every edge toward the minimum id seen in its neighbourhood:
  *
  *   - large-star: for each node u, connect every STRICTLY LARGER
  *     neighbour v to m = min(neighbours(u) ∪ u);
  *   - small-star: for each node u (edges oriented large→small), connect
  *     u and all its smaller neighbours to their minimum m.
  *
  * Both phases are one groupBy-min plus one join on (long, long) edges —
  * no driver-side graph, no vertex set collected. The alternation halves
  * tree heights geometrically, so convergence takes O(log n) rounds
  * REGARDLESS of component diameter — a 1000-node boilerplate chain (the
  * adversarial shape real crawl corpora produce) converges in ~2·log₂(n)
  * rounds where plain min-label propagation needs 1000. Lineage is
  * truncated per round with checkpoints (iterative plans otherwise grow
  * exponentially and re-execute prior rounds).
  */
object Components {

  /** One large-star phase over canonically-oriented edges (src > dst):
    * every strictly-larger neighbour of u is rewired to
    * m = min(u ∪ neighbours(u)). Output stays oriented src > dst (the
    * emitted pair is (v, m) with v > u ≥ m) and self-loop-free. NOT
    * deduped: the duplicate edges a contraction produces are absorbed by
    * the consuming small-star's groupBy-min and swept by its final
    * distinct — a distinct here would add a full extra shuffle per round
    * for no semantic gain. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
    sym.join(mins, sym("src") === mins("u"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** One small-star phase over oriented edges (src > dst): u and all its
    * smaller neighbours are rewired to m = min(smaller neighbours).
    * Output stays oriented and self-loop-free. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("src").agg(min("dst").as("m"))
    val nbr = e.join(mins, "src")
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    nbr.union(mins.select(col("src"), col("m").as("dst"))).distinct()
  }

  /** Convergence certificate: the contraction's fixed points are exactly
    * the per-component STARS (every non-root node carries one edge to the
    * component minimum), and star-shape is testable with ONE small
    * aggregate over the already-materialized edges — no src repeats, and
    * no node plays both roles. Testing this after each round replaces the
    * former full confirmation round (a second contraction whose checksum
    * had to match) with a job over the contracted — hence shrunken —
    * edge set: on the shallow graphs real near-dup data produces, that
    * halves the loop's cost. */
  private def isStar(e: DataFrame): Boolean = {
    val roles = e.select(col("src").as("n"), lit(1L).as("s"), lit(0L).as("d"))
      .union(e.select(col("dst").as("n"), lit(0L).as("s"), lit(1L).as("d")))
      .groupBy("n").agg(sum("s").as("ns"), max("d").as("nd"))
    roles.filter(col("ns") > 1 || (col("ns") > 0 && col("nd") > 0)).isEmpty
  }

  /** As [[componentLabels]], but also returns the number of contraction
    * rounds taken — exposed so specs can pin the O(log n) bound. */
  private[graft] def componentLabelsWithRounds(
      pairs: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    // Materialize the pair list ONCE before deriving anything: `pairs` is
    // typically the tail of an expensive pipeline (a MinHash band join),
    // and building nodes and edges straight from it would re-execute that
    // pipeline once per union branch per job — 4 executions where one
    // suffices. Everything below scans the checkpointed copy, and p0's
    // checkpoint is deliberately kept alive for the whole function (the
    // returned labels frame reads `nodes` from it lazily) — the same
    // leaked-until-caller-done contract the final edge checkpoint has.
    val p0 = graft.Cached.truncate(pairs.select(col("id_a"), col("id_b")))
    // Every id appearing in any pair (self-pairs count as singletons).
    // Lazy on purpose: scanned exactly once, inside the final label join —
    // a standalone materialize would be a whole extra job for one scan.
    val nodes = p0.select(col("id_a").as("id"))
      .union(p0.select(col("id_b").as("id"))).distinct()
    // Canonical large→small orientation; self-loops dropped up front. NOT
    // deduped and NOT separately materialized: orientation is a narrow map
    // over the checkpointed p0, and round 1's small-star distinct performs
    // the dedup at the same shuffle scale an up-front distinct would —
    // paying that shuffle twice (plus a materialize) bought nothing.
    var edges = p0
      .select(greatest(col("id_a"), col("id_b")).as("src"),
              least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))

    // Always contract at least once: the raw edge list may carry duplicate
    // pairs, which the star certificate cannot distinguish from genuine
    // repeated-src violations — after one round the set is deduped and
    // isStar is exact. An already-star input just pays one cheap round.
    //
    // Per-round job budget: on the localCheckpoint path the checkpoint is
    // LAZY, so the star-certificate aggregate is the round's ONLY job —
    // it materializes the cached round output as a side effect (lineage
    // is truncated by the LogicalRDD wrapper either way). The reliable
    // checkpoint stays eager ([[graft.Cached.truncate]]); cluster rounds
    // are shuffle-bound, not job-count-bound.
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = graft.Cached.truncate(smallStar(largeStar(edges)), eager = false)
      converged = isStar(next)
      // Round 1's input is a lazy view over p0 (whose checkpoint must
      // outlive this function) — only round outputs are dropped here,
      // files and blocks alike, once the next round is materialized.
      if (iter > 0) graft.Cached.drop(edges)
      edges = next
      iter += 1
    }
    // Silent partial labels would let duplicates survive the
    // keep-one-per-component policy — refuse instead.
    if (!converged) throw new IllegalStateException(
      s"componentLabels did not converge in $maxIter contraction rounds — " +
        "star contraction needs ~2·log2(n) rounds, so this pair graph is " +
        "astronomically large or maxIter was lowered; raise maxIter")
    // At the fixed point the edge set is a star per component: every
    // non-root node carries exactly one edge to the component minimum.
    val lab = edges.groupBy("src").agg(min("dst").as("_gf_component"))
      .select(col("src").as("_gf_lid"), col("_gf_component"))
    val labels = nodes.join(lab, nodes("id") === col("_gf_lid"), "left")
      .select(nodes("id"),
        coalesce(col("_gf_component"), nodes("id")).as("component"))
    (labels, iter)
  }

  /** Component label per node id appearing in `pairs` (id_a, id_b):
    * (id, component) where component = min node id reachable through the
    * pair graph. Nodes not present in any pair are not returned (their
    * component is trivially themselves). */
  def componentLabels(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    componentLabelsWithRounds(pairs, maxIter)._1

  /** Keep exactly one document (the min-id representative) per connected
    * component of the near-dup pair graph; docs in no pair are kept. */
  def dedupByComponent(df: DataFrame, idCol: String,
                       pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val losers = componentLabels(pairs, maxIter)
      .filter(col("component") =!= col("id"))
      .select(col("id").as("_gf_loser"))
    df.join(losers, df(idCol) === col("_gf_loser"), "left_anti")
  }

  /** Keep the BEST document per connected component — argmax of
    * `scoreCol` with min-id tie-break — instead of [[dedupByComponent]]'s
    * positional min-id pick: real curation keeps the highest-quality copy
    * of a near-dup cluster, not whichever crawled first. Docs in no pair
    * are kept unconditionally.
    *
    * Scale shape: the winner per component is ONE keyed aggregate
    * (`min_by` on the (−score, id) total order — map-side combined, so a
    * boilerplate mega-component contributes partial argmaxes, never a
    * window's single-reducer pile-up), and only (id, component, score)
    * triples ever move — the documents' text rides the final anti-join
    * untouched. */
  def dedupByComponentBest(df: DataFrame, idCol: String, scoreCol: String,
                           pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val labeled = componentLabels(pairs, maxIter)
      .join(df.select(col(idCol).as("_gf_sid"),
          col(scoreCol).cast("double").as("_gf_score")),
        col("id") === col("_gf_sid"), "left")
      // A pair id absent from df (or a null score) must not win by
      // becoming an unordered null — rank it strictly below every real
      // score so some present doc represents the component.
      .select(col("id"), col("component"),
        coalesce(col("_gf_score"), lit(Double.NegativeInfinity)).as("_gf_score"))
    val winners = labeled
      .groupBy(col("component"))
      .agg(min_by(col("id"),
        struct((-col("_gf_score")).as("neg"), col("id"))).as("_gf_winner"))
    val losers = labeled
      .join(winners, Seq("component"))
      .filter(col("id") =!= col("_gf_winner"))
      .select(col("id").as("_gf_loser"))
    df.join(losers, df(idCol) === col("_gf_loser"), "left_anti")
  }
}
