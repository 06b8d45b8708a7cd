package graft.queries

import graft.Tables
import graft.dedup.{Components, LlmDedup, MinHash}
import graft.ops.Sampling
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** Deterministic sampling + the end-to-end corpus-curation chain —
  * training-data pipeline operators over the benchmark tables. */
object SamplingQueries {

  val all: Seq[Q] = Seq(
    // keep ~10% of orders, reproducibly, as a pure scan predicate.
    Q("sample_hash",
      (s, dir) => Sampling.hashSample(Tables.orders(s, dir), "o_orderkey", 0.10)
        .select("o_orderkey").orderBy("o_orderkey"),
      Some(s"""
        SELECT o_orderkey FROM orders
        WHERE ${Sampling.sqlHashKeep("o_orderkey", 0.10)}
        ORDER BY o_orderkey""")),

    // class rebalance: keep all of 'R', 30% of 'A', drop 'N'.
    Q("sample_stratified",
      (s, dir) => Sampling.stratifiedSample(Tables.lineitem(s, dir),
          "l_orderkey", "l_returnflag", Map("R" -> 1.0, "A" -> 0.30))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some(s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        WHERE (l_returnflag = 'R' AND ${Sampling.sqlStratifiedBucket("l_orderkey")} < ${Sampling.Buckets})
           OR (l_returnflag = 'A' AND ${Sampling.sqlStratifiedBucket("l_orderkey")} < ${(0.30 * Sampling.Buckets).toLong})
        GROUP BY 1 ORDER BY 1""")),

    // Fixed-BUDGET per-stratum sample: exactly 7 docs per language,
    // deterministically hash-uniform (bottom-k of the portable Knuth
    // bucket) — eval sets / review batches, where fraction samplers
    // can't promise a size. The engine side is TopK's k-bounded typed
    // Aggregator (no sort anywhere, <= k candidates per partition
    // through the exchange); the oracle is the two-sort window form —
    // hash equality proves the sort-free plan keeps the SAME rows.
    Q("sample_bottomk",
      (s, dir) => Sampling.bottomKSample(Tables.documents(s, dir),
          "doc_id", "lang", k = 7)
        .select(col("lang"), col("sample_rank").cast("int").as("sample_rank"),
          col("doc_id"))
        .orderBy("lang", "sample_rank"),
      Some(s"""
        SELECT lang, CAST(sample_rank AS INT) AS sample_rank, doc_id FROM (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY ${Sampling.sqlBottomKBucket("doc_id")}, doc_id)
                   AS sample_rank
          FROM documents) t
        WHERE sample_rank <= 7
        ORDER BY lang, sample_rank""")),

    // Neyman-allocation plan (r13 — Neyman 1934): a fixed 100-review
    // budget split across event types PROPORTIONAL TO N_h·S_h — the
    // variance-minimizing allocation at a fixed budget, the audit-set
    // sizing move. Moments ride the Trend.ols decSum rule (exact
    // decimals, 2dp round before the double conversion); share/alloc a
    // fixed IEEE chain the oracle replays.
    Q("sample_neyman_plan",
      (s, dir) => Sampling.neymanPlan(Tables.events(s, dir),
          "event_type", "value", totalN = 100)
        .orderBy("event_type"),
      Some(s"""
        WITH nagg AS (
          SELECT event_type, count(*) AS n_rows,
                 CAST(round(sum(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS sv,
                 CAST(round(sum(CAST(value AS DECIMAL(14,4))
                   * CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS svv
          FROM events WHERE value IS NOT NULL GROUP BY 1),
        nst AS (SELECT *, CASE WHEN n_rows >= 2 THEN
                  sqrt(greatest((svv - sv * sv / CAST(n_rows AS DOUBLE))
                    / (CAST(n_rows AS DOUBLE) - 1), 0.0))
                ELSE 0.0 END AS sd FROM nagg),
        nwt AS (SELECT *, floor(CAST(n_rows AS DOUBLE) * sd * 1e6 + 0.5) / 1e6 AS w,
                  CAST(sum(CAST(floor(CAST(n_rows AS DOUBLE) * sd * 1e6 + 0.5) / 1e6
                    AS DECIMAL(38,6))) OVER () AS DOUBLE) AS wtot
                FROM nst)
        SELECT event_type, n_rows,
               ${Q.sqlDround("sd", 6)} AS stddev,
               ${Q.sqlDround("w / wtot", 6)} AS share,
               least(n_rows, CAST(floor(CAST(100 AS DOUBLE) * (w / wtot) + 0.5)
                 AS BIGINT)) AS alloc
        FROM nwt ORDER BY event_type""")),

    // The Neyman-selected rows themselves: the bottom-k hash order cut
    // at each stratum's OWN allocation — nested-prefix property intact,
    // the window form remains the oracle formulation.
    Q("sample_neyman",
      (s, dir) => Sampling.neymanSample(Tables.events(s, dir),
          "event_id", "event_type", "value", totalN = 100)
        .select(col("event_type"),
          col("sample_rank").cast("int").as("sample_rank"), col("event_id"))
        .orderBy("event_type", "sample_rank"),
      Some(s"""
        WITH nagg AS (
          SELECT event_type, count(*) AS n_rows,
                 CAST(round(sum(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS sv,
                 CAST(round(sum(CAST(value AS DECIMAL(14,4))
                   * CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS svv
          FROM events WHERE value IS NOT NULL GROUP BY 1),
        nst AS (SELECT *, CASE WHEN n_rows >= 2 THEN
                  sqrt(greatest((svv - sv * sv / CAST(n_rows AS DOUBLE))
                    / (CAST(n_rows AS DOUBLE) - 1), 0.0))
                ELSE 0.0 END AS sd FROM nagg),
        nwt AS (SELECT *, floor(CAST(n_rows AS DOUBLE) * sd * 1e6 + 0.5) / 1e6 AS w,
                  CAST(sum(CAST(floor(CAST(n_rows AS DOUBLE) * sd * 1e6 + 0.5) / 1e6
                    AS DECIMAL(38,6))) OVER () AS DOUBLE) AS wtot
                FROM nst),
        nplan AS (SELECT event_type,
                    least(n_rows, CAST(floor(CAST(100 AS DOUBLE) * (w / wtot)
                      + 0.5) AS BIGINT)) AS alloc
                  FROM nwt),
        nrk AS (SELECT event_type, event_id,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY ${Sampling.sqlBucketFolded("event_id", 0L,
                      Sampling.NeymanPrime)}, event_id)
                    AS sample_rank
                FROM events)
        SELECT event_type, CAST(sample_rank AS INT) AS sample_rank, event_id
        FROM nrk JOIN nplan USING (event_type)
        WHERE sample_rank <= alloc
        ORDER BY event_type, sample_rank""")),

    // Exact-k WEIGHTED sampling without replacement per language (§2
    // row 162 — Efraimidis & Spirakis): selection pressure ∝ n_chars,
    // exactly 6 docs per lang; the oracle re-ranks on the identical
    // ln(u)/w A-ES score (no pow — its cross-engine rounding is
    // unpinned) with the same tie rule.
    Q("sample_weighted_k",
      (s, dir) => Sampling.weightedKSample(Tables.documents(s, dir),
          "doc_id", "lang", "n_chars", k = 6)
        .select(col("lang"), col("sample_rank").cast("int").as("sample_rank"),
          col("doc_id"), col("n_chars"))
        .orderBy("lang", "sample_rank"),
      Some(s"""
        SELECT lang, CAST(sample_rank AS INT) AS sample_rank, doc_id, n_chars
        FROM (
          SELECT lang, doc_id, n_chars,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY ${Sampling.sqlWeightedKScore("doc_id", "n_chars")}
                     DESC, doc_id) AS sample_rank
          FROM documents WHERE n_chars IS NOT NULL) t
        WHERE sample_rank <= 6
        ORDER BY lang, sample_rank""")),

    // Entity-keyed train/val/test split: deterministic, leakage-safe (same
    // key -> same split across reruns and derived tables).
    Q("sample_split",
      (s, dir) => Sampling.split(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split"),
      Some(s"""
        SELECT ${Sampling.sqlSplit("doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))} AS split,
               CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1 ORDER BY 1""")),

    // Cluster-balanced diversity sampling: IVF cells give the semantic
    // clustering, Quota's auto-skew cap keeps at most n per cell — the
    // embedding-space twin of the per-source quota. Rows-only (k-means
    // cells are engine-specific); ClusterBalanceSpec pins exact
    // min(n, cluster-size) semantics and determinism.
    Q("sample_cluster_balanced",
      (s, dir) => graft.sim.ClusterBalance.sample(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          clusters = 8, perCluster = 50, iters = 2)
        .orderBy("cluster_id", "vec_id"),
      None),

    // MMR diversity selection around a topic vector (vec 0): greedy
    // λ·relevance − (1−λ)·redundancy, k=8 at λ=0.7. HASH-GREEN against a
    // recursive-CTE oracle replaying the greedy trajectory — integers
    // only, (1−λ) computed as 1−0.7 on BOTH engines (never the double
    // literal 0.3), min-id ties.
    Q("sample_mmr",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        graft.sim.Mmr.select(e, "vec_id", "embedding", q, k = 8, lambda = 0.7)
          .orderBy("round")
      },
      Some("""
        WITH RECURSIVE e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0),
        qv AS (SELECT v FROM e WHERE vec_id = 0),
        rel AS (
          SELECT e.vec_id, list_dot_product(e.v, qv.v) /
            (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv.v, qv.v))) AS r
          FROM e, qv),
        seed AS (SELECT vec_id FROM rel ORDER BY r DESC, vec_id LIMIT 1),
        sel(step, ids) AS (
          SELECT 1, [vec_id] FROM seed
          UNION ALL
          SELECT step + 1, list_append(ids, (
            SELECT c.vec_id
            FROM e c JOIN rel ON rel.vec_id = c.vec_id
            WHERE NOT list_contains(ids, c.vec_id)
            ORDER BY 0.7 * rel.r - (1 - 0.7) * (
              SELECT max(list_dot_product(c.v, s.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s.v, s.v))))
              FROM e s WHERE list_contains(ids, s.vec_id)) DESC, c.vec_id
            LIMIT 1))
          FROM sel WHERE step < 8),
        final AS (SELECT ids FROM sel ORDER BY step DESC LIMIT 1)
        SELECT CAST(generate_subscripts(ids, 1) AS INT) AS round,
               unnest(ids) AS vec_id
        FROM final ORDER BY round""")),

    // Greedy k-center (MaxMin) diversity sampling — HASH-GREEN against a
    // recursive-CTE oracle that replays the greedy loop in pure SQL: the
    // emitted frame is integers only (round, id), distances on both
    // sides are the same index-order double folds, and ties break on min
    // id, so the full 8-step selection trajectory must match exactly.
    Q("sample_kcenter",
      (s, dir) => graft.sim.KCenter.select(
          Tables.embeddings(s, dir), "vec_id", "embedding", k = 8)
        .orderBy("round"),
      Some("""
        WITH RECURSIVE e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        seed AS (
          SELECT vec_id FROM e
          ORDER BY list_dot_product(v, v) DESC, vec_id LIMIT 1),
        sel(step, ids) AS (
          SELECT 1, [vec_id] FROM seed
          UNION ALL
          SELECT step + 1, list_append(ids, (
            SELECT c.vec_id FROM e c
            WHERE NOT list_contains(ids, c.vec_id)
            ORDER BY (
              SELECT min(list_sum(list_transform(generate_series(1, len(c.v)),
                i -> (c.v[i] - s.v[i]) * (c.v[i] - s.v[i]))))
              FROM e s WHERE list_contains(ids, s.vec_id)) DESC, c.vec_id
            LIMIT 1))
          FROM sel WHERE step < 8),
        final AS (SELECT ids FROM sel ORDER BY step DESC LIMIT 1)
        SELECT CAST(generate_subscripts(ids, 1) AS INT) AS round,
               unnest(ids) AS vec_id
        FROM final ORDER BY round""")),

    // The whole curation story in one lazy plan: quality gate -> language
    // gate -> exact dedup -> near-dup connected-component dedup ->
    // deterministic subsample. Each step is an operator gated elsewhere;
    // this query pins their composition (rows-only — LSH inside).
    Q("llm_curation_chain",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val scored = docs
          .withColumn("quality", TextAnalysis.qualityScore(col("text")))
          .withColumn("lang", TextAnalysis.languageId(col("text")))
        val gated = scored
          .filter(col("quality") >= 0.3 && col("lang") === "en")
          .select("doc_id", "text")
        // Consumed twice (pair generation + the anti-join base): at real
        // scale you checkpoint this intermediate to storage; here the
        // in-plan cache is the same move (r14 — safe now that BOTH
        // harnesses clear the cache between queries AND between samples,
        // so nothing leaks into later measurements).
        val exact = graft.Cached.hold(LlmDedup.exact(gated, "text", "doc_id")).df
        val pairs = MinHash.nearDuplicatePairs(exact, "text", "doc_id",
          n = 5, k = 64, bands = 16, threshold = 0.6)
        val deduped = Components.dedupByComponent(exact, "doc_id", pairs)
        Sampling.hashSample(deduped, "doc_id", 0.8)
          .select("doc_id").orderBy("doc_id")
      },
      None)
  )
}
