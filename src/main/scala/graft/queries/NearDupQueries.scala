package graft.queries

import graft.Tables
import graft.dedup.{MinHash, NgramJaccard, SimHash}
import graft.sim.Similarity
import graft.text.Winnow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checked queries for SURVEY §2.3 rows 46-51 (near-dup detection +
  * similarity search). Near-duplicates are planted deterministically:
  * LSH pipelines are not ANSI-SQL-expressible, so most are rows-only —
  * their correctness gates live in NearDupSpec; `ann_cosine_pairs` is the
  * oracle-checked exact-cosine baseline.
  */
object NearDupQueries {

  /** documents ∪ truncated clones (every 10th doc loses its last ~20% of
    * words; clone id = doc_id + 2000000). */
  private[graft] def truncatedCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val toks = split(col("text"), "\\s+")
    val clones = d.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 2000000).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1),
        greatest((size(toks) * 4) / 5, lit(1)))).as("text"))
    d.unionByName(clones)
  }

  /** Per-session scratch dir for a persisted-index query: keyed by the
    * Spark applicationId so two concurrent bench/test runs never share a
    * path (a shared path races one run's writeIndex overwrite against the
    * other's append — flaky failures or duplicate-id refusals). Within a
    * session the path is stable, so bench min-of-3 re-invocations reuse
    * it instead of accumulating corpus-sized copies. Stale siblings from
    * FINISHED sessions are swept once they are over an hour old (never
    * younger — a concurrent live run's dir must not be deleted under
    * it). */
  private[queries] def scratchIndexDir(s: SparkSession, tag: String, dir: String): String = {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"))
    val prefix = s"graft-$tag-${Integer.toHexString(dir.hashCode)}-"
    val name = prefix + s.sparkContext.applicationId
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete(): Unit
    }
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    Option(base.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      if (f.isDirectory && f.getName.startsWith(prefix) &&
          f.getName != name && f.lastModified() < cutoff) rm(f)
    }
    new java.io.File(base, name).getAbsolutePath
  }

  /** 8 handed Walsh sign planes over 64 dims, entries ±0.125 (= ±2⁻³,
    * exactly representable, unit norm): plane p carries the sign pattern
    * (−1)^popcount(i & (p+1)) — 8 distinct orthogonal Walsh functions.
    * Every per-dim product is exact (float × 2⁻³), so the plane dots —
    * and with them the LSH bucket bits — are bit-identical between the
    * zip_with fold and DuckDB's list_dot_product. */
  private[queries] val walshPlanes: Seq[Array[Double]] =
    (1 to 8).map(m => Array.tabulate(64)(i =>
      if (java.lang.Integer.bitCount(i & m) % 2 == 0) 0.125 else -0.125))

  /** Precision/recall grading of detected pair sets against a planted
    * truth set — shared by the rows-only [[dedup_recall]] (engine-specific
    * detectors) and the hash-green `dedup_recall_handed` (deterministic
    * detectors), so the grading arithmetic has ONE owner. Detected pairs
    * dedup first; hits are a broadcast semi-join (truth is planted-clone
    * sized); ratios are exact-integer divisions, 4-dp dround'd. */
  private def gradeDetections(truth: DataFrame,
                              methods: Seq[(String, DataFrame)]): DataFrame = {
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    // truth pairs are unique (one planted clone per original), so a LEFT
    // join against the marked truth counts hits without duplicating rows —
    // n_detected and n_hits come out of ONE aggregation over ONE
    // evaluation of the detector subplan (r15: the former detN/hitN pair
    // re-executed every detector pipeline twice).
    val marked = broadcast(truth.withColumn("_gf_hit", lit(1)))
    methods.map { case (name, pairs) =>
      val det = pairs.select(col("id_a"), col("id_b")).distinct()
      val counts = det.join(marked, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_detected"), count(col("_gf_hit")).as("n_hits"))
      nTrue.crossJoin(counts).select(
        lit(name).as("method"), col("n_true"), col("n_detected"), col("n_hits"),
        when(col("n_detected") > 0, graft.Num.dround(
          col("n_hits").cast("double") / col("n_detected").cast("double"), 4))
          .as("precision"),
        when(col("n_true") > 0, graft.Num.dround(
          col("n_hits").cast("double") / col("n_true").cast("double"), 4))
          .as("recall"))
    }.reduce(_.unionByName(_)).orderBy("method")
  }

  /** embeddings ∪ clones with exactly two deterministic sign flips
    * (positions vec_id%64 and 7·vec_id%64) — Hamming ≤ 2 from their
    * originals, used by the banded Hamming pair probe. */
  private def flippedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val clones = e.filter(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i.cast("long") === col("vec_id") % 64 ||
             i.cast("long") === (col("vec_id") * 7) % 64, -x).otherwise(x))
        .as("embedding"))
    e.unionByName(clones)
  }

  /** embeddings ∪ scaled clones (same direction => cosine 1). */
  private def perturbedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val clones = e.filter(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
    e.unionByName(clones)
  }

  /** DuckDB mirror of [[graft.sim.EmbeddingStats.centroids]] on the
    * embeddings table — shared by the direct query and the config-driven
    * pipeline twin so the two gates can never drift. */
  private[queries] val centroidCtes: String = """
        u0 AS (SELECT label, unnest(embedding) AS xf,
                      unnest(range(len(embedding))) AS pos
               FROM embeddings),
        u AS (SELECT label, CAST(xf AS DOUBLE) AS x, CAST(pos AS INT) AS pos FROM u0),
        a AS (SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(floor(x * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s1,
                     CAST(sum(CAST(floor(x * x * 1e8 + 0.5) / 1e8 AS DECIMAL(38,8))) AS DOUBLE) AS s2
              FROM u GROUP BY 1, 2)"""

  private[queries] val centroidsOracle: String = s"""
        WITH $centroidCtes
        SELECT label, pos, n,
               floor((s1 / n) * 1e6 + 0.5) / 1e6 AS centroid,
               floor(greatest(0, s2 / n - (s1 / n) * (s1 / n)) * 1e6 + 0.5) / 1e6 AS variance
        FROM a ORDER BY label, pos"""

  /** Per-vector squared distance to its own label's centroid — the SQL
    * twin of [[graft.sim.EmbeddingStats.centroidDistances]], sharing the
    * centroid CTEs with [[centroidsOracle]] so the two cannot drift. */
  private[queries] val centroidDistOracle: String = s"""
        WITH $centroidCtes,
        c AS (SELECT label, pos, floor((s1 / n) * 1e6 + 0.5) / 1e6 AS centroid FROM a),
        v0 AS (SELECT vec_id, label, unnest(embedding) AS xf,
                      unnest(range(len(embedding))) AS pos
               FROM embeddings),
        v AS (SELECT vec_id, label, CAST(xf AS DOUBLE) AS x,
                     CAST(pos AS INT) AS pos FROM v0),
        dd AS (SELECT vec_id, v.label,
                      floor(x * 1e6 + 0.5) / 1e6 - centroid AS diff
               FROM v JOIN c ON v.label = c.label AND v.pos = c.pos),
        g AS (SELECT vec_id, label, CAST(count(*) AS BIGINT) AS n_dims,
                     floor(CAST(sum(CAST(floor(diff * diff * 1e10 + 0.5) / 1e10
                                         AS DECIMAL(38,10))) AS DOUBLE)
                           * 1e6 + 0.5) / 1e6 AS dist_sq
              FROM dd GROUP BY 1, 2)
        SELECT vec_id, label, n_dims, dist_sq FROM g"""

  val all: Seq[Q] = Seq(
    Q("dedup_minhash",
      (s, dir) => MinHash.nearDuplicatePairs(truncatedCorpus(s, dir),
          "text", "doc_id", n = 5, k = 64, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      None),

    Q("dedup_simhash",
      (s, dir) => {
        val d = Tables.documents(s, dir).select("doc_id", "text")
        // one-word substitution => tiny Hamming distance
        val clones = d.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "zzzz").as("text"))
        SimHash.nearDuplicatePairs(d.unionByName(clones), "text", "doc_id",
          maxDist = 7, blocks = 8)
          .orderBy("id_a", "id_b")
      },
      None),

    Q("dedup_jaccard",
      (s, dir) => NgramJaccard.pairs(truncatedCorpus(s, dir),
          "text", "doc_id", n = 5, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      None),

    // Dedup-method grader (the ann_recall discipline applied to the
    // near-dup family): precision/recall of each route against the
    // PLANTED clone ground truth (id ↔ id+2000000 for id%10=0) on ONE
    // shared fixture. Rows-only (the methods' hash lanes are
    // engine-specific) but the grading arithmetic is exact integers —
    // the number a dedup-threshold decision is made from.
    Q("dedup_recall",
      (s, dir) => {
        val corpus = truncatedCorpus(s, dir)
        val truth = corpus.filter(col("doc_id") >= 2000000)
          .select((col("doc_id") - 2000000).as("id_a"), col("doc_id").as("id_b"))
        // ONE tokenizer pass for ALL FIVE detectors (r15, extending the
        // r14 shared-signature move): every detector derives its grams
        // from the same persisted (doc_id, tokens) frame, so
        // split(lower(trim(text))) runs once instead of once per
        // pipeline. Values are unchanged — the *OfTokens variants build
        // the identical shingle/gram/hash expressions over the
        // pre-materialized token array (corpus-sized cache; harnesses
        // clear caches between queries).
        val tok = graft.Cached.hold(corpus.select(col("doc_id"),
            graft.text.TextAnalysis.tokens(col("text")).as("_gf_toks"))).df
        // ONE signature pass for both MinHash-family detectors (r14): the
        // minhash and jaccard rows share the same (n=5, k=64) signature
        // table — candidates for both come from one persisted frame
        // instead of two independent shingle→hash→lane passes. Values are
        // unchanged: sigPairs at 0.5 IS the minhash detector, and
        // jaccard's candidate generator was always sigPairs at 0.3.
        val sharedSigs = graft.Cached.hold(MinHash.signaturesOfTokens(tok,
            "_gf_toks", "doc_id", n = 5, k = 64)).df
        val methods = Seq(
          "minhash" -> MinHash.sigPairs(sharedSigs, k = 64, bands = 16,
            threshold = 0.5),
          "jaccard" -> NgramJaccard.pairsOverCandidatesTokens(tok,
            MinHash.sigPairs(sharedSigs, k = 64, bands = 16, threshold = 0.3)
              .select("id_a", "id_b"),
            "_gf_toks", "doc_id", n = 5, threshold = 0.5),
          // simhash grades LOW here by design: the fixture truncates 20%
          // of words, far past a 7-bit Hamming budget — the grader makes
          // that visible instead of leaving threshold folklore
          "simhash" -> SimHash.nearDuplicatePairsOfTokens(tok, "_gf_toks",
            "doc_id", maxDist = 7, blocks = 8),
          // winnowing's GUARANTEED detection (any shared passage of
          // >= k+w-1 tokens) measured next to the probabilistic methods
          // — the truncated clone shares its whole surviving prefix, so
          // recall here isolates the df-cap's cost, not chance
          "winnow" -> Winnow.overlapPairsOfTokens(tok, "doc_id", "_gf_toks",
            k = 5, w = 4, minShared = 2, maxDf = 16),
          // the md5-lane portable twin graded against the xxhash64
          // production lane: same k/bands/threshold shape, so a recall
          // gap between the two rows would flag a lane-arithmetic bug
          "minhash_portable" -> graft.dedup.PortableMinHash.pairsOfTokens(
            tok, "_gf_toks", "doc_id", n = 5, k = 32, bands = 16,
            threshold = 0.5))
        gradeDetections(truth, methods)
      },
      None),

    // The grading arithmetic itself HASH-GREEN: the SAME gradeDetections
    // path over DETERMINISTIC detected-pair fixtures both engines derive
    // independently from `documents` — "half" finds every other planted
    // clone pair (precision 1, recall 0.5), "noisy" finds them all plus
    // id%7 false pairs (recall 1, precision < 1) — so the
    // n_true/n_detected/n_hits counting, the semi-join hit logic, the
    // distinct-dedup, and the 4-dp ratio arithmetic that dedup_recall's
    // numbers flow through are oracle-pinned end to end; only the
    // engine-specific pair GENERATORS keep dedup_recall rows-only.
    Q("dedup_recall_handed",
      (s, dir) => {
        val d = Tables.documents(s, dir).select("doc_id")
        val truth = d.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 2000000).as("id_b"))
        val half = truth.filter(col("id_a") % 20 === 0)
        val noisy = truth.unionByName(
          d.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b")))
        gradeDetections(truth, Seq("half" -> half, "noisy" -> noisy))
      },
      Some(s"""
        WITH truth AS (SELECT doc_id AS id_a, doc_id + 2000000 AS id_b
                       FROM documents WHERE doc_id % 10 = 0),
             half AS (SELECT id_a, id_b FROM truth WHERE id_a % 20 = 0),
             noisy AS (SELECT id_a, id_b FROM truth
                       UNION ALL
                       SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 7 = 0),
             g AS (
               SELECT 'half' AS method,
                      (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
                      (SELECT CAST(count(*) AS BIGINT)
                       FROM (SELECT DISTINCT id_a, id_b FROM half)) AS n_detected,
                      (SELECT CAST(count(*) AS BIGINT)
                       FROM (SELECT DISTINCT id_a, id_b FROM half) h
                       WHERE EXISTS (SELECT 1 FROM truth t
                                     WHERE t.id_a = h.id_a AND t.id_b = h.id_b)) AS n_hits
               UNION ALL
               SELECT 'noisy',
                      (SELECT CAST(count(*) AS BIGINT) FROM truth),
                      (SELECT CAST(count(*) AS BIGINT)
                       FROM (SELECT DISTINCT id_a, id_b FROM noisy)),
                      (SELECT CAST(count(*) AS BIGINT)
                       FROM (SELECT DISTINCT id_a, id_b FROM noisy) h
                       WHERE EXISTS (SELECT 1 FROM truth t
                                     WHERE t.id_a = h.id_a AND t.id_b = h.id_b)))
        SELECT method, n_true, n_detected, n_hits,
               CASE WHEN n_detected > 0 THEN
                 ${Q.sqlDround("CAST(n_hits AS DOUBLE) / CAST(n_detected AS DOUBLE)", 4)}
               END AS precision,
               CASE WHEN n_true > 0 THEN
                 ${Q.sqlDround("CAST(n_hits AS DOUBLE) / CAST(n_true AS DOUBLE)", 4)}
               END AS recall
        FROM g ORDER BY method""")),

    // HASH-CHECKED against brute-force: on this fixture the LSH path's
    // output provably equals the exact cosine>=0.999 pair set — clones are
    // positively scaled (sign bits identical => co-bucketed in the one
    // table, recall 1 for them) and the random pairs top out at cosine
    // ~0.48, so no >=0.999 pair can hide in another bucket. The oracle
    // mirrors the float clone perturbation exactly (float×float multiply =
    // exact double product rounded to REAL) and reranks all pairs.
    Q("dedup_embedding",
      (s, dir) => Similarity.nearDuplicatePairs(perturbedEmbeddings(s, dir),
          "vec_id", "embedding", threshold = 0.999, nPlanes = 8)
        .orderBy("id_a", "id_b"),
      Some("""
        WITH base AS (SELECT vec_id, embedding FROM embeddings),
             clones AS (
               SELECT vec_id + 100000 AS vec_id,
                      list_transform(embedding,
                        x -> CAST(CAST(x AS DOUBLE) * CAST(CAST(1.01 AS REAL) AS DOUBLE) AS REAL)) AS embedding
               FROM base WHERE vec_id % 10 = 0),
             allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM (SELECT * FROM base UNION ALL SELECT * FROM clones)),
             scored AS (
               SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      floor((list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 1e6 + 0.5) / 1e6 AS cosine
               FROM allv a, allv b WHERE a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.999
        ORDER BY id_a, id_b""")),

    // Exact binary-fingerprint dedup: pairs sharing the ENTIRE 64-bit
    // sign pattern, found by an EQUI-join on the 8-byte code word (the
    // dedup_exact hash-bucket shape — no all-pairs anywhere; the
    // zero-cost prefilter in front of exact-cosine verification). The
    // 1.01-scaled clones pair exactly: positive scaling can never flip a
    // sign, which the oracle exploits by reusing the BASE vector's sign
    // string for its clone.
    Q("dedup_embedding_binary",
      (s, dir) => {
        val coded = graft.sim.Binary.encodeBinary(
          perturbedEmbeddings(s, dir), "vec_id", "embedding")
          .filter(col("codes").isNotNull)
        val a = coded.select(col("vec_id").as("id_a"), col("codes"))
        val b = coded.select(col("vec_id").as("id_b"), col("codes"))
        a.join(b, "codes").filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH sig0 AS (
          SELECT vec_id, array_to_string(list_transform(embedding,
            x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS sg
          FROM embeddings),
        allsig AS (
          SELECT vec_id, sg FROM sig0
          UNION ALL
          SELECT vec_id + 100000, sg FROM sig0 WHERE vec_id % 10 = 0)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM allsig a JOIN allsig b ON a.sg = b.sg AND a.vec_id < b.vec_id
        ORDER BY id_a, id_b""")),

    // Near-dup pairs within Hamming ≤ 3 via banded bit-sampling LSH with
    // the PIGEONHOLE guarantee (4 bands > 3 bits → one band survives
    // intact → recall EXACTLY 1), so unlike MinHash banding the pair set
    // is the true threshold set — HASH-GREEN against an oracle that
    // recounts sign-string Hamming over all pairs. Clones here flip
    // exactly two deterministic sign positions.
    Q("dedup_embedding_hamming",
      (s, dir) => {
        val coded = graft.sim.Binary.encodeBinary(
          flippedEmbeddings(s, dir), "vec_id", "embedding")
        graft.sim.Binary.hammingPairs(coded, "vec_id", maxDist = 3, bands = 4)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH base AS (SELECT vec_id, embedding FROM embeddings),
        clones AS (
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(embedding, (x, i) ->
                   CASE WHEN i - 1 = vec_id % 64 OR i - 1 = (vec_id * 7) % 64
                        THEN -x ELSE x END) AS embedding
          FROM base WHERE vec_id % 10 = 0),
        allv AS (SELECT * FROM base UNION ALL SELECT * FROM clones),
        sig AS (SELECT vec_id, array_to_string(list_transform(embedding,
                  x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS sg
                FROM allv)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(hamming(a.sg, b.sg) AS INT) AS hamming
        FROM sig a, sig b
        WHERE a.vec_id < b.vec_id AND hamming(a.sg, b.sg) <= 3
        ORDER BY id_a, id_b""")),

    // Keep-one-per-connected-component policy over the MinHash pair graph
    // (greedy pair dropping can keep 2 docs of a chain A~B~C).
    Q("dedup_components",
      (s, dir) => {
        val corpus = truncatedCorpus(s, dir)
        val pairs = MinHash.nearDuplicatePairs(corpus, "text", "doc_id",
          n = 5, k = 64, bands = 16, threshold = 0.5)
        graft.dedup.Components.dedupByComponent(corpus, "doc_id", pairs)
          .select("doc_id").orderBy("doc_id")
      },
      None),

    // Connected components HASH-CHECKED against a DuckDB recursive-CTE
    // oracle. The MinHash pair graph itself is not SQL-mirrorable, so this
    // twin runs the same star-contraction engine over a DETERMINISTIC pair
    // graph both engines construct independently from `documents`: chain
    // edges (d, d+1) for d%10<3 give 4-node path components — the shape
    // greedy pair-dropping gets wrong — and bridge edges (d, d+10) for
    // d%50=0 merge two chains into one 8-node component. The oracle labels
    // nodes via min-reachable-id fixpoint (WITH RECURSIVE breadth
    // expansion + group-min); components are bounded (≤8 nodes) so the
    // reachability relation stays linear in the corpus.
    Q("dedup_components_oracle",
      (s, dir) => {
        val d = Tables.documents(s, dir).select("doc_id")
        val chain = d.filter(col("doc_id") % 10 < 3)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        val bridge = d.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 10).as("id_b"))
        graft.dedup.Components.componentLabels(chain.unionByName(bridge))
          .orderBy("id")
      },
      Some("""
        WITH RECURSIVE
          pairs AS (
            SELECT doc_id AS id_a, doc_id + 1 AS id_b
            FROM documents WHERE doc_id % 10 < 3
            UNION ALL
            SELECT doc_id AS id_a, doc_id + 10 AS id_b
            FROM documents WHERE doc_id % 50 = 0),
          edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs),
          walk(u, r) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT w.u, e.v FROM walk w JOIN edges e ON w.r = e.u)
        SELECT u AS id, min(r) AS component FROM walk GROUP BY u
        ORDER BY id""")),

    // Keep-BEST-per-component policy (r10): real curation keeps the
    // highest-quality member of a near-dup cluster, not the min id.
    // Same deterministic pair graph as dedup_components_oracle; the
    // score is length(text) (SQL-mirrorable), argmax per component with
    // min-id tie-break via one map-side-combined min_by aggregate (no
    // window). The oracle extends the recursive-CTE fixpoint with a
    // row_number argmax over the same (score desc, id) total order.
    Q("dedup_components_best",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), length(col("text")).as("_gf_q"))
        val chain = d.filter(col("doc_id") % 10 < 3)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        val bridge = d.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 10).as("id_b"))
        graft.dedup.Components.dedupByComponentBest(
            d, "doc_id", "_gf_q", chain.unionByName(bridge))
          .select("doc_id").orderBy("doc_id")
      },
      Some("""
        WITH RECURSIVE
          pairs AS (
            SELECT doc_id AS id_a, doc_id + 1 AS id_b
            FROM documents WHERE doc_id % 10 < 3
            UNION ALL
            SELECT doc_id AS id_a, doc_id + 10 AS id_b
            FROM documents WHERE doc_id % 50 = 0),
          edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs),
          walk(u, r) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT w.u, e.v FROM walk w JOIN edges e ON w.r = e.u),
          comp AS (SELECT u AS id, min(r) AS component FROM walk GROUP BY u),
          scored AS (
            SELECT c.id, c.component, length(d.text) AS score
            FROM comp c JOIN documents d ON d.doc_id = c.id),
          win AS (
            SELECT component, id AS winner FROM (
              SELECT component, id, row_number() OVER (
                PARTITION BY component ORDER BY score DESC, id) AS rn
              FROM scored) WHERE rn = 1),
          losers AS (
            SELECT s.id FROM scored s
            JOIN win w ON s.component = w.component
            WHERE s.id <> w.winner)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM losers)
        ORDER BY doc_id""")),

    // Exact top-10 per query, HASH-CHECKED: VecCosine's sequential double
    // accumulation over float inputs is bit-identical to DuckDB's
    // list_dot_product over CAST(... AS DOUBLE[]) (float×float promoted to
    // double is exact; both engines add in index order), so even the
    // UNROUNDED ranking order matches — the oracle ranks on the raw cosine
    // with the same (desc, neighbor_id) tie-break, then rounds for output
    // exactly like the Spark side's dround(…, 6).
    // SQ8-coded exact search (SURVEY row 135): the scan reads one-byte
    // codes + the two stored code moments instead of floats; each
    // (query, row) pair is d LUT adds (PqAdcSum, ks=256) + closed-form
    // affine algebra. HASH-GREEN: the oracle replicates the EXACT
    // summation grouping (q·x̂ = vmin·Σq + scale·Σq_d·c_d with
    // list_dot_product mirroring the kernel's sequential mul-add fold),
    // so the compressed route is proven value-identical to DuckDB's
    // uncompressed algebra end to end.
    Q("ann_sq8",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        graft.sim.Quantize.topKSq8(
            graft.sim.Quantize.encodeSq8(e, "vec_id", "embedding"), "vec_id",
            e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .orderBy("query_id", "rank")
      },
      Some(sq8Oracle)),

    // The persisted-index lifecycle for the SQ8 route (SURVEY row 135):
    // encode, persist the byte codes with a format-tagged row-pinned
    // manifest, re-open through the refusal ladder, search the re-opened
    // index — against the SAME oracle as ann_sq8, so persistence is
    // proven value-identical to the direct route end to end (the
    // pipeline_ft_config shared-owner precedent).
    Q("ann_sq8_persisted",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val path = scratchIndexDir(s, "sq8", dir)
        graft.sim.Quantize.writeSq8Index(
          graft.sim.Quantize.encodeSq8(e, "vec_id", "embedding"), path)
        graft.sim.Quantize.topKSq8(
            graft.sim.Quantize.readSq8Index(s, path), "vec_id",
            e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .orderBy("query_id", "rank")
      },
      Some(sq8Oracle)),

    // 1-bit binary quantization audit (SURVEY row 138): per-vector
    // positive-sign count read back FROM THE PACKED WORD (BinPopcount),
    // hash-checked against the float-side sign count — the pack pipeline
    // (transform/slice/aggregate fold → PackBytes) must preserve every
    // sign bit exactly or the integers diverge.
    Q("embedding_binarize",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        graft.sim.Binary.encodeBinary(e, "vec_id", "embedding")
          .select(col("vec_id"), col("n_dims"), col("n_pos"))
          .orderBy("vec_id")
      },
      Some("""
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS n_dims,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos
        FROM embeddings ORDER BY vec_id""")),

    // Hamming-distance top-10 over the binarized corpus (SURVEY row 138):
    // the scan reads ceil(d/8)-byte code words (32× smaller than float32)
    // through the BinHamming XOR+popcount kernel. HASH-GREEN on integer
    // distances: the oracle recounts differing SIGNS from the raw floats,
    // never seeing the packed layout — a match proves pack ∘ xor ∘
    // popcount ≡ the semantic definition over every (query, row) pair.
    Q("ann_hamming",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        graft.sim.Binary.hammingTopK(
            graft.sim.Binary.encodeBinary(e, "vec_id", "embedding"), "vec_id",
            e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .orderBy("query_id", "rank")
      },
      Some(hammingOracle)),

    // The SAME probe through a PERSISTED binary index (write → manifest →
    // re-open through the refusal ladder → probe) against the SAME oracle,
    // so persistence is proven value-identical to the direct route.
    Q("ann_hamming_persisted",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val path = scratchIndexDir(s, "bin", dir)
        graft.sim.Binary.writeBinaryIndex(
          graft.sim.Binary.encodeBinary(e, "vec_id", "embedding"), path)
        graft.sim.Binary.hammingTopK(
            graft.sim.Binary.readBinaryIndex(s, path), "vec_id",
            e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .orderBy("query_id", "rank")
      },
      Some(hammingOracle)),

    // Binary shortlist (m=50 by Hamming) + exact-cosine rerank of the
    // shortlist only (SURVEY row 138) — the IVFADC+R two-stage shape at
    // 1/32 the first-pass scan bytes. HASH-GREEN end to end: integer
    // Hamming shortlisting is exact (above), and the rerank reuses
    // VecCosine's bit-exact parity with list_dot_product.
    Q("ann_hamming_rerank",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        graft.sim.Binary.hammingRerank(
            graft.sim.Binary.encodeBinary(e, "vec_id", "embedding"), "vec_id",
            e, "vec_id", "embedding",
            e.filter(col("vec_id") < 5), "vec_id", "embedding", m = 50, k = 10)
          .orderBy("query_id", "rank")
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        bits AS (
          SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                 CASE WHEN unnest(embedding) > 0 THEN 1 ELSE 0 END AS b
          FROM embeddings),
        ham AS (
          SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                 CAST(sum(CASE WHEN qb.b <> cb.b THEN 1 ELSE 0 END) AS INT) AS hamming
          FROM bits cb JOIN (SELECT * FROM bits WHERE vec_id < 5) qb USING (i)
          GROUP BY 1, 2),
        short AS (
          SELECT query_id, neighbor_id, hamming,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY hamming, neighbor_id) AS hrank
          FROM ham),
        scored AS (
          SELECT s.query_id, s.neighbor_id, s.hamming,
                 list_dot_product(ce.v, qe.v) /
                   (sqrt(list_dot_product(ce.v, ce.v)) *
                    sqrt(list_dot_product(qe.v, qe.v))) AS cos_raw
          FROM short s
          JOIN e ce ON ce.vec_id = s.neighbor_id
          JOIN e qe ON qe.vec_id = s.query_id
          WHERE s.hrank <= 50),
        ranked AS (
          SELECT query_id, neighbor_id, hamming,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank,
                 floor(cos_raw * 1e6 + 0.5) / 1e6 AS cosine
          FROM scored)
        SELECT query_id, neighbor_id, rank, cosine, hamming FROM ranked
        WHERE rank <= 10 ORDER BY query_id, rank""")),

    Q("ann_bruteforce",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(e, "vec_id", "embedding",
            e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 5),
             scored AS (
               SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      list_dot_product(c.v, q.v) /
                        (sqrt(list_dot_product(c.v, c.v)) *
                         sqrt(list_dot_product(q.v, q.v))) AS cos_raw
               FROM c, q),
             ranked AS (
               SELECT query_id, neighbor_id,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank,
                      ${Q.sqlDround("cos_raw", 6)} AS cosine
               FROM scored)
        SELECT query_id, neighbor_id, rank, cosine FROM ranked
        WHERE rank <= 10 ORDER BY query_id, rank""")),

    // Oracle-checked exact-cosine baseline: similar pairs among the first
    // 200 vectors, thresholded on the ROUNDED value so both engines make
    // the same cut. Threshold 0.3 is calibrated to the synthetic
    // embeddings' cosine distribution (64-dim near-random → max observed
    // ≈ 0.48, ~150 pairs ≥ 0.3 at sf0.01) so the gate hashes REAL rows —
    // the previous 0.8 matched on two empty result sets.
    Q("ann_cosine_pairs",
      (s, dir) => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 200)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.Num.dround(Similarity.cosine(col("va"), col("vb")), 4).as("cosine"))
          .filter(col("cosine") >= 0.3)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 200)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               floor((list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 1e4 + 0.5) / 1e4 AS cosine
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND floor((list_dot_product(a.v, b.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 1e4 + 0.5) / 1e4 >= 0.3
        ORDER BY id_a, id_b""")),

    // IVF + binary probe (FAISS IndexBinaryIVF shape): coarse cells prune
    // the scan, pruned cells scan as 8-byte Hamming words, exact cosine
    // reranks the shortlist only — binary codes with partition pruning,
    // the 100 TB-shaped binary route. Rows-only (k-means seeds);
    // BinarySpec pins full-probe ≡ whole-corpus hammingRerank.
    Q("ann_ivf_hamming",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val index = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 8, iters = 2)
        graft.sim.Binary.ivfHammingTopK(index, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2, m = 50)
          .orderBy("query_id", "rank")
      },
      None),

    // The SAME IVF-binary probe through a PERSISTED cid-partitioned index
    // (write → manifest → re-open through the refusal ladder → probe):
    // deterministic seeds → identical rows to ann_ivf_hamming, and the
    // probed cells prune to the re-opened index's FILES.
    Q("ann_ivf_hamming_persisted",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val trained = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 8, iters = 2)
        val tmp = scratchIndexDir(s, "ivf-bin-q", dir)
        graft.sim.Ivf.writeIndex(trained, tmp)
        trained.release()
        val index = graft.sim.Ivf.readIndex(s, tmp)
        graft.sim.Binary.ivfHammingTopK(index, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2, m = 50)
          .orderBy("query_id", "rank")
      },
      None),

    // IVF coarse-quantizer ANN: train on the corpus, probe 2 of 8 cells.
    Q("ann_ivf",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val index = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 8, iters = 2)
        graft.sim.Ivf.topK(index, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      None),

    // The SAME probe through a PERSISTED index: train, write (partitioned
    // by cell id), re-open without retraining, probe — exercising
    // writeIndex/readIndex/manifest-validation/partition-pruning under the
    // driver gate, not just IvfSpec. Deterministic seeds → identical rows
    // to `ann_ivf` (the write/read round-trip must not move results).
    Q("ann_ivf_persisted",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val trained = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 8, iters = 2)
        // Session-stable path (see scratchIndexDir): bench min-of-3 and
        // repeated driver runs re-invoke this builder, and a fresh dir
        // per invocation would accumulate corpus-sized index copies in
        // /tmp without bound. writeIndex overwrites, so the round trip
        // under test is identical.
        val tmp = scratchIndexDir(s, "ivf-q", dir)
        graft.sim.Ivf.writeIndex(trained, tmp)
        trained.release()
        val index = graft.sim.Ivf.readIndex(s, tmp)
        graft.sim.Ivf.topK(index, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      None),

    // Incremental ingest under the gate: train on the even half, persist,
    // APPEND the odd half against the frozen centroids (no retrain), then
    // re-open and probe the combined inverted file. writeIndex overwrites,
    // so repeated runs are deterministic; rows-only like its parents
    // (IvfSpec pins argmin-consistency of appended rows and the
    // id-collision / wrong-dim refusals).
    Q("ann_ivf_append",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        // iters=1: the append CYCLE is what's under test, not k-means
        // polish (the bench pays train+write+append+read+probe per run)
        val trained = graft.sim.Ivf.train(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", k = 8, iters = 1)
        val tmp = scratchIndexDir(s, "ivf-app-q", dir)
        graft.sim.Ivf.writeIndex(trained, tmp)
        trained.release()
        graft.sim.Ivf.appendToIndex(s, tmp,
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
        val index = graft.sim.Ivf.readIndex(s, tmp)
        graft.sim.Ivf.topK(index, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      None),

    // Product-quantization ANN (Jégou et al., TPAMI 2011): corpus encoded
    // to m=16 one-byte codes (16 B/vector vs 256 B of floats — the memory
    // scale path), queries ranked by ADC over per-query lookup tables.
    // Rows-only (k-means codebooks are engine-specific); PqSpec pins the
    // ADC algebra exactly on handed codebooks and the recall floor.
    Q("ann_pq",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val index = graft.sim.Pq.train(e, "vec_id", "embedding",
          m = 16, ks = 16, iters = 2)
        graft.sim.Pq.topK(index, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10)
          .orderBy("query_id", "rank")
      },
      None),

    // IVFADC: the IVF × PQ composition — probe 2 of 8 cells, score only
    // those cells' byte codes by ADC. The billion-vector layout under the
    // driver gate; rows-only like its two parents. One Lloyd round per
    // quantizer: the composition is what's under test, not k-means polish
    // (IvfPqSpec pins full-probe equality with the PQ scan at iters=2).
    Q("ann_ivfpq",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val ivf = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 8, iters = 1)
        val pq = graft.sim.Pq.train(e, "vec_id", "embedding",
          m = 16, ks = 16, iters = 1)
        val combined = graft.sim.IvfPq.build(ivf, pq)
        graft.sim.IvfPq.topK(combined, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      None),

    // IVFADC with exact re-ranking (IVFADC+R): the byte-code scan picks a
    // 4·k shortlist, the shortlist's ORIGINAL vectors are fetched from the
    // probed cells only and re-scored with exact cosine — quantization
    // error bought back at a bounded float cost. Rows-only like its
    // parents; IvfPqSpec pins that full-probe + full-shortlist IS brute
    // force and that rerank recall dominates ADC recall on equal probes.
    Q("ann_ivfpq_rerank",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val ivf = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 8, iters = 1)
        val pq = graft.sim.Pq.train(e, "vec_id", "embedding",
          m = 16, ks = 16, iters = 1)
        val combined = graft.sim.IvfPq.build(ivf, pq)
        graft.sim.IvfPq.topKRerank(combined, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2, shortlist = 40)
          .orderBy("query_id", "rank")
      },
      None),

    // The persisted compressed inverted file: train both halves, write
    // the cid-PARTITIONED byte-code layout + manifests, re-open, probe —
    // the probe's static IN filter partition-prunes to the probed cells'
    // code files (the billion-vector disk layout under the driver gate).
    // Rows-only like its parents; IvfPqSpec pins the round-trip equality.
    Q("ann_ivfpq_persisted",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val ivf = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 8, iters = 1)
        val pq = graft.sim.Pq.train(e, "vec_id", "embedding",
          m = 16, ks = 16, iters = 1)
        val combined = graft.sim.IvfPq.build(ivf, pq)
        val tmp = scratchIndexDir(s, "ivfpq-q", dir)
        graft.sim.IvfPq.writeIndex(combined, tmp)
        combined.release()
        val reopened = graft.sim.IvfPq.readIndex(s, tmp)
        graft.sim.IvfPq.topK(reopened, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      None),

    // Incremental ingest for the persisted IVFADC index: one batch, BOTH
    // halves (cells assigned vs frozen centroids, codes encoded vs frozen
    // codebooks, both appended cid-partitioned). The daily-ingest cycle
    // of the compressed corpus under the driver gate; rows-only like its
    // parents, IvfPqSpec pins refusals and the self-find.
    Q("ann_ivfpq_append",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val even = e.filter(col("vec_id") % 2 === 0)
        val ivf = graft.sim.Ivf.train(even, "vec_id", "embedding", k = 8, iters = 1)
        val pq = graft.sim.Pq.train(even, "vec_id", "embedding",
          m = 16, ks = 16, iters = 1)
        val tmp = scratchIndexDir(s, "ivfpq-app-q", dir)
        graft.sim.IvfPq.writeIndex(graft.sim.IvfPq.build(ivf, pq), tmp)
        ivf.release(); pq.release()
        graft.sim.IvfPq.appendToIndex(s, tmp,
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
        val reopened = graft.sim.IvfPq.readIndex(s, tmp)
        graft.sim.IvfPq.topK(reopened, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      None),

    // IVFADC with residual encoding (Jégou §V.A): codes quantize
    // normalize(v) − centroid(cell), LUTs rebuilt per (query, probed
    // cell) — the accuracy-per-byte winner at equal m/ks (IvfPqSpec
    // measures the recall gain and pins the exact-regime equality with
    // brute force). Rows-only like its parents (kmeans codebooks).
    Q("ann_ivfpq_residual",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val ivf = graft.sim.Ivf.train(e, "vec_id", "embedding", k = 8, iters = 1)
        val res = graft.sim.IvfPq.buildResidual(ivf, m = 16, ks = 16, iters = 1)
        graft.sim.IvfPq.topKResidual(res, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      None),

    // Per-label centroid + per-dimension variance — prototype vectors and
    // feature-collapse audit, melted to label x dim rows. Both moments
    // accumulate as exact decimals of portably-rounded doubles, so the
    // hash matches DuckDB bit-for-bit despite float inputs.
    Q("embedding_centroids",
      (s, dir) => graft.sim.EmbeddingStats.centroids(
          Tables.embeddings(s, dir), "label", "embedding")
        .orderBy("label", "pos"),
      Some(centroidsOracle)),

    // Embedding-space outlier audit: per-vector squared L2 distance to
    // its own label's centroid (far-from-prototype = mislabel/noise
    // candidate). Centroid frame broadcast; only (id, distance) partials
    // shuffle. Hash-checked against the shared centroid CTEs.
    Q("embedding_outliers",
      (s, dir) => graft.sim.EmbeddingStats.centroidDistances(
          Tables.embeddings(s, dir), "vec_id", "label", "embedding")
        .orderBy("vec_id"),
      Some(s"$centroidDistOracle ORDER BY vec_id")),

    // The filter form: vectors within a dist_sq budget of their
    // prototype, pinning pruneFar's semi-join against the same oracle.
    // 0.98 ~ the corpus median (the synthetic clusters are loose:
    // near-unit vectors sit ~0.88-1.10 from their prototype), so both
    // outcomes stay populated at every sf.
    Q("embedding_prune_far",
      (s, dir) => graft.sim.EmbeddingStats.pruneFar(
          Tables.embeddings(s, dir), "vec_id", "label", "embedding",
          maxDistSq = 0.98)
        .select("vec_id").orderBy("vec_id"),
      Some(s"""
        WITH base AS ($centroidDistOracle)
        SELECT vec_id FROM base WHERE dist_sq <= 0.98 ORDER BY vec_id""")),

    Q("ann_lsh",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.lshTopK(e, "vec_id", "embedding",
            e.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 10, nPlanes = 8)
          .orderBy("query_id", "rank")
      },
      None),

    // The LSH machinery HASH-GREEN (the dedup_embedding_hamming
    // sign-recount precedent, extended from pairs to the probe path):
    // the SAME bucket→probe→rerank plan as ann_lsh, but under a HANDED
    // plane matrix — 8 Walsh sign rows with entries ±0.125 (exactly
    // representable), so each bucket bit is the sign of a
    // sequential-fold dot product both engines accumulate
    // bit-identically (list_dot_product ≡ the zip_with fold, proven by
    // dedup_embedding), and the whole pipeline has a closed SQL form.
    // Only the pseudo-random default planes keep ann_lsh rows-only;
    // this pins the machinery they run through.
    Q("ann_lsh_handed",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        // 4 planes → 16 buckets: big enough buckets at sf0.01 that the
        // probed top-10 lists are FULL (the hash covers real rank/cosine
        // structure, not near-singleton buckets)
        Similarity.lshTopKWithPlanes(e, "vec_id", "embedding",
            e.filter(col("vec_id") < 5), "vec_id", "embedding",
            walshPlanes.take(4), k = 10)
          .orderBy("query_id", "rank")
      },
      Some {
        val bucket = walshPlanes.take(4).zipWithIndex.map { case (w, p) =>
          val arr = w.mkString("[", ", ", "]")
          s"CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << p} ELSE 0 END"
        }.mkString("\n                 + ")
        s"""
        WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             b AS (SELECT vec_id, v,
                     $bucket AS bucket
                   FROM c),
             q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 5),
             cand AS (
               SELECT q.qid AS query_id, b.vec_id AS neighbor_id,
                      list_dot_product(b.v, q.qv) /
                        (sqrt(list_dot_product(b.v, b.v)) *
                         sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
               FROM b JOIN q ON b.bucket = q.bucket),
             ranked AS (
               SELECT query_id, neighbor_id,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank,
                      ${Q.sqlDround("cos_raw", 6)} AS cosine
               FROM cand)
        SELECT query_id, neighbor_id, rank, cosine FROM ranked
        WHERE rank <= 10 ORDER BY query_id, rank"""
      }),

    // Recall@10 of the approximate indexes against the exact brute-force
    // ground truth, per query — the evaluation loop that decides
    // k/nprobe/planes in production. Rows-only (the approximate side is
    // hash-seeded), but deterministic: same seeds → same recall.
    // Hybrid retrieval: BM25 (lexical) and exact cosine (embedding)
    // top-20 lists fused by reciprocal rank fusion over the items that
    // have BOTH text and a vector. Hash-checked end to end: the oracle
    // re-derives both rankings (the two mirrors already individually
    // hash-green) and fuses with the same fixed-order coalesce sum —
    // RRF reads only RANKS, so the two engines' bit-identical rank
    // columns guarantee bit-identical fusions.
    Q("ann_hybrid_rrf",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val emb = Tables.embeddings(s, dir)
        val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
          .select(col("doc_id"), col("text"), col("embedding"))
        val queries = corpus.filter(col("doc_id") < 5)
        val bm = graft.text.Bm25.topK(corpus, "doc_id", "text",
            queries.select(col("doc_id").as("qid"), col("text")),
            "qid", "text", k = 20)
          .select(col("query_id"), col("doc_id").as("id"), col("rank"))
        val ann = Similarity.bruteForceTopK(corpus, "doc_id", "embedding",
            queries.select(col("doc_id"), col("embedding")), "doc_id", "embedding",
            k = 20)
          .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
        graft.sim.Hybrid.rrf(Seq(bm, ann), "query_id", "id", "rank", k = 10)
          .orderBy("query_id", "rank")
      },
      Some("""
        WITH corp AS (
          SELECT d.doc_id, d.text, CAST(e.embedding AS DOUBLE[]) AS v
          FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        base AS (
          SELECT doc_id AS did, regexp_split_to_array(lower(trim(text)), '\s+') AS l
          FROM corp WHERE length(trim(text)) > 0),
        lens AS (SELECT did, len(l) AS dlen, l FROM base),
        post AS (SELECT term, did, dlen, CAST(count(*) AS BIGINT) AS tf
                 FROM (SELECT did, dlen, unnest(l) AS term FROM lens)
                 WHERE length(term) > 0 GROUP BY 1, 2, 3),
        dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(dlen) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
                  FROM lens),
        qt AS (SELECT DISTINCT qid, term FROM (
                 SELECT doc_id AS qid,
                        unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
                 FROM corp WHERE doc_id < 5 AND length(trim(text)) > 0)
               WHERE length(term) > 0),
        per AS (SELECT qt.qid, post.did,
                  floor((ln(1 + (n - df + 0.5) / (df + 0.5))
                         * tf * (1.2 + 1.0)
                         / (tf + 1.2 * (1 - 0.75 + 0.75 * dlen / avgdl)))
                        * 1e6 + 0.5) / 1e6 AS s
                FROM post JOIN qt USING (term) JOIN dfq USING (term), stats),
        bmagg AS (SELECT qid, did,
                    CAST(round(sum(CAST(s AS DECIMAL(38,6))), 4) AS DOUBLE) AS score
                  FROM per GROUP BY 1, 2),
        bmrk AS (SELECT qid AS query_id, did AS id,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, did) AS rank
                 FROM bmagg QUALIFY rank <= 20),
        annscored AS (
          SELECT q.doc_id AS query_id, c.doc_id AS id,
                 list_dot_product(c.v, q.v) /
                   (sqrt(list_dot_product(c.v, c.v)) *
                    sqrt(list_dot_product(q.v, q.v))) AS cos_raw
          FROM corp c, (SELECT doc_id, v FROM corp WHERE doc_id < 5) q),
        annrk AS (SELECT query_id, id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_raw DESC, id) AS rank
                  FROM annscored QUALIFY rank <= 20),
        ids AS (SELECT query_id, id FROM bmrk
                UNION SELECT query_id, id FROM annrk),
        fused AS (
          SELECT ids.query_id, ids.id,
                 coalesce(1.0 / (60.0 + bmrk.rank), 0) +
                 coalesce(1.0 / (60.0 + annrk.rank), 0) AS rrf
          FROM ids
          LEFT JOIN bmrk USING (query_id, id)
          LEFT JOIN annrk USING (query_id, id)),
        out AS (SELECT query_id, id, rrf,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf DESC, id) AS rank
                FROM fused QUALIFY rank <= 10)
        SELECT query_id, CAST(rank AS INT) AS rank, id,
               floor(rrf * 1e6 + 0.5) / 1e6 AS rrf_score
        FROM out ORDER BY query_id, rank""")),

    Q("ann_recall",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10)
        // The route BUILDS are driver-synchronous job chains (Lloyd
        // collects, probe collects, index-integrity counts) with no
        // dependencies across routes except IVF→IVFADC/residual; running
        // them sequentially left the cluster idle during every driver
        // step. Submit the independent builds from a small thread pool
        // (guide §2.6 — the writeBundle precedent): IVF and PQ train
        // concurrently, then the three IVF-derived probes and the PQ
        // probe overlap. Each route is internally unchanged and
        // deterministic, so the graded numbers cannot move.
        import scala.concurrent.{ExecutionContext, Future}
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val (ivf, ivfadc, ivfadcR, pq) = try {
          val fIndex = Future {
            graft.sim.Ivf.train(e, "vec_id", "embedding", k = 8, iters = 2)
          }
          // one Lloyd round: the harness scores a CHEAP pq config against
          // the expensive ones — each extra round is a driver-synchronous
          // collect job, and recall moves little on this fixture
          val fPqIndex = Future {
            graft.sim.Pq.train(e, "vec_id", "embedding", m = 16, ks = 16,
              iters = 1)
          }
          val fIvf = fIndex.map(index => graft.sim.Ivf.topK(index,
            queries, "vec_id", "embedding", k = 10, nprobe = 2))
          // the two IVFADC variants at EQUAL m/ks/nprobe — the grid that
          // decides whether residual encoding pays for its
          // per-(query,cell) LUT cost on this corpus
          val fIvfAdc = fIndex.zip(fPqIndex).map { case (index, pqIndex) =>
            graft.sim.IvfPq.topK(graft.sim.IvfPq.build(index, pqIndex),
              queries, "vec_id", "embedding", k = 10, nprobe = 2)
          }
          val fIvfAdcR = fIndex.map { index =>
            graft.sim.IvfPq.topKResidual(
              graft.sim.IvfPq.buildResidual(index, m = 16, ks = 16, iters = 1),
              queries, "vec_id", "embedding", k = 10, nprobe = 2)
          }
          val fPq = fPqIndex.map(pqIndex => graft.sim.Pq.topK(pqIndex,
            queries, "vec_id", "embedding", k = 10))
          graft.Waits.await(
            fIvf.zip(fIvfAdc).zip(fIvfAdcR).zip(fPq).map {
              case (((a, b), c), d) => (a, b, c, d)
            }, "ann_recall: index builds")
        } finally pool.shutdown()
        val lsh = Similarity.lshTopK(e, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10, nPlanes = 8)
        // same planes, 4 OR'd tables: the recall lever made measurable
        val lshOr = Similarity.lshTopK(e, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10, nPlanes = 8, tables = 4)
        // the 1-bit routes: raw Hamming order, and Hamming-shortlist +
        // exact rerank — the grid that shows how much of binary's 32×
        // scan saving the rerank stage buys back in recall
        val coded = graft.sim.Binary.encodeBinary(e, "vec_id", "embedding")
        val ham = graft.sim.Binary.hammingTopK(coded, "vec_id",
            queries, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        val hamR = graft.sim.Binary.hammingRerank(coded, "vec_id",
            e, "vec_id", "embedding", queries, "vec_id", "embedding",
            m = 50, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        // the fully-verifiable handed route graded NEXT TO the sampled
        // production routes — a recall gap between ivf and ivf_handed
        // separates seed quality (k=8 sampled vs k=4 Walsh) from the
        // probe/rerank machinery both share
        val hInit = graft.sim.KMeansLloyd.walshInit(4, 64)
        val hCents = graft.sim.KMeansLloyd.lloydWalk(
          e, "vec_id", "embedding", hInit, iters = 2)
        val hCells = graft.sim.KMeansLloyd.lloydAssignments(
            e, "vec_id", "embedding", hInit, iters = 2)
          .select(col("vec_id").as("neighbor_id"), col("cluster"))
        val hProbe = graft.sim.KMeansLloyd.probeCells(
            queries, "vec_id", "embedding", hCents, nprobe = 2)
          .select(col("vec_id").as("query_id"), col("cluster"))
        val wH = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("_hc").desc, col("neighbor_id"))
        val ivfHanded = hProbe.join(hCells, Seq("cluster"))
          .join(e.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("_vn")), Seq("neighbor_id"))
          .join(e.select(col("vec_id").as("query_id"),
            col("embedding").as("_vq")), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            Similarity.cosine(col("_vn"), col("_vq")).as("_hc"))
          .withColumn("rank", row_number().over(wH))
          .where(col("rank") <= 10)
          .select("query_id", "neighbor_id", "rank")
        Similarity.recallAt(exact,
            Seq("ivf" -> ivf, "ivf_handed" -> ivfHanded, "lsh" -> lsh,
              "lsh_or4" -> lshOr, "pq" -> pq,
              "ivfpq" -> ivfadc, "ivfpq_residual" -> ivfadcR,
              "hamming" -> ham, "hamming_rerank" -> hamR))
          .orderBy("method", "query_id")
      },
      None),

    // Portable MinHash signatures (§2 rows 46/47's verifiable lane — the
    // sketch_hll treatment applied to near-dedup): the signature TABLE
    // itself is hash-compared. DuckDB replays shingling (with the
    // short-doc fallback), the md5-prefix 32-bit hash, and all 32
    // (a·h+b) mod 2³¹−1 universal-lane minima verbatim; the xxhash64
    // production lane (dedup_minhash) stays the 100 TB hot path.
    Q("dedup_minhash_portable_sig",
      (s, dir) => graft.dedup.PortableMinHash.signatureTable(
          Tables.documents(s, dir), "text", "doc_id", n = 5, k = 32)
        .orderBy("doc_id", "lane"),
      Some(s"""
        WITH ${graft.dedup.PortableMinHash.sqlSigCte("documents", 5, 32)}
        SELECT doc_id, lane, sig FROM (
          ${graft.dedup.PortableMinHash.sqlMelt(32)})
        ORDER BY doc_id, lane""")),

    // Portable MinHash candidate pairs: band join (16 bands × 2 lanes,
    // the band key being the raw lane values — no second hash to
    // mirror) + the exact-binary estimator (k a power of two), on the
    // shared truncated-clone fixture. HASH-GREEN end to end.
    Q("dedup_minhash_portable_pairs",
      (s, dir) => graft.dedup.PortableMinHash.pairs(truncatedCorpus(s, dir),
          "text", "doc_id", n = 5, k = 32, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(s"""
        WITH $portableCorpusCte,
        ${graft.dedup.PortableMinHash.sqlSigCte("corpus", 5, 32)},
        ${graft.dedup.PortableMinHash.sqlPairsCte(32, 16, 0.5)}
        SELECT id_a, id_b, est_jaccard FROM pr
        ORDER BY id_a, id_b""")),

    // Portable MinHash KEPT SET — the actual keep/drop decision
    // (greedy smaller-id-wins over the pair list, MinHash.dedup's
    // policy) oracle-pinned, closing the gap dedup_recall could only
    // grade: rows 46/47's decision procedure is now recomputed, not
    // sampled.
    Q("dedup_minhash_portable",
      (s, dir) => graft.dedup.PortableMinHash.kept(truncatedCorpus(s, dir),
          "text", "doc_id", n = 5, k = 32, bands = 16, threshold = 0.5)
        .orderBy("doc_id"),
      Some(s"""
        WITH $portableCorpusCte,
        ${graft.dedup.PortableMinHash.sqlSigCte("corpus", 5, 32)},
        ${graft.dedup.PortableMinHash.sqlPairsCte(32, 16, 0.5)}
        SELECT doc_id FROM corpus
        WHERE doc_id NOT IN (SELECT id_b FROM pr)
        ORDER BY doc_id""")),

    // Handed-init Lloyd walk (§2 row 174 — the PageRank full-walk
    // discipline applied to k-means): the TRAINING LOOP every
    // k-means-seeded index lane executes, replayed by the oracle
    // iteration by unrolled iteration from Walsh ±0.125 init — per-round
    // distances (10dp-dround'd terms, exact-decimal sums), argmins
    // (lowest-cid ties), exact-decimal mean updates, empty-cluster
    // pass-through. Sampled-seed lanes stay rows-only production paths;
    // THIS pins the Lloyd arithmetic they run. HASH-GREEN.
    Q("kmeans_handed_walk",
      (s, dir) => graft.sim.KMeansLloyd.lloydWalk(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          graft.sim.KMeansLloyd.walshInit(4, 64), iters = 2)
        .orderBy("cluster", "pos"),
      Some(s"""
        WITH ${graft.sim.KMeansLloyd.sqlLloydWalk("embeddings",
          graft.sim.KMeansLloyd.walshInit(4, 64), 2)}
        SELECT cluster, pos, centroid, n FROM kmfinal
        ORDER BY cluster, pos""")),

    // The walk's final per-vector assignment (§2 row 174): the cell map
    // an IVF built from this training would store — every vector's
    // cluster and exact-decimal squared distance replayed. HASH-GREEN.
    Q("kmeans_handed_assign",
      (s, dir) => graft.sim.KMeansLloyd.lloydAssignments(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          graft.sim.KMeansLloyd.walshInit(4, 64), iters = 2)
        .orderBy("vec_id"),
      Some(s"""
        WITH ${graft.sim.KMeansLloyd.sqlLloydWalk("embeddings",
          graft.sim.KMeansLloyd.walshInit(4, 64), 2)}
        ${graft.sim.KMeansLloyd.sqlLloydAssignSelect(2)}
        ORDER BY vec_id""")),

    // The FULLY-PINNED ANN route (§2 row 174 closes the loop): IVF
    // trained by the handed Lloyd walk, vectors assigned to its cells,
    // queries probing their nprobe=2 nearest cells by the SAME exact
    // distance chain, candidates reranked by exact cosine — train,
    // assign, probe, and search all recomputed by ONE oracle. The
    // sampled-seed IVF lanes remain rows-only production paths with
    // handed-component pins; this is the end-to-end verifiable twin.
    Q("ann_ivf_handed",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val init = graft.sim.KMeansLloyd.walshInit(4, 64)
        val cents = graft.sim.KMeansLloyd.lloydWalk(
          e, "vec_id", "embedding", init, iters = 2)
        val cells = graft.sim.KMeansLloyd.lloydAssignments(
            e, "vec_id", "embedding", init, iters = 2)
          .select(col("vec_id").as("neighbor_id"), col("cluster"))
        val queries = e.filter(col("vec_id") < 5)
        val probes = graft.sim.KMeansLloyd.probeCells(
            queries, "vec_id", "embedding", cents, nprobe = 2)
          .select(col("vec_id").as("query_id"), col("cluster"))
        val cand = probes.join(cells, Seq("cluster"))
          .select("query_id", "neighbor_id")
        val scored = cand
          .join(e.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("_vn")), Seq("neighbor_id"))
          .join(e.select(col("vec_id").as("query_id"),
            col("embedding").as("_vq")), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            Similarity.cosine(col("_vn"), col("_vq")).as("_cos"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("_cos").desc, col("neighbor_id"))
        scored.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 10)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("int").as("rank"),
            graft.Num.dround(col("_cos"), 6).as("cosine"))
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH ${graft.sim.KMeansLloyd.sqlLloydWalk("embeddings",
          graft.sim.KMeansLloyd.walshInit(4, 64), 2)},
        ivfcells AS (
          SELECT vid AS neighbor_id, cid AS cluster FROM (
            SELECT vid, cid,
              row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
            FROM kmd2) t WHERE rn = 1),
        ivfq AS (SELECT vec_id AS qid, CAST(pos AS INT) AS pos,
                   floor(CAST(xf AS DOUBLE) * 1e6 + 0.5) / 1e6 AS x
                 FROM (SELECT vec_id, unnest(embedding) AS xf,
                              unnest(range(len(embedding))) AS pos
                       FROM embeddings WHERE vec_id < 5)),
        ivfqd AS (
          SELECT q.qid, c.cluster AS cid,
                 sum(CAST(floor((q.x - c.centroid) * (q.x - c.centroid)
                   * 1e10 + 0.5) / 1e10 AS DECIMAL(38,10))) AS d
          FROM ivfq q JOIN kmfinal c ON q.pos = c.pos
          GROUP BY 1, 2),
        ivfprobe AS (
          SELECT qid AS query_id, cid AS cluster FROM (
            SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rn
            FROM ivfqd) t WHERE rn <= 2),
        ivfcand AS (
          SELECT p.query_id, a.neighbor_id
          FROM ivfprobe p JOIN ivfcells a ON a.cluster = p.cluster),
        ivfe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
        ivfscored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 list_dot_product(n.v, q.v) /
                   (sqrt(list_dot_product(n.v, n.v)) *
                    sqrt(list_dot_product(q.v, q.v))) AS cos_raw
          FROM ivfcand cand
          JOIN ivfe n ON n.vec_id = cand.neighbor_id
          JOIN ivfe q ON q.vec_id = cand.query_id),
        ivfranked AS (
          SELECT query_id, neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank,
                 ${Q.sqlDround("cos_raw", 6)} AS cosine
          FROM ivfscored)
        SELECT query_id, neighbor_id, rank, cosine FROM ivfranked
        WHERE rank <= 10 ORDER BY query_id, rank""")),

    // Handed-codebook PQ (r13 — the ann_ivf_handed precedent extended to
    // the ADC family): per-subspace Walsh ±0.125 codebooks are HANDED,
    // so the oracle replays ENCODE (every subspace distance + argmin),
    // the query LUT, and the ADC scan + rank — the asymmetric-distance
    // algebra the rows-only sampled-codebook PQ lanes execute, pinned
    // end to end. m=8 subspaces × ks=4 codes over the 64-dim embeddings.
    Q("ann_pq_handed",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        graft.sim.PqHanded.topK(e, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", m = 8, ks = 4, ds = 8, k = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH ${graft.sim.PqHanded.sqlEncodeCtes("embeddings", 8, 4, 8)},
        pqq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        ${graft.sim.PqHanded.sqlLutCtes("pqq", 8)}
        ${graft.sim.PqHanded.sqlAdcSelect(10)}
        ORDER BY query_id, rank""")),

    // Handed IVFADC (r13): the full two-level production layout —
    // handed-Lloyd coarse cells prune WHICH vectors score (nprobe=2),
    // handed PQ codes compress WHAT is scored — with train, assign,
    // probe, encode, LUT, and the candidate-scoped ADC scan ALL
    // recomputed by one oracle. The sampled-seed ivfpq lanes stay the
    // production path; this pins their end-to-end route.
    Q("ann_ivfpq_handed",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val init = graft.sim.KMeansLloyd.walshInit(4, 64)
        val cents = graft.sim.KMeansLloyd.lloydWalk(
          e, "vec_id", "embedding", init, iters = 2)
        val cells = graft.sim.KMeansLloyd.lloydAssignments(
            e, "vec_id", "embedding", init, iters = 2)
          .select(col("vec_id").as("neighbor_id"), col("cluster"))
        val queries = e.filter(col("vec_id") < 5)
        val probes = graft.sim.KMeansLloyd.probeCells(
            queries, "vec_id", "embedding", cents, nprobe = 2)
          .select(col("vec_id").as("query_id"), col("cluster"))
        val cand = probes.join(cells, Seq("cluster"))
          .select("query_id", "neighbor_id")
        graft.sim.PqHanded.topK(e, queries, "vec_id", "embedding",
            m = 8, ks = 4, ds = 8, k = 10, candidates = Some(cand))
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH ${graft.sim.KMeansLloyd.sqlLloydWalk("embeddings",
          graft.sim.KMeansLloyd.walshInit(4, 64), 2)},
        ivfcells AS (
          SELECT vid AS neighbor_id, cid AS cluster FROM (
            SELECT vid, cid,
              row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
            FROM kmd2) t WHERE rn = 1),
        ivfq AS (SELECT vec_id AS qid, CAST(pos AS INT) AS pos,
                   floor(CAST(xf AS DOUBLE) * 1e6 + 0.5) / 1e6 AS x
                 FROM (SELECT vec_id, unnest(embedding) AS xf,
                              unnest(range(len(embedding))) AS pos
                       FROM embeddings WHERE vec_id < 5)),
        ivfqd AS (
          SELECT q.qid, c.cluster AS cid,
                 sum(CAST(floor((q.x - c.centroid) * (q.x - c.centroid)
                   * 1e10 + 0.5) / 1e10 AS DECIMAL(38,10))) AS d
          FROM ivfq q JOIN kmfinal c ON q.pos = c.pos
          GROUP BY 1, 2),
        ivfprobe AS (
          SELECT qid AS query_id, cid AS cluster FROM (
            SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rn
            FROM ivfqd) t WHERE rn <= 2),
        ivfcand AS (
          SELECT p.query_id, a.neighbor_id
          FROM ivfprobe p JOIN ivfcells a ON a.cluster = p.cluster),
        ${graft.sim.PqHanded.sqlEncodeCtes("embeddings", 8, 4, 8)},
        pqq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        ${graft.sim.PqHanded.sqlLutCtes("pqq", 8)}
        ${graft.sim.PqHanded.sqlAdcSelect(10, Some("ivfcand"))}
        ORDER BY query_id, rank""")),

    // Portable SimHash fingerprints (§2 row 47's verifiable lane): the
    // 32-bit fingerprint TABLE itself is hash-compared — md5-prefix
    // token hashes, 32 signed bit sums, the positive-sum threshold —
    // so the Hamming family's fingerprint arithmetic is oracle-pinned;
    // the 64-bit xxhash64 lane (dedup_simhash) stays production.
    Q("dedup_simhash_portable_sig",
      (s, dir) => graft.dedup.PortableSimHash.signatureTable(
          Tables.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""
        WITH ${graft.dedup.PortableSimHash.sqlSimCte("documents")}
        SELECT doc_id, sig FROM sim ORDER BY doc_id""")),

    // Portable SimHash pairs on the one-word-substitution clone fixture
    // (dedup_simhash's): pigeonhole block join (8 blocks × 4 bits) +
    // bit_count(xor) distances at a TIGHT budget (Hamming ≤ 3 — a
    // 32-bit fingerprint passes loose budgets for ordinary same-domain
    // docs, so the tight budget is the informative one; the planted
    // clones concentrate at ≤ 3) — candidates, blocks, and every
    // Hamming value replayed. HASH-GREEN.
    Q("dedup_simhash_portable",
      (s, dir) => {
        val d = Tables.documents(s, dir).select("doc_id", "text")
        val clones = d.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "zzzz").as("text"))
        graft.dedup.PortableSimHash.pairs(d.unionByName(clones),
            "text", "doc_id", maxDist = 3, blocks = 8)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH scl AS (
          SELECT doc_id + 2000000 AS doc_id,
                 regexp_replace(text, '^\\S+', 'zzzz') AS text
          FROM documents WHERE doc_id % 10 = 0),
        scorpus AS (SELECT doc_id, text FROM documents
                    UNION ALL SELECT doc_id, text FROM scl),
        ${graft.dedup.PortableSimHash.sqlSimCte("scorpus")},
        ${graft.dedup.PortableSimHash.sqlPairsSelect(3, 8)}
        ORDER BY id_a, id_b""")),

    // Portable exact n-gram Jaccard (§2 row 48's verifiable lane):
    // candidates from the portable MinHash bands at threshold − 0.2,
    // then |A∩B| / |A∪B| over DISTINCT shingle strings — candidate
    // generation, gram sets, intersection counts, and the 4-dp ratio
    // all replayed. HASH-GREEN.
    Q("dedup_jaccard_portable",
      (s, dir) => graft.dedup.PortableMinHash.jaccardPairs(
          truncatedCorpus(s, dir), "text", "doc_id",
          n = 5, k = 32, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(s"""
        WITH $portableCorpusCte,
        ${graft.dedup.PortableMinHash.sqlSigCte("corpus", 5, 32)},
        ${graft.dedup.PortableMinHash.sqlPairsCte(32, 16, 0.3)},
        ${graft.dedup.PortableMinHash.sqlJaccardSelect(5, 0.5)}
        ORDER BY id_a, id_b""")),

    // Winnowing fingerprints (§2 row 152 — Schleimer et al. 2003, the
    // MOSS algorithm): the selected (doc, position, hash) set itself is
    // hash-compared — DuckDB replays gram building, the md5-prefix hash,
    // the arithmetic (min hash, rightmost pos) tie encode, the w-window
    // min, the partial-window short-doc rule, and the decode.
    Q("dedup_winnow",
      (s, dir) => Winnow.fingerprints(
          Tables.documents(s, dir), "doc_id", "text", k = 5, w = 4)
        .orderBy("doc_id", "fp_pos", "fp_hash"),
      Some(winnowSql)),

    // Winnowing overlap candidates (§2 row 152): doc pairs sharing >= 2
    // fingerprint hashes after the df-cap (fingerprints in > 16 docs are
    // boilerplate, dropped BEFORE the self-join — the MinHash mega-
    // cluster lesson as part of the oracle-pinned semantics).
    Q("dedup_winnow_pairs",
      (s, dir) => Winnow.overlapPairs(
          Tables.documents(s, dir), "doc_id", "text",
          k = 5, w = 4, minShared = 2, maxDf = 16)
        .orderBy("id_a", "id_b"),
      Some(s"""
        WITH $winnowCte,
        fp AS (SELECT DISTINCT doc_id, fp_hash FROM decoded),
        kept AS (SELECT fp_hash FROM fp GROUP BY fp_hash
                 HAVING count(*) <= 16),
        pruned AS (SELECT fp.doc_id, fp.fp_hash FROM fp JOIN kept USING (fp_hash))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*) AS n_shared
        FROM pruned a JOIN pruned b ON a.fp_hash = b.fp_hash
          AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2
        ORDER BY id_a, id_b"""))
  )

  /** DuckDB mirror of [[truncatedCorpus]], ending in
    * `corpus(doc_id, text)` — tokenization matches the Scala builder
    * exactly (raw split on whitespace, NO lower/trim: the clone text
    * keeps its case; downstream shingling lowercases on both sides). */
  private def portableCorpusCte: String = s"""
       pc_cl AS (
          SELECT doc_id + 2000000 AS doc_id,
                 array_to_string(l[1:greatest((len(l) * 4) // 5, 1)], ' ')
                   AS text
          FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS l
                FROM documents)
          WHERE doc_id % 10 = 0),
       corpus AS (SELECT doc_id, text FROM documents
                  UNION ALL SELECT doc_id, text FROM pc_cl)"""

  /** Shared DuckDB CTE chain ending in `decoded(doc_id, fp_pos, fp_hash)`
    * — the winnowing selection replayed verbatim (k=5, w=4); single owner
    * for both winnow queries. */
  private def winnowCte: String = {
    val k = 5; val w = 4
    val gram = (0 until k).map(i => s"l[i + $i]").mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS l
           FROM documents),
       grams AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             ${graft.ops.Hll.sqlH32(s"($gram)")} AS h
           FROM toks CROSS JOIN
             unnest(generate_series(1, len(l) - ${k - 1})) AS t(i)
           WHERE len(l) >= $k AND length($gram) > 0),
       win AS (SELECT doc_id, pos,
             min(${Winnow.sqlCode("h", "pos")}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
           FROM grams),
       decoded AS (SELECT DISTINCT doc_id,
             wmin // ${Winnow.PosBase} AS fp_hash,
             ${Winnow.PosMask} - (wmin % ${Winnow.PosBase}) AS fp_pos
           FROM win WHERE pos <= n_grams - $w OR pos = 0)"""
  }

  private def winnowSql: String =
    s"""
      WITH $winnowCte
      SELECT doc_id, fp_hash, fp_pos FROM decoded
      ORDER BY doc_id, fp_pos, fp_hash"""

  /** DuckDB mirror of the SQ8 coded-scan search over `embeddings` with
    * queries vec_id < 5 — replicates the kernel's exact summation
    * grouping (list_dot_product ≡ the sequential mul-add folds). Single
    * owner shared by ann_sq8 and ann_sq8_persisted, so the persisted
    * route is pinned value-identical to the direct one. */
  // def, not val: `all` above initializes first and captures this by name
  /** Shared by ann_hamming and ann_hamming_persisted (the sq8Oracle
    * precedent): integer Hamming distances recounted from raw float SIGNS
    * — the oracle never sees the packed byte layout. */
  private[queries] def hammingOracle: String = """
        WITH bits AS (
          SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                 CASE WHEN unnest(embedding) > 0 THEN 1 ELSE 0 END AS b
          FROM embeddings),
        ham AS (
          SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                 CAST(sum(CASE WHEN qb.b <> cb.b THEN 1 ELSE 0 END) AS INT) AS hamming
          FROM bits cb JOIN (SELECT * FROM bits WHERE vec_id < 5) qb USING (i)
          GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, neighbor_id, hamming,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY hamming, neighbor_id) AS INT) AS rank
          FROM ham)
        SELECT query_id, neighbor_id, rank, hamming FROM ranked
        WHERE rank <= 10 ORDER BY query_id, rank"""

  private[queries] def sq8Oracle: String = s"""
        WITH cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        st AS (SELECT vec_id, v, CAST(len(v) AS BIGINT) AS n_dims,
                 list_aggregate(v, 'min') AS mn, list_aggregate(v, 'max') AS mx
               FROM cv),
        cod AS (SELECT vec_id, n_dims, mn,
                 CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS scale,
                 list_transform(v, x -> least(255.0, greatest(0.0,
                   floor((x - mn) / (CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END) + 0.5)))) AS cd
               FROM st),
        corp AS (SELECT vec_id, n_dims, mn, scale, cd,
                  list_dot_product(cd, list_transform(cd, c -> 1.0)) AS sum_c,
                  list_dot_product(cd, cd) AS sum_c2
                FROM cod),
        qr AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
        qs AS (SELECT qid, qv,
                 list_dot_product(qv, list_transform(qv, x -> 1.0)) AS sq,
                 list_dot_product(qv, qv) AS nq2
               FROM qr),
        sc AS (SELECT qs.qid AS query_id, corp.vec_id AS neighbor_id,
                 (corp.mn * qs.sq + corp.scale * list_dot_product(qs.qv, corp.cd))
                   / (sqrt(qs.nq2) *
                      sqrt(CAST(corp.n_dims AS DOUBLE) * (corp.mn * corp.mn)
                        + 2.0 * corp.mn * corp.scale * corp.sum_c
                        + corp.scale * corp.scale * corp.sum_c2)) AS cos_raw
               FROM corp, qs
               WHERE qs.nq2 > 0
                 AND CAST(corp.n_dims AS DOUBLE) * (corp.mn * corp.mn)
                   + 2.0 * corp.mn * corp.scale * corp.sum_c
                   + corp.scale * corp.scale * corp.sum_c2 > 0),
        rk AS (SELECT query_id, neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank,
                 ${Q.sqlDround("cos_raw", 6)} AS cosine
               FROM sc)
        SELECT query_id, neighbor_id, rank, cosine FROM rk
        WHERE rank <= 10 ORDER BY query_id, rank"""

}
