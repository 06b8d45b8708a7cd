package graft.drift

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Token-level vocabulary drift between two corpus snapshots — the
  * release-over-release comparison every curated-corpus report carries
  * (what vocabulary appeared, what vanished, which terms shifted mass):
  * the TEXT counterpart of the numeric drift family (PSI/KS compare a
  * numeric column's distributions; this compares the token distribution
  * itself). Per top-K term (by combined count, union of both sides):
  * counts, Laplace-smoothed probabilities over the UNION vocabulary,
  * log-ratio, and the term's PSI contribution — Σ psi_term over the
  * full vocabulary is the corpus-level drift score, and the extreme
  * log-ratios name the drivers.
  *
  * Cross-engine exactness: token counts, totals and the union-vocab size
  * are exact longs; each probability is ONE IEEE divide of exact
  * integers ((c + 1) / (total + V)); log-ratio and PSI contribution are
  * a handful of IEEE ops + ln on identical operands (the ln-on-
  * deterministic-args precedent), 6dp dround'ed.
  *
  * 100 TB posture: two map-side-combined keyed counts (only (term,
  * partial count) ever shuffles — corpus text never does), one
  * term-keyed full-outer join, two 1-row scalar frames broadcast, and a
  * top-K sort-limit (per-partition TakeOrdered before the single merge).
  */
object VocabDrift {

  /** Top-K drift frame: (term, c_old, c_new, p_old, p_new, log_ratio,
    * psi_term), top-K by combined count with ties on the term string.
    * `smooth` is the Laplace count added to BOTH sides (default 1 —
    * vanished/appeared terms get a finite, direction-correct log-ratio
    * instead of ±∞). */
  def vocabDrift(oldDf: DataFrame, newDf: DataFrame, textCol: String,
                 topK: Int = 100, smooth: Int = 1): DataFrame = {
    require(topK >= 1 && topK <= 100000, s"topK must be in [1, 1e5], got $topK")
    require(smooth >= 1, s"smooth must be >= 1, got $smooth")

    def counts(df: DataFrame, out: String): DataFrame = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as(out))

    val co = counts(oldDf, "c_old")
    val cn = counts(newDf, "c_new")
    // one shuffle feeds the scalar totals AND the top-K; the returned
    // plan leaves it cached ([[graft.Cached]])
    val joined = graft.Cached.hold(co.join(cn, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))).df

    // Exact scalar state: totals per side + the union-vocab size.
    val totals = joined.agg(
      sum("c_old").as("t_old"), sum("c_new").as("t_new"),
      count(lit(1)).as("v"))

    val top = joined
      .orderBy((col("c_old") + col("c_new")).desc, col("term"))
      .limit(topK)

    val pOld = (col("c_old") + smooth).cast("double") /
      (col("t_old") + lit(smooth) * col("v")).cast("double")
    val pNew = (col("c_new") + smooth).cast("double") /
      (col("t_new") + lit(smooth) * col("v")).cast("double")
    top.crossJoin(broadcast(totals))
      .select(col("term"), col("c_old"), col("c_new"),
        graft.Num.dround(pOld, 8).as("p_old"),
        graft.Num.dround(pNew, 8).as("p_new"),
        graft.Num.dround(log(pNew / pOld), 6).as("log_ratio"),
        graft.Num.dround((pNew - pOld) * log(pNew / pOld), 6).as("psi_term"))
  }

  /** Truncated rank-biased overlap (Webber, Moffat & Zobel 2010) of the
    * two snapshots' top-`depth` TERM RANKINGS — the ranking-stability
    * companion of [[vocabDrift]]'s distribution comparison: PSI asks
    * "did token MASS move?"; RBO asks "did the top-k LIST churn?" —
    * robust to total-count shifts that leave the order intact, and
    * top-weighted (a swap at rank 2 costs more than one at rank 90, the
    * persistence parameter `p` setting how fast depth discounts).
    *
    * RBO_trunc = Σ_{d=1..D} (1−p)·p^{d−1}·|A_d ∩ B_d|/d, computed
    * relationally: a term in both top-D lists ENTERS the intersection at
    * depth e = max(rank_A, rank_B), so Σ_d w_d·X_d regroups as
    * Σ_e c_e·W_e with W_e = Σ_{d=e..D} (1−p)p^{d−1}/d — the W_e are
    * DRIVER-COMPUTED constants both engines read as identical literals
    * (no cross-engine pow), the c_e exact longs, products 12dp-dround'd
    * into exact DECIMAL(38,12). Ranks break ties on the term string.
    * Output: one row (depth, n_common, rbo 6dp).
    *
    * 100 TB: two map-side-combined term counts; the rank window runs
    * over the VOCABULARY frame (domain-bounded, the distinct-value CDF
    * convention), and everything after the depth cut is ≤ D rows. */
  def rbo(oldDf: DataFrame, newDf: DataFrame, textCol: String,
          p: Double = 0.9, depth: Int = 100): DataFrame = {
    require(p > 0 && p < 1, s"persistence p must be in (0, 1), got $p")
    require(depth >= 1 && depth <= 10000,
      s"depth must be in [1, 1e4], got $depth")
    import org.apache.spark.sql.expressions.Window
    val spark = oldDf.sparkSession
    import spark.implicits._
    def ranks(df: DataFrame): DataFrame = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("_c"))
      .withColumn("_r", row_number().over(
        Window.orderBy(col("_c").desc, col("term"))))
      .where(col("_r") <= depth)
      .select(col("term"), col("_r"))
    val ra = ranks(oldDf).withColumnRenamed("_r", "_ra")
    val rb = ranks(newDf).withColumnRenamed("_r", "_rb")
    val ce = ra.join(rb, "term")
      .select(greatest(col("_ra"), col("_rb")).as("_e"))
      .groupBy("_e").agg(count(lit(1)).as("_ce"))
    val wts = rboWeights(p, depth).toDF("_e", "_w")
    val term = graft.Num.dround(col("_ce").cast("double") * col("_w"), 12)
    ce.join(broadcast(wts), Seq("_e"))
      .agg(sum("_ce").as("n_common"),
        sum(term.cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .as("_s"))
      .select(lit(depth).as("depth"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        graft.Num.dround(coalesce(col("_s"), lit(0)).cast("double"), 6)
          .as("rbo"))
  }

  /** The regrouped RBO weights W_e = Σ_{d=e..D} (1−p)p^{d−1}/d —
    * driver-computed once; the SQL mirror interpolates the SAME values. */
  private[drift] def rboWeights(p: Double, depth: Int): Seq[(Int, Double)] =
    (1 to depth).map { e =>
      e -> (e to depth).map(d => (1 - p) * math.pow(p, d - 1) / d).sum
    }

  /** DuckDB mirror of [[rbo]] over two text relations. */
  def sqlRbo(oldRel: String, newRel: String, p: Double, depth: Int): String = {
    def cnt(rel: String) =
      s"""SELECT t.term, count(*) AS c
          FROM $rel CROSS JOIN
            unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(term)
          WHERE length(t.term) > 0 GROUP BY 1"""
    val wvals = rboWeights(p, depth)
      .map { case (e, w) => s"($e, CAST($w AS DOUBLE))" }.mkString(", ")
    s"""rca AS (${cnt(oldRel)}),
       rcb AS (${cnt(newRel)}),
       rra AS (SELECT term, r FROM (
           SELECT term, row_number() OVER (ORDER BY c DESC, term) AS r
           FROM rca) t WHERE r <= $depth),
       rrb AS (SELECT term, r FROM (
           SELECT term, row_number() OVER (ORDER BY c DESC, term) AS r
           FROM rcb) t WHERE r <= $depth),
       rce AS (SELECT greatest(a.r, b.r) AS e, count(*) AS ce
               FROM rra a JOIN rrb b USING (term) GROUP BY 1),
       rwt(e, w) AS (VALUES $wvals),
       ragg AS (SELECT CAST(sum(ce) AS BIGINT) AS n_common,
                  sum(CAST(floor(CAST(ce AS DOUBLE) * w * 1e12 + 0.5) / 1e12
                    AS DECIMAL(38,12))) AS s
                FROM rce JOIN rwt USING (e))
       SELECT $depth AS depth, coalesce(n_common, 0) AS n_common,
              floor(CAST(coalesce(s, 0) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS rbo
       FROM ragg"""
  }

  /** DuckDB mirror over two text relations (each exposing `text`),
    * parameterized by the same topK/smooth. Single oracle owner. */
  def sqlVocabDrift(oldRel: String, newRel: String,
                    topK: Int, smooth: Int): String = {
    def cnt(rel: String, out: String) =
      s"""SELECT t.term, count(*) AS $out
          FROM $rel CROSS JOIN
            unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(term)
          WHERE length(t.term) > 0 GROUP BY 1"""
    val pOld = s"(CAST(c_old + $smooth AS DOUBLE) / CAST(t_old + $smooth * v AS DOUBLE))"
    val pNew = s"(CAST(c_new + $smooth AS DOUBLE) / CAST(t_new + $smooth * v AS DOUBLE))"
    s"""co AS (${cnt(oldRel, "c_old")}),
       cn AS (${cnt(newRel, "c_new")}),
       joined AS (
         SELECT coalesce(co.term, cn.term) AS term,
                coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
         FROM co FULL OUTER JOIN cn ON co.term = cn.term),
       totals AS (SELECT sum(c_old) AS t_old, sum(c_new) AS t_new,
                         count(*) AS v
                  FROM joined),
       top AS (SELECT * FROM joined
               ORDER BY (c_old + c_new) DESC, term LIMIT $topK)
       SELECT term, c_old, c_new,
              floor($pOld * 1e8 + 0.5) / 1e8 AS p_old,
              floor($pNew * 1e8 + 0.5) / 1e8 AS p_new,
              floor(ln($pNew / $pOld) * 1e6 + 0.5) / 1e6 AS log_ratio,
              floor(($pNew - $pOld) * ln($pNew / $pOld) * 1e6 + 0.5) / 1e6
                AS psi_term
       FROM top CROSS JOIN totals"""
  }
}
