package graft.queries

import graft.Tables
import graft.audit._
import graft.dict.DataDictionary
import graft.drift.Drift
import graft.impute._
import graft.outliers.{Outliers, ZScore}
import graft.quality.{InRange, InSet, NotNull}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-checked queries for SURVEY §2.1 rows 28-34 (imputation, final
  * audit, health score, drift, data dictionary). Nulls are synthesized
  * deterministically (testdata is clean). */
object AuditQueries {

  /** events with value nulled on every 10th event_id. */
  private def eventsWithNulls(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("value",
      when(col("event_id") % 10 === 0, lit(null)).otherwise(col("value")))

  private val eventsNullSql =
    "SELECT event_id, event_type, CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS value FROM events"

  val all: Seq[Q] = Seq(
    Q("impute_mean",
      (s, dir) => Imputer.impute(eventsWithNulls(s, dir), Map("value" -> Mean))
        .select(col("event_id"), graft.Num.dround(col("value"), 2).as("value"))
        .orderBy("event_id"),
      Some(s"""
        WITH d AS ($eventsNullSql),
        st AS (SELECT CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value) AS fill FROM d)
        SELECT event_id, floor((coalesce(value, fill)) * 1e2 + 0.5) / 1e2 AS value
        FROM d, st ORDER BY event_id""")),

    // Cohort-aware fill: per-event_type means instead of the global one
    // (pandas groupby().transform semantics — all-null groups keep their
    // nulls, null group keys match no group).
    Q("impute_mean_by",
      (s, dir) => Imputer.imputeBy(eventsWithNulls(s, dir), "event_type",
          Map("value" -> Mean))
        .select(col("event_id"), graft.Num.dround(col("value"), 2).as("value"))
        .orderBy("event_id"),
      Some(s"""
        WITH d AS ($eventsNullSql),
        st AS (SELECT event_type,
                 CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value) AS fill
               FROM d GROUP BY event_type)
        SELECT event_id, floor((coalesce(value, fill)) * 1e2 + 0.5) / 1e2 AS value
        FROM d LEFT JOIN st USING (event_type) ORDER BY event_id""")),

    Q("impute_median",
      (s, dir) => Imputer.impute(eventsWithNulls(s, dir), Map("value" -> Median))
        .select(col("event_id"), graft.Num.dround(col("value"), 2).as("value"))
        .orderBy("event_id"),
      Some(s"""
        WITH d AS ($eventsNullSql),
        st AS (SELECT quantile_cont(CAST(value AS DOUBLE), 0.5) AS fill FROM d)
        SELECT event_id, floor((coalesce(value, fill)) * 1e2 + 0.5) / 1e2 AS value
        FROM d, st ORDER BY event_id""")),

    Q("impute_mode",
      (s, dir) => {
        val o = Tables.orders(s, dir).withColumn("o_orderpriority",
          when(col("o_orderkey") % 11 === 0, lit(null))
            .otherwise(col("o_orderpriority")))
        Imputer.impute(o, Map("o_orderpriority" -> Mode))
          .select("o_orderkey", "o_orderpriority").orderBy("o_orderkey")
      },
      Some("""
        WITH d AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderpriority END AS o_orderpriority
          FROM orders),
        st AS (
          SELECT o_orderpriority AS fill FROM (
            SELECT o_orderpriority, count(*) AS c FROM d
            WHERE o_orderpriority IS NOT NULL
            GROUP BY 1 ORDER BY c DESC, o_orderpriority LIMIT 1))
        SELECT o_orderkey, coalesce(d.o_orderpriority, st.fill) AS o_orderpriority
        FROM d, st ORDER BY o_orderkey""")),

    Q("impute_constant",
      (s, dir) => {
        val c = Tables.customer(s, dir).withColumn("c_mktsegment",
          when(col("c_custkey") % 9 === 0, lit(null)).otherwise(col("c_mktsegment")))
        Imputer.impute(c, Map("c_mktsegment" -> Constant("UNKNOWN")))
          .select("c_custkey", "c_mktsegment").orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey,
               CASE WHEN c_custkey % 9 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS c_mktsegment
        FROM customer ORDER BY c_custkey""")),

    Q("impute_changelog",
      (s, dir) => {
        val e = eventsWithNulls(s, dir).withColumn("event_type",
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("event_type")))
        Imputer.changelog(e, Map("value" -> Mean, "event_type" -> Mode))
      },
      Some(s"""
        WITH d AS (
          SELECT event_id,
                 CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS event_type,
                 CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS value
          FROM events),
        mode_et AS (
          SELECT event_type AS fill FROM (
            SELECT event_type, count(*) AS c FROM d WHERE event_type IS NOT NULL
            GROUP BY 1 ORDER BY c DESC, event_type LIMIT 1)),
        mean_v AS (
          SELECT CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value) AS fill FROM d)
        SELECT * FROM (
          SELECT 'event_type' AS column_name, 'mode' AS strategy,
                 (SELECT fill FROM mode_et) AS fill_value,
                 CAST((SELECT count(*) - count(event_type) FROM d) AS BIGINT) AS nulls_filled
          UNION ALL
          SELECT 'value', 'mean',
                 CAST(floor(((SELECT fill FROM mean_v)) * 1e4 + 0.5) / 1e4 AS VARCHAR),
                 CAST((SELECT count(*) - count(value) FROM d) AS BIGINT)
        ) ORDER BY column_name""")),

    Q("audit_final",
      (s, dir) => {
        val (edited, _) = FinalAudit.applyEdits(Tables.customer(s, dir),
          FinalEditsConfig(
            dropColumns = Seq("c_nationkey"),
            renameColumns = Map("c_name" -> "name"),
            coerceTypes = Map("c_custkey" -> "string")))
        FinalAudit.certify(edited, Seq(
          NotNull("name"),
          InSet("c_mktsegment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY")),
          InRange("c_acctbal", -1000.0, 10000.0)))
      },
      Some("""
        SELECT * FROM (
          SELECT 'not_null' AS rule, 'name' AS column_name,
                 CAST(coalesce(sum(CASE WHEN c_name IS NULL THEN 1 END), 0) AS BIGINT) AS violation_count,
                 coalesce(sum(CASE WHEN c_name IS NULL THEN 1 END), 0) = 0 AS passed
          FROM customer
          UNION ALL
          SELECT 'categorical_values', 'c_mktsegment',
                 CAST(coalesce(sum(CASE WHEN c_mktsegment IS NOT NULL AND c_mktsegment NOT IN
                   ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY') THEN 1 END), 0) AS BIGINT),
                 coalesce(sum(CASE WHEN c_mktsegment IS NOT NULL AND c_mktsegment NOT IN
                   ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY') THEN 1 END), 0) = 0
          FROM customer
          UNION ALL
          SELECT 'numeric_range', 'c_acctbal',
                 CAST(coalesce(sum(CASE WHEN c_acctbal IS NOT NULL
                   AND NOT (c_acctbal BETWEEN -1000.0 AND 10000.0) THEN 1 END), 0) AS BIGINT),
                 coalesce(sum(CASE WHEN c_acctbal IS NOT NULL
                   AND NOT (c_acctbal BETWEEN -1000.0 AND 10000.0) THEN 1 END), 0) = 0
          FROM customer
        ) ORDER BY rule, column_name""")),

    Q("health_score",
      (s, dir) => {
        val o = Tables.orders(s, dir).withColumn("o_totalprice",
          when(col("o_orderkey") % 17 === 0, lit(null)).otherwise(col("o_totalprice")))
        val rules = Seq(
          InSet("o_orderstatus", Seq("F", "O")),
          InRange("o_totalprice", 0.0, 300000.0))
        val det = Outliers.detect(o, Map("o_totalprice" -> ZScore(3.0)))
        HealthScore.compute(o, Seq("o_totalprice", "o_custkey"), rules,
          Seq("o_custkey", "o_orderstatus"), det.flagged)
      },
      Some("""
        WITH d AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_totalprice END AS o_totalprice
          FROM orders),
        nr AS (
          SELECT ((count(*) - count(o_totalprice)) + (count(*) - count(o_custkey)))
                 / (count(*) * 2.0) AS null_rate FROM d),
        cov AS (
          SELECT (count(*) - coalesce(sum(CASE WHEN
              (o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O'))
              OR (o_totalprice IS NOT NULL AND NOT (o_totalprice BETWEEN 0.0 AND 300000.0))
              THEN 1 END), 0)) * 1.0 / count(*) AS pass_rate FROM d),
        dup AS (
          SELECT floor((coalesce(sum(CASE WHEN cnt > 1 THEN cnt END), 0) * 100.0 / sum(cnt)) * 1e2 + 0.5) / 1e2 / 100.0 AS dup_ratio
          FROM (SELECT o_custkey, o_orderstatus, count(*) AS cnt FROM d GROUP BY 1, 2)),
        ob AS (
          SELECT avg(CAST(o_totalprice AS DOUBLE)) AS mu,
                 stddev_samp(CAST(o_totalprice AS DOUBLE)) AS sd FROM d),
        outl AS (
          SELECT coalesce(sum(CASE WHEN o_totalprice < mu - 3.0*sd
              OR o_totalprice > mu + 3.0*sd THEN 1 END), 0) * 1.0 / count(*) AS outlier_ratio
          FROM d, ob)
        SELECT floor(((1.0 - null_rate)*100*0.40 + pass_rate*100*0.30
                 + (1.0 - dup_ratio)*100*0.15 + (1.0 - outlier_ratio)*100*0.15) * 1e1 + 0.5) / 1e1 AS overall_score,
               CASE WHEN floor(((1.0 - null_rate)*100*0.40 + pass_rate*100*0.30
                 + (1.0 - dup_ratio)*100*0.15 + (1.0 - outlier_ratio)*100*0.15) * 1e1 + 0.5) / 1e1 < 70 THEN 'red'
                    WHEN floor(((1.0 - null_rate)*100*0.40 + pass_rate*100*0.30
                 + (1.0 - dup_ratio)*100*0.15 + (1.0 - outlier_ratio)*100*0.15) * 1e1 + 0.5) / 1e1 < 90 THEN 'yellow'
                    ELSE 'green' END AS status,
               floor(((1.0 - null_rate)*100) * 1e1 + 0.5) / 1e1 AS completeness,
               floor((pass_rate*100) * 1e1 + 0.5) / 1e1 AS validity,
               floor(((1.0 - dup_ratio)*100) * 1e1 + 0.5) / 1e1 AS uniqueness,
               floor(((1.0 - outlier_ratio)*100) * 1e1 + 0.5) / 1e1 AS consistency
        FROM nr, cov, dup, outl""")),

    Q("drift_schema",
      (s, dir) => {
        val base = Tables.customer(s, dir)
        val target = base.drop("c_acctbal")
          .withColumn("c_nationkey", col("c_nationkey").cast("bigint"))
          .withColumn("new_flag", lit(1))
        Drift.schemaDrift(base, target)
      },
      Some("""
        SELECT * FROM (VALUES
          ('added_column', 'new_flag', CAST(NULL AS VARCHAR), 'int'),
          ('dtype_change', 'c_nationkey', 'int', 'bigint'),
          ('removed_column', 'c_acctbal', 'double', CAST(NULL AS VARCHAR))
        ) t(change, column_name, base_dtype, target_dtype)
        ORDER BY change, column_name""")),

    Q("drift_numeric",
      (s, dir) => {
        val base = Tables.lineitem(s, dir)
        Drift.numericDrift(base, base.filter(col("l_quantity") > 25))
      },
      Some {
        val cols = Seq("l_discount", "l_extendedprice", "l_linenumber",
          "l_orderkey", "l_partkey", "l_quantity", "l_suppkey", "l_tax")
        cols.map { c =>
          s"""SELECT '$c' AS column_name,
                floor(((SELECT CAST(sum(CAST($c AS DECIMAL(30,6))) AS DOUBLE)/count($c) FROM lineitem)) * 1e4 + 0.5) / 1e4 AS base_mean,
                floor(((SELECT CAST(sum(CAST($c AS DECIMAL(30,6))) AS DOUBLE)/count($c) FROM lineitem WHERE l_quantity > 25)) * 1e4 + 0.5) / 1e4 AS target_mean,
                floor((abs((SELECT CAST(sum(CAST($c AS DECIMAL(30,6))) AS DOUBLE)/count($c) FROM lineitem WHERE l_quantity > 25)
                    - (SELECT CAST(sum(CAST($c AS DECIMAL(30,6))) AS DOUBLE)/count($c) FROM lineitem))
                  / (abs((SELECT CAST(sum(CAST($c AS DECIMAL(30,6))) AS DOUBLE)/count($c) FROM lineitem)) + 1e-9)) * 1e4 + 0.5) / 1e4 AS diff_pct"""
        }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")
      }),

    // PSI over o_totalprice: base = pre-1998 orders, target = the rest.
    Q("drift_psi",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        Drift.psi(
          o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
          "o_totalprice", bins = 10)
      },
      Some("""
        WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
                      WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL),
        tgt AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
                WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL),
        bounds AS (SELECT min(x) AS lo, max(x) AS hi, CAST(count(x) AS DOUBLE) AS nb FROM base),
        nt AS (SELECT CAST(count(x) AS DOUBLE) AS n FROM tgt),
        bb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM base, bounds GROUP BY 1),
        tb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM tgt, bounds GROUP BY 1),
        bins AS (SELECT CAST(g AS INT) AS bin_id FROM generate_series(0, 9) t(g)),
        j AS (SELECT b.bin_id,
                     CAST(coalesce(bb.c, 0) AS DOUBLE) / nb AS bp,
                     CAST(coalesce(tb.c, 0) AS DOUBLE) / n AS tp
              FROM bins b LEFT JOIN bb USING (bin_id) LEFT JOIN tb USING (bin_id), bounds, nt),
        terms AS (SELECT bin_id, bp, tp,
                         floor((greatest(tp, 1e-6) - greatest(bp, 1e-6))
                             * ln(greatest(tp, 1e-6) / greatest(bp, 1e-6)) * 1e6 + 0.5) / 1e6 AS psi_term
                  FROM j)
        SELECT bin_id,
               floor(bp * 1e6 + 0.5) / 1e6 AS base_pct,
               floor(tp * 1e6 + 0.5) / 1e6 AS target_pct,
               psi_term,
               CAST((SELECT sum(CAST(psi_term AS DECIMAL(38,6))) FROM terms) AS DOUBLE) AS psi_total
        FROM terms ORDER BY bin_id""")),

    // Bounded-divergence pack (Jensen-Shannon / Hellinger / total
    // variation) over the SAME split and binning as drift_psi — the
    // ε-free complements PSI dashboards carry (every term well-defined
    // at zero mass, JS bounded by ln 2). One side-tagged counting pass;
    // totals are window sums over the bin-sized frame.
    Q("drift_divergence",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        Drift.divergences(
          o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
          "o_totalprice", bins = 10)
      },
      Some("""
        WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
                      WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL),
        tgt AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
                WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL),
        bounds AS (SELECT min(x) AS lo, max(x) AS hi, CAST(count(x) AS DOUBLE) AS nb FROM base),
        nt AS (SELECT CAST(count(x) AS DOUBLE) AS n FROM tgt),
        bb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM base, bounds GROUP BY 1),
        tb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM tgt, bounds GROUP BY 1),
        bins AS (SELECT CAST(g AS INT) AS bin_id FROM generate_series(0, 9) t(g)),
        j AS (SELECT b.bin_id,
                     CAST(coalesce(bb.c, 0) AS DOUBLE) / nb AS bp,
                     CAST(coalesce(tb.c, 0) AS DOUBLE) / n AS tp
              FROM bins b LEFT JOIN bb USING (bin_id) LEFT JOIN tb USING (bin_id), bounds, nt),
        terms AS (SELECT bin_id, bp, tp,
                         floor((0.5 * (CASE WHEN bp > 0 THEN bp * ln(bp / ((bp + tp) / 2.0)) ELSE 0.0 END)
                              + 0.5 * (CASE WHEN tp > 0 THEN tp * ln(tp / ((bp + tp) / 2.0)) ELSE 0.0 END)) * 1e6 + 0.5) / 1e6 AS js_term,
                         floor(((sqrt(bp) - sqrt(tp)) * (sqrt(bp) - sqrt(tp))) * 1e6 + 0.5) / 1e6 AS hell_term,
                         floor((0.5 * abs(bp - tp)) * 1e6 + 0.5) / 1e6 AS tv_term
                  FROM j)
        SELECT bin_id,
               floor(bp * 1e6 + 0.5) / 1e6 AS base_pct,
               floor(tp * 1e6 + 0.5) / 1e6 AS target_pct,
               js_term, hell_term, tv_term,
               CAST((SELECT sum(CAST(js_term AS DECIMAL(38,6))) FROM terms) AS DOUBLE) AS js_div,
               floor(sqrt(0.5 * CAST((SELECT sum(CAST(hell_term AS DECIMAL(38,6))) FROM terms) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS hellinger,
               CAST((SELECT sum(CAST(tv_term AS DECIMAL(38,6))) FROM terms) AS DOUBLE) AS tv_dist
        FROM terms ORDER BY bin_id""")),

    // Streaming PSI drift monitor, batch-degenerated: the reference is
    // frozen from the first week (dimension-sized snapshot — bins
    // literal doubles baked into the plan, NO stream-side join), then
    // per-day windows of the rest score against it with one stateful
    // aggregation of conditional bin counters. The identical plan runs
    // on a readStream source (StreamingSpec drives it live); the oracle
    // recomputes reference + windows + the psi-term discipline in SQL.
    Q("events_streaming_psi",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val (lo, hi, props) = Drift.psiReference(
          e.filter(col("ts") < lit("2024-01-08").cast("timestamp")),
          "value", bins = 10)
        Drift.psiByWindow(
          e.filter(col("ts") >= lit("2024-01-08").cast("timestamp")),
          "ts", "value", lo, hi, props, windowDur = "1 day")
          .orderBy("window_start")
      },
      Some("""
        WITH base AS (SELECT CAST(value AS DOUBLE) AS x FROM events
                      WHERE ts < TIMESTAMP '2024-01-08' AND value IS NOT NULL),
        bounds AS (SELECT min(x) AS lo, max(x) AS hi, CAST(count(x) AS DOUBLE) AS nb FROM base),
        bb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM base, bounds GROUP BY 1),
        grid AS (SELECT CAST(g AS INT) AS bin_id FROM generate_series(0, 9) t(g)),
        bprops AS (SELECT grid.bin_id, CAST(coalesce(bb.c, 0) AS DOUBLE) / (SELECT nb FROM bounds) AS bp
                   FROM grid LEFT JOIN bb USING (bin_id)),
        tgt AS (SELECT time_bucket(INTERVAL '1 day', ts) AS ws, CAST(value AS DOUBLE) AS x
                FROM events WHERE ts >= TIMESTAMP '2024-01-08' AND value IS NOT NULL),
        tb AS (SELECT ws, CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM tgt, bounds GROUP BY 1, 2),
        wn AS (SELECT ws, CAST(sum(c) AS BIGINT) AS n FROM tb GROUP BY 1),
        cells AS (SELECT wn.ws, grid.bin_id,
                         CAST(coalesce(tb.c, 0) AS DOUBLE) / wn.n AS tp, bprops.bp
                  FROM wn CROSS JOIN grid
                       LEFT JOIN tb ON tb.ws = wn.ws AND tb.bin_id = grid.bin_id
                       JOIN bprops ON bprops.bin_id = grid.bin_id),
        terms AS (SELECT ws, floor((greatest(tp, 1e-6) - greatest(bp, 1e-6))
                                 * ln(greatest(tp, 1e-6) / greatest(bp, 1e-6)) * 1e6 + 0.5) / 1e6 AS psi_term
                  FROM cells)
        SELECT t.ws AS window_start, t.ws + INTERVAL '1 day' AS window_end,
               wn.n AS n,
               CAST(sum(CAST(t.psi_term AS DECIMAL(38,6))) AS DOUBLE) AS psi_total
        FROM terms t JOIN wn ON wn.ws = t.ws
        GROUP BY t.ws, wn.n
        ORDER BY window_start""")),

    // Per-column PSI sweep on the era split — one melted pass scoring
    // every feature; the oracle runs the single-column chain per column
    // (generated from one fragment) and unions the totals.
    Q("drift_psi_all",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        Drift.psiAll(
          o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
          Seq("o_totalprice", "o_custkey"), bins = 10)
      },
      Some {
        def colBlock(c: String): String = s"""
        (WITH base AS (SELECT CAST($c AS DOUBLE) AS x FROM orders
                       WHERE o_orderdate < TIMESTAMP '1998-01-01' AND $c IS NOT NULL),
        tgt AS (SELECT CAST($c AS DOUBLE) AS x FROM orders
                WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND $c IS NOT NULL),
        bounds AS (SELECT min(x) AS lo, max(x) AS hi, CAST(count(x) AS DOUBLE) AS nb FROM base),
        nt AS (SELECT CAST(count(x) AS DOUBLE) AS n FROM tgt),
        bb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM base, bounds GROUP BY 1),
        tb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM tgt, bounds GROUP BY 1),
        bins AS (SELECT CAST(g AS INT) AS bin_id FROM generate_series(0, 9) t(g)),
        j AS (SELECT b.bin_id,
                     CAST(coalesce(bb.c, 0) AS BIGINT) AS bc,
                     CAST(coalesce(tb.c, 0) AS BIGINT) AS tc,
                     CAST(coalesce(bb.c, 0) AS DOUBLE) / nb AS bp,
                     CAST(coalesce(tb.c, 0) AS DOUBLE) / n AS tp
              FROM bins b LEFT JOIN bb USING (bin_id) LEFT JOIN tb USING (bin_id), bounds, nt),
        terms AS (SELECT bc, tc,
                         floor((greatest(tp, 1e-6) - greatest(bp, 1e-6))
                             * ln(greatest(tp, 1e-6) / greatest(bp, 1e-6)) * 1e6 + 0.5) / 1e6 AS psi_term
                  FROM j)
        SELECT '$c' AS column_name,
               CAST(sum(bc) AS BIGINT) AS n_base,
               CAST(sum(tc) AS BIGINT) AS n_target,
               CAST(sum(CAST(psi_term AS DECIMAL(38,6))) AS DOUBLE) AS psi_total
        FROM terms)"""
        Seq("o_totalprice", "o_custkey").map(colBlock)
          .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY column_name")
      }),

    // PSI per month vs a fixed 1996 reference — the drift dashboard's
    // time-series form; same grid for every period so totals compare.
    Q("drift_psi_timeseries",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val base = o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val target = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .withColumn("period",
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int"))
        Drift.psiByPeriod(base, target, "o_totalprice", "period", bins = 10)
      },
      Some("""
        WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate < TIMESTAMP '1997-01-01'
                        AND o_totalprice IS NOT NULL),
        tgt AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS period,
                       CAST(o_totalprice AS DOUBLE) AS x
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_totalprice IS NOT NULL),
        bounds AS (SELECT min(x) AS lo, max(x) AS hi, CAST(count(x) AS DOUBLE) AS nb FROM base),
        bb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM base, bounds GROUP BY 1),
        tb AS (SELECT period,
                      CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM tgt, bounds GROUP BY 1, 2),
        periods AS (SELECT DISTINCT period FROM tb),
        bins AS (SELECT CAST(g AS INT) AS bin_id FROM generate_series(0, 9) t(g)),
        cells AS (
          SELECT p.period, b.bin_id,
                 CAST(coalesce(tb.c, 0) AS BIGINT) AS target_cnt,
                 CAST(coalesce(bb.c, 0) AS DOUBLE) / nb AS bp
          FROM periods p CROSS JOIN bins b
          LEFT JOIN tb ON tb.period = p.period AND tb.bin_id = b.bin_id
          LEFT JOIN bb ON bb.bin_id = b.bin_id, bounds),
        terms AS (
          SELECT period, target_cnt, bp,
                 CAST(target_cnt AS DOUBLE)
                   / sum(target_cnt) OVER (PARTITION BY period) AS tp
          FROM cells),
        scored AS (
          SELECT period, target_cnt,
                 floor((greatest(tp, 1e-6) - greatest(bp, 1e-6))
                     * ln(greatest(tp, 1e-6) / greatest(bp, 1e-6)) * 1e6 + 0.5) / 1e6 AS psi_term
          FROM terms)
        SELECT period, CAST(sum(target_cnt) AS BIGINT) AS n_target,
               CAST(sum(CAST(psi_term AS DECIMAL(38,6))) AS DOUBLE) AS psi_total
        FROM scored GROUP BY period ORDER BY period""")),

    // Bounded-divergence pack per month vs the fixed 1996 reference
    // (r14): JS/Hellinger/TV get the same time-series axis PSI/KS/CvM
    // already have — the drift-dashboard family closed symmetrically,
    // off the same base-bounds grid so totals compare across periods.
    Q("drift_divergence_timeseries",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val base = o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val target = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .withColumn("period",
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int"))
        Drift.divergencesByPeriod(base, target, "o_totalprice", "period", bins = 10)
      },
      Some("""
        WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate < TIMESTAMP '1997-01-01'
                        AND o_totalprice IS NOT NULL),
        tgt AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS period,
                       CAST(o_totalprice AS DOUBLE) AS x
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_totalprice IS NOT NULL),
        bounds AS (SELECT min(x) AS lo, max(x) AS hi, CAST(count(x) AS DOUBLE) AS nb FROM base),
        bb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM base, bounds GROUP BY 1),
        tb AS (SELECT period,
                      CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM tgt, bounds GROUP BY 1, 2),
        periods AS (SELECT DISTINCT period FROM tb),
        bins AS (SELECT CAST(g AS INT) AS bin_id FROM generate_series(0, 9) t(g)),
        cells AS (
          SELECT p.period, b.bin_id,
                 CAST(coalesce(tb.c, 0) AS BIGINT) AS target_cnt,
                 CAST(coalesce(bb.c, 0) AS DOUBLE) / nb AS bp
          FROM periods p CROSS JOIN bins b
          LEFT JOIN tb ON tb.period = p.period AND tb.bin_id = b.bin_id
          LEFT JOIN bb ON bb.bin_id = b.bin_id, bounds),
        props AS (
          SELECT period, target_cnt, bp,
                 CAST(target_cnt AS DOUBLE)
                   / sum(target_cnt) OVER (PARTITION BY period) AS tp
          FROM cells),
        terms AS (
          SELECT period, target_cnt,
                 floor((0.5 * (CASE WHEN bp > 0 THEN bp * ln(bp / ((bp + tp) / 2.0)) ELSE 0.0 END)
                      + 0.5 * (CASE WHEN tp > 0 THEN tp * ln(tp / ((bp + tp) / 2.0)) ELSE 0.0 END)) * 1e6 + 0.5) / 1e6 AS js_term,
                 floor(((sqrt(bp) - sqrt(tp)) * (sqrt(bp) - sqrt(tp))) * 1e6 + 0.5) / 1e6 AS hell_term,
                 floor((0.5 * abs(bp - tp)) * 1e6 + 0.5) / 1e6 AS tv_term
          FROM props)
        SELECT period, CAST(sum(target_cnt) AS BIGINT) AS n_target,
               CAST(sum(CAST(js_term AS DECIMAL(38,6))) AS DOUBLE) AS js_div,
               floor(sqrt(0.5 * CAST(sum(CAST(hell_term AS DECIMAL(38,6))) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS hellinger,
               CAST(sum(CAST(tv_term AS DECIMAL(38,6))) AS DOUBLE) AS tv_dist
        FROM terms GROUP BY period ORDER BY period""")),

    // Per-source drift: each source's QUALITY-SCORE distribution scored
    // against the whole corpus (psiByPeriod with period = source) — the
    // "which feed went bad" diagnostic a multi-source curation dashboard
    // leads with. One counting pass per side; ≤ sources×bins rows shuffle.
    Q("drift_psi_by_source",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("source"),
          graft.text.TextAnalysis.qualityScore(col("text")).as("q"))
        Drift.psiByPeriod(d, d, "q", "source", bins = 10)
          .withColumnRenamed("period", "source")
      },
      Some(s"""
        WITH mixq AS (SELECT source, ${TextQueries.qualityColsSql} FROM documents),
        d AS (SELECT source, CAST(${TextQueries.qualityScoreSql} AS DOUBLE) AS x FROM mixq),
        base AS (SELECT x FROM d WHERE x IS NOT NULL),
        tgt AS (SELECT source AS period, x FROM d WHERE x IS NOT NULL),
        bounds AS (SELECT min(x) AS lo, max(x) AS hi, CAST(count(x) AS DOUBLE) AS nb FROM base),
        bb AS (SELECT CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM base, bounds GROUP BY 1),
        tb AS (SELECT period,
                      CAST(least(9.0, greatest(0.0, floor((x - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin_id,
                      count(*) AS c FROM tgt, bounds GROUP BY 1, 2),
        periods AS (SELECT DISTINCT period FROM tb),
        bins AS (SELECT CAST(g AS INT) AS bin_id FROM generate_series(0, 9) t(g)),
        cells AS (
          SELECT p.period, b.bin_id,
                 CAST(coalesce(tb.c, 0) AS BIGINT) AS target_cnt,
                 CAST(coalesce(bb.c, 0) AS DOUBLE) / nb AS bp
          FROM periods p CROSS JOIN bins b
          LEFT JOIN tb ON tb.period = p.period AND tb.bin_id = b.bin_id
          LEFT JOIN bb ON bb.bin_id = b.bin_id, bounds),
        terms AS (
          SELECT period, target_cnt, bp,
                 CAST(target_cnt AS DOUBLE)
                   / sum(target_cnt) OVER (PARTITION BY period) AS tp
          FROM cells),
        scored AS (
          SELECT period, target_cnt,
                 floor((greatest(tp, 1e-6) - greatest(bp, 1e-6))
                     * ln(greatest(tp, 1e-6) / greatest(bp, 1e-6)) * 1e6 + 0.5) / 1e6 AS psi_term
          FROM terms)
        SELECT period AS source, CAST(sum(target_cnt) AS BIGINT) AS n_target,
               CAST(sum(CAST(psi_term AS DECIMAL(38,6))) AS DOUBLE) AS psi_total
        FROM scored GROUP BY period ORDER BY source""")),

    // Two-sample KS statistic on the same era split.
    Q("drift_ks",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        Drift.ks(
          o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
          "o_totalprice")
      },
      Some("""
        WITH b AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, count(*) AS bc FROM orders
                   WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL GROUP BY 1),
        t AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, count(*) AS tc FROM orders
              WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL GROUP BY 1),
        m AS (SELECT coalesce(b.v, t.v) AS v, coalesce(bc, 0) AS bc, coalesce(tc, 0) AS tc
              FROM b FULL OUTER JOIN t ON b.v = t.v),
        c AS (SELECT v,
                     CAST(sum(bc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / (SELECT CAST(sum(bc) AS DOUBLE) FROM m) AS cb,
                     CAST(sum(tc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / (SELECT CAST(sum(tc) AS DOUBLE) FROM m) AS ct
              FROM m)
        SELECT 'o_totalprice' AS column_name,
               floor(max(abs(cb - ct)) * 1e6 + 0.5) / 1e6 AS ks_stat
        FROM c""")),

    // Cramér-von Mises on the same era split (§2 row 176): the
    // BODY-weighted companion of drift_ks — KS sees only the single
    // worst CDF point; CvM integrates the squared gap over the whole
    // pooled support, so a broad small shift still registers. Exact
    // pooled counts; per-value terms 12dp-dround'd into exact decimals.
    // HASH-GREEN.
    Q("drift_cvm",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        Drift.cvm(
          o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
          "o_totalprice")
      },
      Some(s"""
        WITH b AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, count(*) AS bc FROM orders
                   WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL GROUP BY 1),
        t AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, count(*) AS tc FROM orders
              WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL GROUP BY 1),
        m AS (SELECT coalesce(b.v, t.v) AS v, coalesce(bc, 0) AS bc, coalesce(tc, 0) AS tc
              FROM b FULL OUTER JOIN t ON b.v = t.v),
        tots AS (SELECT CAST(sum(bc) AS BIGINT) AS nb, CAST(sum(tc) AS BIGINT) AS nt FROM m),
        c AS (SELECT v, bc, tc, nb, nt,
                     CAST(sum(bc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / CAST(nb AS DOUBLE) AS cb,
                     CAST(sum(tc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / CAST(nt AS DOUBLE) AS ct
              FROM m, tots),
        agg AS (SELECT max(nb) AS n_base, max(nt) AS n_target,
                  CAST(round(sum(CAST(
                    ${Q.sqlDround("(cb - ct) * (cb - ct) * (CAST(bc + tc AS DOUBLE) / CAST(nb + nt AS DOUBLE))", 12)}
                    AS DECIMAL(38,12))), 8) AS DOUBLE) AS s
                FROM c)
        SELECT 'o_totalprice' AS column_name, n_base, n_target,
               CASE WHEN n_base > 0 AND n_target > 0 THEN
                 ${Q.sqlDround("CAST(n_base AS DOUBLE) * CAST(n_target AS DOUBLE) / (CAST(n_base + n_target AS DOUBLE) * CAST(n_base + n_target AS DOUBLE)) * s", 6)}
               END AS cvm_stat
        FROM agg""")),

    // CvM per month vs the fixed 1996 reference — the psiByPeriod
    // treatment for row 176: sequential monitors (CUSUM, PSI-by-period)
    // and the distributional ones now share the dashboard shape
    // (period, n, stat). Base collapses ONCE to its value histogram and
    // broadcasts onto every period's pooled support; the CDF window runs
    // per period over histogram-sized frames.
    Q("drift_cvm_timeseries",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val base = o.filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val target = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .withColumn("period",
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int"))
        Drift.cvmByPeriod(base, target, "o_totalprice", "period")
      },
      Some(s"""
        WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate < TIMESTAMP '1997-01-01'
                        AND o_totalprice IS NOT NULL),
        tgt AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS period,
                       CAST(o_totalprice AS DOUBLE) AS v
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_totalprice IS NOT NULL),
        b AS (SELECT v, count(*) AS bc FROM base GROUP BY 1),
        t AS (SELECT period, v, count(*) AS tc FROM tgt GROUP BY 1, 2),
        periods AS (SELECT DISTINCT period FROM t),
        grid AS (SELECT p.period, b.v, b.bc FROM periods p CROSS JOIN b),
        cells AS (SELECT coalesce(g.period, t.period) AS period,
                         coalesce(g.v, t.v) AS v,
                         coalesce(g.bc, 0) AS bc, coalesce(t.tc, 0) AS tc
                  FROM grid g FULL OUTER JOIN t
                    ON g.period = t.period AND g.v = t.v),
        c AS (SELECT period, v, bc, tc,
                     sum(bc) OVER (PARTITION BY period) AS nb,
                     sum(tc) OVER (PARTITION BY period) AS nt,
                     CAST(sum(bc) OVER (PARTITION BY period ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / CAST(sum(bc) OVER (PARTITION BY period) AS DOUBLE) AS cb,
                     CAST(sum(tc) OVER (PARTITION BY period ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / CAST(sum(tc) OVER (PARTITION BY period) AS DOUBLE) AS ct
              FROM cells),
        agg AS (SELECT period,
                  CAST(max(nb) AS BIGINT) AS n_base,
                  CAST(max(nt) AS BIGINT) AS n_target,
                  CAST(round(sum(CAST(
                    ${Q.sqlDround("(cb - ct) * (cb - ct) * (CAST(bc + tc AS DOUBLE) / CAST(nb + nt AS DOUBLE))", 12)}
                    AS DECIMAL(38,12))), 8) AS DOUBLE) AS s
                FROM c GROUP BY 1)
        SELECT period, n_base, n_target,
               CASE WHEN n_base > 0 AND n_target > 0 THEN
                 ${Q.sqlDround("CAST(n_base AS DOUBLE) * CAST(n_target AS DOUBLE) / (CAST(n_base + n_target AS DOUBLE) * CAST(n_base + n_target AS DOUBLE)) * s", 6)}
               END AS cvm_stat
        FROM agg ORDER BY period""")),

    // KS per month vs the same fixed 1996 reference (r13): the third
    // column of the (period, n, stat) drift dashboard — KS, CvM, and
    // PSI now all ride period-shaped lanes; KS and CvM share ONE
    // per-period pooled-CDF frame in the engine (Drift.perPeriodCdf).
    Q("drift_ks_timeseries",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val base = o.filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val target = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .withColumn("period",
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int"))
        Drift.ksByPeriod(base, target, "o_totalprice", "period")
      },
      Some(s"""
        WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate < TIMESTAMP '1997-01-01'
                        AND o_totalprice IS NOT NULL),
        tgt AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS period,
                       CAST(o_totalprice AS DOUBLE) AS v
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_totalprice IS NOT NULL),
        b AS (SELECT v, count(*) AS bc FROM base GROUP BY 1),
        t AS (SELECT period, v, count(*) AS tc FROM tgt GROUP BY 1, 2),
        periods AS (SELECT DISTINCT period FROM t),
        grid AS (SELECT p.period, b.v, b.bc FROM periods p CROSS JOIN b),
        cells AS (SELECT coalesce(g.period, t.period) AS period,
                         coalesce(g.v, t.v) AS v,
                         coalesce(g.bc, 0) AS bc, coalesce(t.tc, 0) AS tc
                  FROM grid g FULL OUTER JOIN t
                    ON g.period = t.period AND g.v = t.v),
        c AS (SELECT period, v, bc, tc,
                     sum(bc) OVER (PARTITION BY period) AS nb,
                     sum(tc) OVER (PARTITION BY period) AS nt,
                     CAST(sum(bc) OVER (PARTITION BY period ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / CAST(sum(bc) OVER (PARTITION BY period) AS DOUBLE) AS cb,
                     CAST(sum(tc) OVER (PARTITION BY period ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / CAST(sum(tc) OVER (PARTITION BY period) AS DOUBLE) AS ct
              FROM cells),
        agg AS (SELECT period,
                  CAST(max(nb) AS BIGINT) AS n_base,
                  CAST(max(nt) AS BIGINT) AS n_target,
                  max(abs(cb - ct)) AS d
                FROM c GROUP BY 1)
        SELECT period, n_base, n_target,
               CASE WHEN n_base > 0 AND n_target > 0 THEN
                 floor(d * 1e6 + 0.5) / 1e6 END AS ks_stat
        FROM agg ORDER BY period""")),

    // KS p-values + Benjamini-Hochberg across the period family (r13):
    // testing 36 monthly stats at α=0.05 expects ~2 false alarms; BH
    // caps the false-discovery rate at q=0.05 instead — the readout a
    // drift dashboard should actually alert on. The p-value is the
    // truncated (20-term) asymptotic KS series — the truncated sum IS
    // the pinned cross-engine semantic — and the BH rank order pins
    // NULLS LAST explicitly (Spark defaults nulls-first, DuckDB last).
    Q("drift_ks_fdr",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val base = o.filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val target = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .withColumn("period",
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int"))
        Drift.ksFdrByPeriod(base, target, "o_totalprice", "period", q = 0.05)
      },
      Some(s"""
        WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate < TIMESTAMP '1997-01-01'
                        AND o_totalprice IS NOT NULL),
        tgt AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS period,
                       CAST(o_totalprice AS DOUBLE) AS v
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_totalprice IS NOT NULL),
        b AS (SELECT v, count(*) AS bc FROM base GROUP BY 1),
        t AS (SELECT period, v, count(*) AS tc FROM tgt GROUP BY 1, 2),
        periods AS (SELECT DISTINCT period FROM t),
        grid AS (SELECT p.period, b.v, b.bc FROM periods p CROSS JOIN b),
        cells AS (SELECT coalesce(g.period, t.period) AS period,
                         coalesce(g.v, t.v) AS v,
                         coalesce(g.bc, 0) AS bc, coalesce(t.tc, 0) AS tc
                  FROM grid g FULL OUTER JOIN t
                    ON g.period = t.period AND g.v = t.v),
        c AS (SELECT period, v, bc, tc,
                     sum(bc) OVER (PARTITION BY period) AS nb,
                     sum(tc) OVER (PARTITION BY period) AS nt,
                     CAST(sum(bc) OVER (PARTITION BY period ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / CAST(sum(bc) OVER (PARTITION BY period) AS DOUBLE) AS cb,
                     CAST(sum(tc) OVER (PARTITION BY period ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / CAST(sum(tc) OVER (PARTITION BY period) AS DOUBLE) AS ct
              FROM cells),
        agg AS (SELECT period,
                  CAST(max(nb) AS BIGINT) AS n_base,
                  CAST(max(nt) AS BIGINT) AS n_target,
                  max(abs(cb - ct)) AS d
                FROM c GROUP BY 1),
        kss AS (SELECT period, n_base, n_target,
                  CASE WHEN n_base > 0 AND n_target > 0 THEN
                    floor(d * 1e6 + 0.5) / 1e6 END AS ks_stat
                FROM agg),
        lamt AS (SELECT period, n_base, n_target, ks_stat,
                   (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * ks_stat AS lam
                 FROM (SELECT *, CAST(n_base AS DOUBLE) * CAST(n_target AS DOUBLE)
                         / CAST(n_base + n_target AS DOUBLE) AS ne FROM kss)),
        pv AS (SELECT period, n_base, n_target, ks_stat,
                 CASE WHEN ks_stat IS NULL THEN NULL
                      WHEN lam < CAST(0.3 AS DOUBLE) THEN 1.0
                      ELSE floor(least(1.0, greatest(0.0,
                        ${Drift.sqlKsPSeries("lam", 20)})) * 1e6 + 0.5) / 1e6
                 END AS p_value
               FROM lamt),
        bh AS (SELECT *,
                 CAST(row_number() OVER (ORDER BY p_value ASC NULLS LAST, period)
                   AS BIGINT) AS i,
                 CAST(count(*) OVER () AS BIGINT) AS m
               FROM pv),
        bh2 AS (SELECT *, CASE WHEN p_value <=
                   CAST(i AS DOUBLE) * CAST(0.05 AS DOUBLE) / CAST(m AS DOUBLE)
                 THEN i END AS oki FROM bh),
        bh3 AS (SELECT *, max(oki) OVER () AS kmax FROM bh2)
        SELECT period, n_base, n_target, ks_stat, p_value,
               (kmax IS NOT NULL AND i <= kmax) AS reject
        FROM bh3 ORDER BY period""")),

    // Quantize-first KS — the 100 TB scale path: both sides bucket into 64
    // equal-width bins over the POOLED range before the CDF window, bounding
    // the window's input to 64 rows regardless of column cardinality. The
    // oracle mirrors the identical bucket arithmetic (same IEEE op order).
    Q("drift_ks_q",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        Drift.ks(
          o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
          "o_totalprice", quantize = 64)
      },
      Some("""
        WITH bb AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS l1,
                           max(CAST(o_totalprice AS DOUBLE)) AS h1
                    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
                      AND o_totalprice IS NOT NULL),
        tb AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS l2,
                      max(CAST(o_totalprice AS DOUBLE)) AS h2
               FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                 AND o_totalprice IS NOT NULL),
        bnd AS (SELECT least(l1, l2) AS lo, greatest(h1, h2) AS hi
                FROM bb CROSS JOIN tb),
        b AS (SELECT CASE WHEN hi = lo THEN 0.0 ELSE least(63.0, greatest(0.0,
                       floor((CAST(o_totalprice AS DOUBLE) - lo) / ((hi - lo) / 64.0)))) END AS v,
                     count(*) AS bc
              FROM orders CROSS JOIN bnd
              WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL GROUP BY 1),
        t AS (SELECT CASE WHEN hi = lo THEN 0.0 ELSE least(63.0, greatest(0.0,
                       floor((CAST(o_totalprice AS DOUBLE) - lo) / ((hi - lo) / 64.0)))) END AS v,
                     count(*) AS tc
              FROM orders CROSS JOIN bnd
              WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL GROUP BY 1),
        m AS (SELECT coalesce(b.v, t.v) AS v, coalesce(bc, 0) AS bc, coalesce(tc, 0) AS tc
              FROM b FULL OUTER JOIN t ON b.v = t.v),
        c AS (SELECT v,
                     CAST(sum(bc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / (SELECT CAST(sum(bc) AS DOUBLE) FROM m) AS cb,
                     CAST(sum(tc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / (SELECT CAST(sum(tc) AS DOUBLE) FROM m) AS ct
              FROM m)
        SELECT 'o_totalprice' AS column_name,
               floor(max(abs(cb - ct)) * 1e6 + 0.5) / 1e6 AS ks_stat
        FROM c""")),

    Q("data_dictionary",
      (s, dir) => DataDictionary.build(Tables.customer(s, dir)),
      Some {
        val cols = Seq(
          ("c_acctbal", "double", "'numeric'"),
          ("c_custkey", "bigint", "'identifier'"),
          ("c_mktsegment", "string",
            "CASE WHEN count(DISTINCT c_mktsegment) <= least(20.0, greatest(5.0, floor(count(c_mktsegment)/2.0))) THEN 'categorical' ELSE 'text' END"),
          ("c_name", "string",
            "CASE WHEN count(DISTINCT c_name) <= least(20.0, greatest(5.0, floor(count(c_name)/2.0))) THEN 'categorical' ELSE 'text' END"),
          ("c_nationkey", "int", "'identifier'"))
        cols.map { case (c, dt, sem) =>
          s"""SELECT '$c' AS column_name, $sem AS semantic_type, '$dt' AS dtype,
                CAST(count(DISTINCT $c) AS BIGINT) AS distinct_count,
                CAST(count(*) - count($c) AS BIGINT) AS null_count,
                CAST(min($c) AS VARCHAR) AS example_min,
                CAST(max($c) AS VARCHAR) AS example_max
              FROM customer"""
        }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")
      }),

    // CUSUM changepoint statistics (§2 row 159): the sequential drift
    // monitor — per event_type, C+/C− over (ts, event_id) order via the
    // prefix-sum closed form, ENTIRELY in exact decimal arithmetic (no
    // float in the statistic). The oracle replays running sums, running
    // mins, the max(0,·) fold and the alarm compare row for row.
    Q("events_cusum",
      (s, dir) => graft.drift.Cusum.detect(Tables.events(s, dir),
          "value", "ts", "event_id", Seq("event_type"),
          target = 50.0, slack = 10.0, threshold = 1000.0)
        .orderBy("event_type", "ts", "event_id"),
      Some("""
        WITH s AS (
          SELECT event_type, ts, event_id, CAST(value AS DECIMAL(18,4)) AS v
          FROM events WHERE value IS NOT NULL),
        p AS (
          SELECT event_type, ts, event_id, v,
                 sum(v - CAST(50.0 AS DECIMAL(18,4)) - CAST(10.0 AS DECIMAL(18,4)))
                   OVER w AS pu,
                 sum(CAST(50.0 AS DECIMAL(18,4)) - CAST(10.0 AS DECIMAL(18,4)) - v)
                   OVER w AS pd
          FROM s
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        c AS (
          SELECT event_type, ts, event_id, v,
                 pu - least(CAST(0 AS DECIMAL(28,4)), min(pu) OVER w) AS cu,
                 pd - least(CAST(0 AS DECIMAL(28,4)), min(pd) OVER w) AS cd
          FROM p
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT event_type, ts, event_id,
               floor(CAST(v AS DOUBLE) * 1e4 + 0.5) / 1e4 AS value,
               floor(CAST(cu AS DOUBLE) * 1e4 + 0.5) / 1e4 AS cusum_up,
               floor(CAST(cd AS DOUBLE) * 1e4 + 0.5) / 1e4 AS cusum_down,
               (cu > CAST(1000.0 AS DECIMAL(18,4))
                 OR cd > CAST(1000.0 AS DECIMAL(18,4))) AS alarm
        FROM c ORDER BY event_type, ts, event_id"""))
  )
}
