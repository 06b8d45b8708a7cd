package graft.queries

import graft.Tables
import graft.dedup.Duplicates
import graft.impute.Median
import graft.multimodal.Multimodal
import graft.normalize.NormalizeConfig
import graft.outliers.{Clip, Iqr}
import graft.pipeline._
import graft.streaming.StreamOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Driver-checked queries for SURVEY rows 35 (pipeline), 42 (sessionize),
  * 56 (multimodal plumbing) + JSON extraction over events.props. */
object PipelineQueries {

  private def dirtyOrders(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.orders(s, dir)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 13 === 0, lit(null)).otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 17 === 0, lit(null)).otherwise(col("o_totalprice")))

  /** mvhd payload tail shared by both mvhd versions (ISO 14496-12 §8.2.2):
    * rate 1.0, volume 1.0, reserved, unity matrix, pre_defined,
    * next_track_id — 80 bytes, 160 hex chars. Interpolated into BOTH the
    * Spark blob build and the DuckDB oracle so the two can never drift. */
  private[graft] val Mp4Tail: String =
    "00010000" + "0100" + "0000" + ("00" * 8) +
      "00010000" + ("00000000" * 3) + "00010000" + ("00000000" * 3) + "40000000" +
      ("00" * 24) + "00000002"

  /** The chain's frame, materialized so the run's caches can be released
    * before the query returns. */
  private def chainResult(r: Pipeline.Result) = {
    val out = graft.Cached.truncate(r.df)
    r.release()
    out.select(col("o_orderkey"), col("o_orderstatus"),
      graft.Num.dround(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** The curation chain as a YAML artifact: the LLM-pipeline stages behind
    * the same config-driven entry point the reference modules use. */
  private val curationYaml = """
    |run_id: curation_config
    |stages:
    |  - module: text_filter
    |    text_column: text
    |    min_quality: 0.3
    |    languages: [en]
    |  - module: pii_redact
    |    text_column: text
    |  - module: exact_dedup
    |    text_column: text
    |    id_column: doc_id
    |  - module: quota
    |    group_column: source
    |    key_column: doc_id
    |    n: 20
    |  - module: sample
    |    key_column: doc_id
    |    fraction: 0.8
    |""".stripMargin

  private val curationOracle: String = {
    // Every reused semantic comes from its owning fragment (PII fixture,
    // quality formula, redaction patterns, language chain, quota window,
    // sample bucket) so a tune on the Spark side cannot silently diverge
    // this oracle.
    s"""
    WITH inp AS (
      SELECT doc_id, source, ${CorpusQueries.sqlPiiText} AS text
      FROM documents),
    t AS (
      SELECT doc_id, source, text, ${TextQueries.qualityColsSql},
             ${TextQueries.langScoresSql}
      FROM inp),
    scored AS (
      SELECT doc_id, source, text,
             ${TextQueries.qualityScoreSql} AS q,
             ${TextQueries.langCaseSql} AS lang
      FROM t),
    red AS (
      SELECT doc_id, source, ${graft.text.CorpusOps.sqlRedact("text")} AS text
      FROM scored WHERE q >= 0.3 AND lang = 'en'),
    ded AS (
      SELECT doc_id, source FROM (
        SELECT doc_id, source, ${TextQueries.sqlNormText()} AS n
        FROM red)
      QUALIFY row_number() OVER (PARTITION BY n ORDER BY doc_id) = 1),
    quot AS (
      SELECT doc_id FROM ded
      QUALIFY ${graft.ops.Quota.sqlQualify("source", "doc_id", 20)})
    SELECT doc_id FROM quot
    WHERE ${graft.ops.Sampling.sqlHashKeep("doc_id", 0.8)}
    ORDER BY doc_id"""
  }

  /** Chunking right after a subsample, as a config artifact — the
    * context-window prep stage a config-driven curation user reaches for
    * immediately after dedup (SURVEY row 95 through the row-35b entry
    * point). */
  private val chunkingYaml = """
    |run_id: chunking_config
    |stages:
    |  - module: sample
    |    key_column: doc_id
    |    fraction: 0.5
    |  - module: chunking
    |    text_column: text
    |    id_column: doc_id
    |    max_tokens: 64
    |    overlap: 16
    |""".stripMargin

  /** The Gopher gate as a config artifact — thresholds matching
    * [[TextQueries.gopherCfg]] so the config path and the direct
    * `text_gopher_filter` query share one oracle. */
  private val gopherYaml = """
    |run_id: gopher_config
    |stages:
    |  - module: gopher_filter
    |    text_column: text
    |    id_column: doc_id
    |    min_words: 10
    |    min_stop_hits: 2
    |""".stripMargin

  /** The encoding-hygiene gate as a config artifact; fixture + oracle
    * CTEs live in [[EvalQueries]] (single owner with text_mojibake). */
  private val mojibakeYaml = """
    |run_id: mojibake_config
    |stages:
    |  - module: mojibake_filter
    |    text_column: text
    |    id_column: doc_id
    |""".stripMargin

  /** The report-only embedding audit as a config artifact. */
  private val centroidsYaml = """
    |run_id: centroids_config
    |stages:
    |  - module: embedding_centroids
    |    group_column: label
    |    vector_column: embedding
    |""".stripMargin

  /** Shard assignment as a config stage: the curate→export seam in YAML. */
  private val shardYaml = """
    |run_id: shard_config
    |stages:
    |  - module: shard_assign
    |    key_column: doc_id
    |    n_shards: 16
    |""".stripMargin

  /** The YAML form of pipeline_chain's hand-built stages — the
    * config-driven entry point must hash-match the typed one. */
  private val chainYaml = """
    |run_id: pipeline_from_config
    |stages:
    |  - module: normalize
    |    value_mappings:
    |      o_orderstatus: {F: FINISHED, O: OPEN, P: PENDING, "null": UNKNOWN}
    |  - module: impute
    |    strategies: {o_totalprice: median}
    |  - module: dedup
    |    subset: [o_custkey, o_orderstatus]
    |    keep: first
    |    tiebreak: [o_orderkey]
    |  - module: outliers
    |    detect:
    |      o_totalprice: {method: iqr, multiplier: 3.0}
    |    handle: {o_totalprice: clip}
    |""".stripMargin

  private val chainOracle = """
        WITH d0 AS (
          SELECT o_orderkey, o_custkey,
                 CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderstatus END AS st,
                 CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_totalprice END AS tp
          FROM orders),
        d1 AS (
          SELECT o_orderkey, o_custkey,
                 CASE WHEN st IS NULL THEN 'UNKNOWN' WHEN st = 'F' THEN 'FINISHED'
                      WHEN st = 'O' THEN 'OPEN' WHEN st = 'P' THEN 'PENDING'
                      ELSE st END AS st, tp
          FROM d0),
        med AS (SELECT quantile_cont(CAST(tp AS DOUBLE), 0.5) AS m FROM d1),
        d2 AS (SELECT o_orderkey, o_custkey, st, coalesce(tp, m) AS tp FROM d1, med),
        d3 AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey, st ORDER BY o_orderkey) AS rn
            FROM d2) WHERE rn = 1),
        b AS (SELECT quantile_cont(CAST(tp AS DOUBLE), 0.25) AS q1,
                     quantile_cont(CAST(tp AS DOUBLE), 0.75) AS q3 FROM d3),
        d4 AS (
          SELECT o_orderkey, st,
                 CASE WHEN tp < q1 - 3.0*(q3-q1) THEN q1 - 3.0*(q3-q1)
                      WHEN tp > q3 + 3.0*(q3-q1) THEN q3 + 3.0*(q3-q1)
                      ELSE tp END AS tp
          FROM d3, b)
        SELECT o_orderkey, st AS o_orderstatus, floor((tp) * 1e2 + 0.5) / 1e2 AS o_totalprice
        FROM d4 ORDER BY o_orderkey"""

  val all: Seq[Q] = Seq(
    // Full module chain: normalize -> impute -> dedup -> outlier-clip,
    // exactly the reference's run_toolkit_pipeline composition.
    Q("pipeline_chain",
      (s, dir) => {
        val result = Pipeline.run(dirtyOrders(s, dir), Seq(
          NormalizeStage(NormalizeConfig(valueMappings = Map("o_orderstatus" -> Map(
            "F" -> "FINISHED", "O" -> "OPEN", "P" -> "PENDING", "null" -> "UNKNOWN")))),
          ImputeStage(Map("o_totalprice" -> Median)),
          DedupStage(Seq("o_custkey", "o_orderstatus"), Duplicates.KeepFirst,
            Seq(col("o_orderkey"))),
          OutlierStage(Map("o_totalprice" -> Iqr(3.0)),
            Map("o_totalprice" -> Clip))))
        chainResult(result)
      },
      Some(chainOracle)),

    // Same chain driven from a YAML config artifact (run_toolkit_pipeline
    // semantics): must hash-match pipeline_chain via the shared oracle.
    Q("pipeline_from_config",
      (s, dir) => chainResult(ConfigPipeline.run(dirtyOrders(s, dir), chainYaml)),
      Some(chainOracle)),

    // The corpus-curation chain driven from the same YAML entry point:
    // quality/language gate -> PII redaction -> exact dedup -> per-source
    // quota -> deterministic subsample, all as ONE config artifact.
    Q("pipeline_curation_config",
      (s, dir) => ConfigPipeline.run(
          CorpusQueries.plantPii(
            Tables.documents(s, dir).select("doc_id", "source", "text")),
          curationYaml).df
        .select("doc_id").orderBy("doc_id"),
      Some(curationOracle)),

    // Chunking as a YAML stage: subsample -> fixed-budget chunking, with
    // the `source` metadata column carried onto every chunk (the stage's
    // per-row projection, not a join). The oracle composes the shared
    // hash-keep predicate with the shared chunk mirror, then re-derives
    // the carried column with an explicit join — so both the chunk math
    // AND the carry values are hash-gated.
    Q("pipeline_chunking_config",
      (s, dir) => ConfigPipeline.run(
          Tables.documents(s, dir).select("doc_id", "source", "text"),
          chunkingYaml).df
        .orderBy("doc_id", "chunk_id"),
      Some(s"""
        SELECT c.doc_id, c.chunk_id, c.chunk_text, c.n_tokens, d.source
        FROM (${graft.text.Chunking.sqlChunk(
          s"(SELECT doc_id, text FROM documents WHERE ${
            graft.ops.Sampling.sqlHashKeep("doc_id", 0.5)}) s",
          "doc_id", "text", maxTokens = 64, overlap = 16)}) c
        JOIN documents d USING (doc_id)
        ORDER BY c.doc_id, c.chunk_id""")),

    // The Gopher gate as a YAML stage over the same rule-exercising
    // fixture as text_gopher_filter — one oracle serves both, so the
    // config path cannot drift from the direct operator.
    Q("pipeline_gopher_config",
      (s, dir) => ConfigPipeline.run(
          TextQueries.gopherFixture(Tables.documents(s, dir)), gopherYaml).df
        .select("doc_id").orderBy("doc_id"),
      Some(s"""
        ${TextQueries.gopherAuditSql}
        SELECT doc_id FROM audit WHERE keep = 1 ORDER BY doc_id""")),

    // The encoding-hygiene gate as a YAML stage over the same corruption
    // fixture as text_mojibake — one CTE owner serves both, so the config
    // path cannot drift from the direct audit (SURVEY row 128).
    Q("pipeline_mojibake_config",
      (s, dir) => ConfigPipeline.run(
          EvalQueries.mojibakeFixture(Tables.documents(s, dir)),
          mojibakeYaml).df
        .select("doc_id").orderBy("doc_id"),
      Some(s"""
        WITH ${EvalQueries.mojibakeAuditCtes}
        SELECT doc_id FROM mjc
        WHERE n_mojibake + n_replacement + n_control = 0
        ORDER BY doc_id""")),

    // The fastText gate as a YAML stage under a PERSISTED handed
    // (feature-keyed) model — HASH-GREEN: the oracle is text_ft_score's
    // own closed-form scoring CTE with the stage's threshold applied, so
    // the config path, the persistence round trip, and the direct
    // operator share one SQL owner. Null-score (no-feature) docs drop —
    // absence of quality evidence is not a pass (SQL's null-comparison
    // semantics mirror this for free).
    Q("pipeline_ft_config",
      (s, dir) => {
        val sp = s; import sp.implicits._
        val path = NearDupQueries.scratchIndexDir(s, "ftcfg", dir)
        graft.text.FastText.writeModelFeatures(s,
          TextQueries.ftHandedWeights.toDF("feature", "weight"),
          TextQueries.ftHandedBias, path)
        val yaml = s"""
          |run_id: ft_config
          |stages:
          |  - module: ft_filter
          |    text_column: text
          |    id_column: doc_id
          |    model_path: $path
          |    min_score: 0.48
          |""".stripMargin
        ConfigPipeline.run(Tables.documents(s, dir), yaml).df
          .select("doc_id").orderBy("doc_id")
      },
      Some(s"""
        WITH scored AS (${TextQueries.ftScoreOracleBody})
        SELECT doc_id FROM scored WHERE score >= 0.48 ORDER BY doc_id""")),

    // The embedding audit as a YAML stage: report-only (frame passes
    // through untouched); the published report must hash-match the direct
    // embedding_centroids query via the shared oracle.
    Q("pipeline_centroids_config",
      (s, dir) => ConfigPipeline.run(
          Tables.embeddings(s, dir), centroidsYaml)
        .reports("0:embedding_centroids")
        .orderBy("label", "pos"),
      Some(NearDupQueries.centroidsOracle)),

    // The shard_assign stage through the YAML entry point, reduced to the
    // SAME plan frame and oracle as corpus_shard_plan — the config lane
    // must hash-match the typed API (the pipeline_from_config precedent).
    Q("pipeline_shard_config",
      (s, dir) => graft.ops.Sharding.planFromSharded(
          ConfigPipeline.run(Tables.documents(s, dir), shardYaml).df, "text"),
      Some(MixtureQueries.shardPlanOracle)),

    // Multimodal plumbing: every 3rd doc gets a REAL PNG header (IHDR),
    // every 3rd+1 a REAL JPEG header (APP0 + SOF0, exercising the marker
    // scan), the rest raw text bytes (stub fallback). decodeMeta parses
    // the headers byte-for-byte; the oracle re-builds the same blobs and
    // extracts the same header bytes from their hex — a byte-level mirror,
    // not a formula shortcut.
    // REAL pixel decode, end-to-end through the actual codec: per-doc PNG
    // blobs are ENCODED (scanline filters cycling 0-4, zlib-deflated,
    // CRC-signed) then DECODED back (inflate, CRC verify, unfilter) by
    // graft.multimodal.Png — JDK zlib, no stub — and reduced to exact
    // integer pixel stats. The oracle never sees a PNG: pixels follow a
    // closed-form gradient, so DuckDB aggregates the formula directly —
    // any codec bug (filter math, inflate bounds, CRC) breaks the hash.
    Q("multimodal_pixels",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir)
          .select(col("doc_id").cast("long")).as[Long]
        val blobs = ids.mapPartitions { it =>
          it.map { id =>
            val w = (16 + id % 16).toInt; val h = (8 + id % 8).toInt
            (id, graft.multimodal.Png.encode(w, h, 1,
              (x, y, _) => ((id + y.toLong * w + x) % 256).toInt,
              y => y % 5))
          }
        }.toDF("doc_id", "asset")
        graft.multimodal.Png.pixelStats(blobs, "doc_id", "asset")
          .select(col("asset_id"), col("width"), col("height"),
            col("channels"), col("n_pixels"), col("pix_sum"),
            col("pix_min"), col("pix_max"))
          .orderBy("asset_id")
      },
      Some("""
        WITH d AS (SELECT doc_id, CAST(16 + doc_id % 16 AS INT) AS w,
                          CAST(8 + doc_id % 8 AS INT) AS h FROM documents),
        g AS (SELECT doc_id, w, h, unnest(range(CAST(w AS BIGINT) * h)) AS i FROM d),
        v AS (SELECT doc_id, w, h, (doc_id + i) % 256 AS v FROM g)
        SELECT doc_id AS asset_id, w AS width, h AS height,
               CAST(1 AS INT) AS channels,
               CAST(w AS BIGINT) * h AS n_pixels,
               CAST(sum(v) AS BIGINT) AS pix_sum,
               CAST(min(v) AS INT) AS pix_min,
               CAST(max(v) AS INT) AS pix_max
        FROM v GROUP BY doc_id, w, h
        ORDER BY asset_id""")),

    // REAL GIF pixel decode through LZW: per-doc GIFs are encoded (real
    // dictionary-building LZW, width growth, greyscale palette), decoded
    // back (sub-block walk, variable-width code stream, palette
    // resolution), and reduced to exact integer stats. Same codec-free
    // oracle trick as multimodal_pixels: DuckDB aggregates the closed-form
    // index gradient — each pixel contributes its grey value on R, G and
    // B, hence the 3x sum — so any LZW/width/palette bug breaks the hash.
    Q("multimodal_gif_pixels",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir)
          .select(col("doc_id").cast("long")).as[Long]
        val grey = Array.tabulate(256)(i => (i, i, i))
        val blobs = ids.mapPartitions { it =>
          it.map { id =>
            val w = (11 + id % 13).toInt; val h = (7 + id % 9).toInt
            (id, graft.multimodal.Gif.encode(w, h, grey,
              (x, y) => ((id + y.toLong * w + x) % 256).toInt))
          }
        }.toDF("doc_id", "asset")
        graft.multimodal.Gif.pixelStats(blobs, "doc_id", "asset")
          .select(col("asset_id"), col("width"), col("height"),
            col("n_pixels"), col("pix_sum"), col("pix_min"), col("pix_max"))
          .orderBy("asset_id")
      },
      Some("""
        WITH d AS (SELECT doc_id, CAST(11 + doc_id % 13 AS INT) AS w,
                          CAST(7 + doc_id % 9 AS INT) AS h FROM documents),
        g AS (SELECT doc_id, w, h, unnest(range(CAST(w AS BIGINT) * h)) AS i FROM d),
        v AS (SELECT doc_id, w, h, (doc_id + i) % 256 AS v FROM g)
        SELECT doc_id AS asset_id, w AS width, h AS height,
               CAST(w AS BIGINT) * h AS n_pixels,
               CAST(3 * sum(v) AS BIGINT) AS pix_sum,
               CAST(min(v) AS INT) AS pix_min,
               CAST(max(v) AS INT) AS pix_max
        FROM v GROUP BY doc_id, w, h
        ORDER BY asset_id""")),

    // REAL JPEG pixel decode through the full baseline machinery: per-doc
    // JPEGs are encoded (forward DCT, quantization, canonical Huffman,
    // mixing grey / colour-with-restart-markers / 4:2:0-subsampled per
    // doc) then decoded back (marker parse, Huffman, dequant, IDCT,
    // chroma upsample, YCbCr->RGB). Fixtures are achromatic and constant
    // per 16x16 MCU, which makes the lossy codec EXACT (integer Y,
    // Cb=Cr=128, DC-only blocks — see JpegSpec), so the oracle never
    // sees a JPEG: DuckDB aggregates the closed-form block gradient, and
    // any Huffman/DCT/marker/colour bug breaks the hash.
    Q("multimodal_jpeg_pixels",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir)
          .select(col("doc_id").cast("long")).as[Long]
        val blobs = ids.mapPartitions { it =>
          it.map { id =>
            val w = (16 * (1 + id % 3)).toInt; val h = (16 * (1 + id % 2)).toInt
            def v(x: Int, y: Int): Int =
              ((id + 7 * (x / 16) + 13 * (y / 16)) % 256).toInt
            val bytes = (id % 3) match {
              case 0 => graft.multimodal.Jpeg.encode(w, h, 1, (x, y, _) => v(x, y))
              case 1 => graft.multimodal.Jpeg.encode(w, h, 3, (x, y, _) => v(x, y),
                restartEvery = 3)
              case _ => graft.multimodal.Jpeg.encode(w, h, 3, (x, y, _) => v(x, y),
                subsample420 = true)
            }
            (id, bytes)
          }
        }.toDF("doc_id", "asset")
        graft.multimodal.Jpeg.pixelStats(blobs, "doc_id", "asset")
          .select(col("asset_id"), col("width"), col("height"),
            col("channels"), col("n_pixels"), col("pix_sum"),
            col("pix_min"), col("pix_max"))
          .orderBy("asset_id")
      },
      Some("""
        WITH d AS (SELECT doc_id,
                          CAST(16 * (1 + doc_id % 3) AS INT) AS w,
                          CAST(16 * (1 + doc_id % 2) AS INT) AS h,
                          doc_id % 3 AS m FROM documents),
        b AS (SELECT doc_id, w, h, m,
                     unnest(range((w // 16) * (h // 16))) AS i FROM d),
        v AS (SELECT doc_id, w, h, m,
                     (doc_id + 7 * (i % (w // 16)) + 13 * (i // (w // 16))) % 256 AS v
              FROM b)
        SELECT doc_id AS asset_id, w AS width, h AS height,
               CAST(CASE WHEN m = 0 THEN 1 ELSE 3 END AS INT) AS channels,
               CAST(w AS BIGINT) * h AS n_pixels,
               CAST((CASE WHEN m = 0 THEN 1 ELSE 3 END) * 256 * sum(v) AS BIGINT) AS pix_sum,
               CAST(min(v) AS INT) AS pix_min,
               CAST(max(v) AS INT) AS pix_max
        FROM v GROUP BY doc_id, w, h, m
        ORDER BY asset_id""")),

    // REAL video frame sampling: per-doc MJPEG-in-AVI containers (RIFF
    // hdrl/movi/idx1, one baseline JPEG per '00dc' chunk), every 2nd
    // frame decoded through the full T.81 machinery, per-frame pixel
    // stats emitted. Frames reuse the achromatic MCU-constant trick
    // (each frame shifts the gradient by 31*frame_idx) so the lossy
    // codec is exact and the oracle is codec-free: DuckDB re-derives
    // the sampled frame grid and block gradient in closed form. A bug
    // in the RIFF walk, the even-padding rule, the stride, or the JPEG
    // path breaks the hash.
    Q("multimodal_video_frames",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir)
          .select(col("doc_id").cast("long")).as[Long]
        val blobs = ids.mapPartitions { it =>
          it.map { id =>
            val w = (16 * (1 + id % 3)).toInt; val h = (16 * (1 + id % 2)).toInt
            val nf = (2 + id % 5).toInt
            val frames = (0 until nf).map { f =>
              def v(x: Int, y: Int): Int =
                ((id + 7 * (x / 16) + 13 * (y / 16) + 31 * f) % 256).toInt
              (id % 3) match {
                case 0 => graft.multimodal.Jpeg.encode(w, h, 1, (x, y, _) => v(x, y))
                case 1 => graft.multimodal.Jpeg.encode(w, h, 3, (x, y, _) => v(x, y),
                  restartEvery = 3)
                case _ => graft.multimodal.Jpeg.encode(w, h, 3, (x, y, _) => v(x, y),
                  subsample420 = true)
              }
            }
            (id, graft.multimodal.Mjpeg.encodeAvi(w, h, fps = 10, frames))
          }
        }.toDF("doc_id", "asset")
        graft.multimodal.Mjpeg.frameStats(blobs, "doc_id", "asset", stride = 2)
          .select(col("asset_id"), col("n_frames"), col("frame_idx"),
            col("width"), col("height"), col("channels"), col("n_pixels"),
            col("pix_sum"), col("pix_min"), col("pix_max"))
          .orderBy("asset_id", "frame_idx")
      },
      Some("""
        WITH d AS (SELECT doc_id,
                          CAST(16 * (1 + doc_id % 3) AS INT) AS w,
                          CAST(16 * (1 + doc_id % 2) AS INT) AS h,
                          doc_id % 3 AS m,
                          CAST(2 + doc_id % 5 AS INT) AS nf FROM documents),
        f AS (SELECT doc_id, w, h, m, nf, unnest(range(0, nf, 2)) AS fi FROM d),
        b AS (SELECT doc_id, w, h, m, nf, fi,
                     unnest(range((w // 16) * (h // 16))) AS i FROM f),
        v AS (SELECT doc_id, w, h, m, nf, fi,
                     (doc_id + 7 * (i % (w // 16)) + 13 * (i // (w // 16))
                      + 31 * fi) % 256 AS v
              FROM b)
        SELECT doc_id AS asset_id, CAST(nf AS INT) AS n_frames,
               CAST(fi AS INT) AS frame_idx, w AS width, h AS height,
               CAST(CASE WHEN m = 0 THEN 1 ELSE 3 END AS INT) AS channels,
               CAST(w AS BIGINT) * h AS n_pixels,
               CAST((CASE WHEN m = 0 THEN 1 ELSE 3 END) * 256 * sum(v) AS BIGINT) AS pix_sum,
               CAST(min(v) AS INT) AS pix_min,
               CAST(max(v) AS INT) AS pix_max
        FROM v GROUP BY doc_id, nf, fi, w, h, m
        ORDER BY asset_id, frame_idx""")),

    // REAL pixel resize through the codec: gradient PNGs are encoded,
    // fit-box-resized (decode -> NN sample -> re-encode), decoded AGAIN,
    // and audited — three full codec passes per asset under the gate.
    // The oracle mirrors the scale rule and the integer NN grid
    // (src = dst*srcDim // dstDim) on the closed-form gradient, so a bug
    // in either codec direction or the sampling math breaks the hash.
    Q("multimodal_resize",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir)
          .select(col("doc_id").cast("long")).as[Long]
        val blobs = ids.mapPartitions { it =>
          it.map { id =>
            val w = (20 + id % 13).toInt; val h = (14 + id % 9).toInt
            (id, graft.multimodal.Png.encode(w, h, 1,
              (x, y, _) => ((id + y.toLong * w + x) % 256).toInt,
              y => y % 5))
          }
        }.toDF("doc_id", "asset")
        val resized = graft.multimodal.Png.resizeAssets(
          blobs, "doc_id", "asset", maxDim = 8)
        graft.multimodal.Png.pixelStats(resized, "asset_id", "resized")
          .select(col("asset_id"), col("width"), col("height"),
            col("n_pixels"), col("pix_sum"), col("pix_min"), col("pix_max"))
          .orderBy("asset_id")
      },
      Some("""
        WITH d AS (SELECT doc_id, CAST(20 + doc_id % 13 AS INT) AS w,
                          CAST(14 + doc_id % 9 AS INT) AS h FROM documents),
        t AS (SELECT doc_id, w, h,
                     greatest(1, CAST(floor(w * least(1.0, 8.0 / greatest(w, h))) AS INT)) AS tw,
                     greatest(1, CAST(floor(h * least(1.0, 8.0 / greatest(w, h))) AS INT)) AS th
              FROM d),
        g AS (SELECT doc_id, w, h, tw, th,
                     unnest(range(CAST(tw AS BIGINT) * th)) AS i FROM t),
        v AS (SELECT doc_id, tw, th,
                     (doc_id + ((i // tw) * h // th) * w + ((i % tw) * w // tw)) % 256 AS v
              FROM g)
        SELECT doc_id AS asset_id, tw AS width, th AS height,
               CAST(tw AS BIGINT) * th AS n_pixels,
               CAST(sum(v) AS BIGINT) AS pix_sum,
               CAST(min(v) AS INT) AS pix_min,
               CAST(max(v) AS INT) AS pix_max
        FROM v GROUP BY doc_id, tw, th
        ORDER BY asset_id""")),

    Q("multimodal_meta",
      (s, dir) => {
        val payload = encode(col("text"), "UTF-8")
        val w = lit(100) + col("doc_id") % 1820
        val h = lit(80) + col("doc_id") % 940
        def hexN(c: Column, n: Int) = lpad(hex(c), n, "0")
        val pngBytes = concat(unhex(concat(
          lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
          hexN(w, 8), hexN(h, 8), lit("0806000000"))), payload)
        val jpegBytes = concat(unhex(concat(
          lit("FFD8" + "FFE00010" + "4A4649460001010000010001" + "0000" +
            "FFC0" + "0011" + "08"),
          hexN(h, 4), hexN(w, 4), lit("03011100021101031101"))), payload)
        val assets = Tables.documents(s, dir).select(col("doc_id"),
          when(col("doc_id") % 3 === 0, pngBytes)
            .when(col("doc_id") % 3 === 1, jpegBytes)
            .otherwise(payload).as("asset"))
        val meta = Multimodal.decodeMeta(assets, "doc_id", "asset")
        Multimodal.resizePlan(meta, maxDim = 512)
          .select("asset_id", "n_bytes", "width", "height", "format",
            "target_width", "target_height")
          .orderBy("asset_id")
      },
      Some("""
        WITH src AS (SELECT doc_id, encode(text) AS payload FROM documents),
        built AS (
          SELECT doc_id,
                 CASE
                   WHEN doc_id % 3 = 0 THEN unhex('89504E470D0A1A0A0000000D49484452' ||
                     lpad(hex(100 + doc_id % 1820), 8, '0') ||
                     lpad(hex(80 + doc_id % 940), 8, '0') || '0806000000') || payload
                   WHEN doc_id % 3 = 1 THEN unhex('FFD8FFE000104A46494600010100000100010000FFC0001108' ||
                     lpad(hex(80 + doc_id % 940), 4, '0') ||
                     lpad(hex(100 + doc_id % 1820), 4, '0') || '03011100021101031101') || payload
                   ELSE payload END AS asset
          FROM src),
        m AS (
          SELECT doc_id AS asset_id,
                 CAST(octet_length(asset) AS BIGINT) AS n_bytes,
                 -- PNG width = BE u32 at byte 16 (hex chars 33-40); JPEG
                 -- width = BE u16 at byte 27 (chars 55-58); stub otherwise
                 CASE WHEN doc_id % 3 = 0 THEN CAST(('0x' || substr(hex(asset), 33, 8)) AS INT)
                      WHEN doc_id % 3 = 1 THEN CAST(('0x' || substr(hex(asset), 55, 4)) AS INT)
                      ELSE CAST(64 + octet_length(asset) % 1856 AS INT) END AS width,
                 -- PNG height = BE u32 at byte 20; JPEG height = BE u16 at
                 -- byte 25; stub uses first UTF-8 BYTE (bytes(0) & 0xff)
                 CASE WHEN doc_id % 3 = 0 THEN CAST(('0x' || substr(hex(asset), 41, 8)) AS INT)
                      WHEN doc_id % 3 = 1 THEN CAST(('0x' || substr(hex(asset), 51, 4)) AS INT)
                      ELSE CAST(64 + (octet_length(asset) * 7 +
                        CASE WHEN octet_length(asset) > 0
                             THEN CAST(('0x' || substr(hex(asset), 1, 2)) AS INT)
                             ELSE 0 END) % 1016 AS INT) END AS height,
                 CASE WHEN doc_id % 3 = 0 THEN 'png'
                      WHEN doc_id % 3 = 1 THEN 'jpeg'
                      ELSE CASE octet_length(asset) % 3
                        WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END
                 END AS format
          FROM built)
        SELECT asset_id, n_bytes, width, height, format,
               CAST(floor(width * least(1.0, 512.0 / greatest(width, height))) AS INT) AS target_width,
               CAST(floor(height * least(1.0, 512.0 / greatest(width, height))) AS INT) AS target_height
        FROM m ORDER BY asset_id""")),

    // Audio twin: WAV/RIFF headers planted with per-doc channels/rate,
    // decodeAudio re-reads the little-endian fmt fields; the oracle
    // re-extracts the same bytes from blob hex (LE pairs re-reversed).
    // Every 3rd doc is non-audio payload and must take the stub row.
    Q("multimodal_audio",
      (s, dir) => {
        val payload = encode(col("text"), "UTF-8")
        def hexN(c: Column, n: Int) = lpad(hex(c), n, "0")
        def le16(c: Column) = {
          val be = hexN(c, 4)
          concat(substring(be, 3, 2), substring(be, 1, 2))
        }
        def le32(c: Column) = {
          val be = hexN(c, 8)
          concat(substring(be, 7, 2), substring(be, 5, 2),
            substring(be, 3, 2), substring(be, 1, 2))
        }
        val channels = lit(1) + col("doc_id") % 2
        val rate = lit(8000) + (col("doc_id") % 6) * 8000
        val wavBytes = concat(unhex(concat(
          lit("52494646" + "24000000" + "57415645" + "666D7420" + "10000000" + "0100"),
          le16(channels), le32(rate),
          le32(rate * channels * 2), le16(channels * 2), lit("1000"),
          lit("64617461" + "00000000"))), payload)
        val assets = Tables.documents(s, dir).select(col("doc_id"),
          when(col("doc_id") % 3 === 2, payload).otherwise(wavBytes).as("asset"))
        Multimodal.decodeAudioMeta(assets, "doc_id", "asset")
          .orderBy("asset_id")
      },
      Some("""
        WITH src AS (SELECT doc_id, encode(text) AS payload FROM documents),
        f AS (
          SELECT doc_id, payload,
                 lpad(hex(1 + doc_id % 2), 4, '0') AS ch_be,
                 lpad(hex(8000 + (doc_id % 6) * 8000), 8, '0') AS rate_be,
                 lpad(hex((8000 + (doc_id % 6) * 8000) * (1 + doc_id % 2) * 2), 8, '0') AS br_be,
                 lpad(hex((1 + doc_id % 2) * 2), 4, '0') AS ba_be
          FROM src),
        built AS (
          SELECT doc_id, payload,
                 CASE WHEN doc_id % 3 = 2 THEN payload
                   ELSE unhex('5249464624000000' || '57415645' ||
                     '666D7420' || '10000000' || '0100' ||
                     substr(ch_be, 3, 2) || substr(ch_be, 1, 2) ||
                     substr(rate_be, 7, 2) || substr(rate_be, 5, 2) ||
                       substr(rate_be, 3, 2) || substr(rate_be, 1, 2) ||
                     substr(br_be, 7, 2) || substr(br_be, 5, 2) ||
                       substr(br_be, 3, 2) || substr(br_be, 1, 2) ||
                     substr(ba_be, 3, 2) || substr(ba_be, 1, 2) ||
                     '1000' || '6461746100000000') || payload
                 END AS asset
          FROM f)
        SELECT doc_id AS asset_id,
               CAST(octet_length(asset) AS BIGINT) AS n_bytes,
               CASE WHEN doc_id % 3 = 2 THEN 1
                 ELSE CAST(('0x' || substr(hex(asset), 47, 2) || substr(hex(asset), 45, 2)) AS INT)
               END AS channels,
               CASE WHEN doc_id % 3 = 2
                 THEN CAST(8000 + (octet_length(asset) % 8) * 4000 AS INT)
                 ELSE CAST(('0x' || substr(hex(asset), 55, 2) || substr(hex(asset), 53, 2) ||
                   substr(hex(asset), 51, 2) || substr(hex(asset), 49, 2)) AS INT)
               END AS sample_rate,
               CASE WHEN doc_id % 3 = 2 THEN 16
                 ELSE CAST(('0x' || substr(hex(asset), 71, 2) || substr(hex(asset), 69, 2)) AS INT)
               END AS bits_per_sample,
               CASE WHEN doc_id % 3 = 2 THEN 'unknown' ELSE 'wav' END AS format
        FROM built ORDER BY asset_id""")),

    // Video twin: MP4/ISO-BMFF blobs planted with per-doc mvhd
    // timescale/duration and trak count — every 3rd doc version-0 mvhd,
    // every 3rd+1 version-1 (64-bit times), the rest raw payload (stub).
    // decodeVideo walks the box tree byte-for-byte; the oracle re-extracts
    // the same header bytes from blob hex, deriving the trak count from
    // the moov/mvhd SIZE fields (not the plant formula).
    Q("multimodal_video",
      (s, dir) => {
        val payload = encode(col("text"), "UTF-8")
        def hexN(c: Column, n: Int) = lpad(hex(c), n, "0")
        val ts = lit(600) * (lit(1) + col("doc_id") % 5)
        val dur = (col("doc_id") % 2977) * 37
        val ntrak = lit(1) + col("doc_id") % 4
        val ftyp = lit("00000014" + "66747970" + "69736F6D" + "00000200" + "6D703432")
        val moovSize = when(col("doc_id") % 3 === 0, lit(116)).otherwise(lit(128)) +
          ntrak * 8
        val mvhd = when(col("doc_id") % 3 === 0,
          concat(lit("0000006C" + "6D766864" + "00000000" + "00000000" + "00000000"),
            hexN(ts, 8), hexN(dur, 8), lit(Mp4Tail)))
          .otherwise(
            concat(lit("00000078" + "6D766864" + "01000000" + ("00" * 8) + ("00" * 8)),
              hexN(ts, 8), hexN(dur, 16), lit(Mp4Tail)))
        val traks = lit("000000087472616B" * 4).substr(lit(1), ntrak.cast("int") * 16)
        val mp4Bytes = concat(unhex(concat(
          ftyp, hexN(moovSize, 8), lit("6D6F6F76"), mvhd, traks,
          hexN(length(payload) + 8, 8), lit("6D646174"))), payload)
        val assets = Tables.documents(s, dir).select(col("doc_id"),
          when(col("doc_id") % 3 === 2, payload).otherwise(mp4Bytes).as("asset"))
        Multimodal.decodeVideoMeta(assets, "doc_id", "asset")
          .orderBy("asset_id")
      },
      Some(s"""
        WITH src AS (SELECT doc_id, encode(text) AS payload FROM documents),
        f AS (
          SELECT doc_id, payload,
                 600 * (1 + doc_id % 5) AS ts,
                 (doc_id % 2977) * 37 AS dur,
                 1 + doc_id % 4 AS ntrak
          FROM src),
        built AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 2 THEN payload
                 ELSE unhex(
                   '000000146674797069736F6D000002006D703432' ||
                   lpad(hex(CASE WHEN doc_id % 3 = 0 THEN 116 ELSE 128 END + 8 * ntrak), 8, '0') ||
                   '6D6F6F76' ||
                   CASE WHEN doc_id % 3 = 0
                     THEN '0000006C6D766864000000000000000000000000' ||
                          lpad(hex(ts), 8, '0') || lpad(hex(dur), 8, '0')
                     ELSE '000000786D76686401000000' || repeat('0', 32) ||
                          lpad(hex(ts), 8, '0') || lpad(hex(dur), 16, '0')
                   END || '$Mp4Tail' ||
                   substr(repeat('000000087472616B', 4), 1, CAST(ntrak * 16 AS INT)) ||
                   lpad(hex(octet_length(payload) + 8), 8, '0') || '6D646174') || payload
                 END AS asset
          FROM f)
        SELECT doc_id AS asset_id,
               CAST(octet_length(asset) AS BIGINT) AS n_bytes,
               CASE WHEN doc_id % 3 = 2 THEN
                   (octet_length(asset) * 13 +
                    CASE WHEN octet_length(asset) > 0
                         THEN CAST(('0x' || substr(hex(asset), 1, 2)) AS INT)
                         ELSE 0 END) % 600000
                 WHEN doc_id % 3 = 0 THEN
                   (CAST(('0x' || substr(hex(asset), 105, 8)) AS BIGINT) * 1000) //
                     CAST(('0x' || substr(hex(asset), 97, 8)) AS BIGINT)
                 ELSE
                   (CAST(('0x' || substr(hex(asset), 121, 16)) AS BIGINT) * 1000) //
                     CAST(('0x' || substr(hex(asset), 113, 8)) AS BIGINT)
               END AS duration_ms,
               CASE WHEN doc_id % 3 = 2 THEN CAST(90000 AS BIGINT)
                 WHEN doc_id % 3 = 0 THEN CAST(('0x' || substr(hex(asset), 97, 8)) AS BIGINT)
                 ELSE CAST(('0x' || substr(hex(asset), 113, 8)) AS BIGINT)
               END AS timescale,
               CASE WHEN doc_id % 3 = 2
                 THEN CAST(1 + octet_length(asset) % 4 AS INT)
                 ELSE CAST((CAST(('0x' || substr(hex(asset), 41, 8)) AS INT) - 8 -
                   CAST(('0x' || substr(hex(asset), 57, 8)) AS INT)) // 8 AS INT)
               END AS n_tracks,
               CASE WHEN doc_id % 3 = 2 THEN 'none'
                 ELSE decode(unhex(substr(hex(asset), 17, 8))) END AS brand,
               CASE WHEN doc_id % 3 = 2 THEN 'unknown' ELSE 'mp4' END AS format
        FROM built ORDER BY asset_id""")),

    // REAL audio decode + feature extraction (no stub): WAV blobs planted
    // with a correct data-chunk size, then ONE codegen'd pass over the
    // 16-bit PCM samples (WavPcmStats — decode IS byte interpretation for
    // PCM, no codec library needed). All feature columns are exact
    // integers (sum of squares, peak, per-channel zero crossings), so the
    // DuckDB oracle — which re-decodes every sample from blob hex with
    // sign extension and a per-channel LAG — hash-matches bit-for-bit;
    // rms is the one derived float, rounded on both sides. Every 3rd doc
    // is non-audio payload and must yield NULL features (filterable, not
    // a fake stub average).
    Q("multimodal_pcm_features",
      (s, dir) => {
        val payload = encode(col("text"), "UTF-8")
        def hexN(c: Column, n: Int) = lpad(hex(c), n, "0")
        def le16(c: Column) = {
          val be = hexN(c, 4)
          concat(substring(be, 3, 2), substring(be, 1, 2))
        }
        def le32(c: Column) = {
          val be = hexN(c, 8)
          concat(substring(be, 7, 2), substring(be, 5, 2),
            substring(be, 3, 2), substring(be, 1, 2))
        }
        val ch = lit(1) + col("doc_id") % 2
        val rate = lit(8000) + (col("doc_id") % 6) * 8000
        val dlen = length(payload) - length(payload) % (ch * 2)
        val wavBytes = concat(unhex(concat(
          lit("52494646"), le32(dlen + 36),
          lit("57415645" + "666D7420" + "10000000" + "0100"),
          le16(ch), le32(rate), le32(rate * ch * 2), le16(ch * 2), lit("1000"),
          lit("64617461"), le32(dlen))), payload)
        val assets = Tables.documents(s, dir).select(col("doc_id"),
          when(col("doc_id") % 3 === 2, payload).otherwise(wavBytes).as("asset"))
        Multimodal.pcmFeatures(assets, "doc_id", "asset")
          .withColumn("rms", graft.Num.dround(col("rms"), 4))
          .orderBy("asset_id")
      },
      Some("""
        WITH src AS (SELECT doc_id, encode(text) AS payload FROM documents),
        f AS (
          SELECT doc_id, payload,
                 1 + doc_id % 2 AS ch,
                 8000 + (doc_id % 6) * 8000 AS rate,
                 octet_length(payload)
                   - octet_length(payload) % ((1 + doc_id % 2) * 2) AS dlen
          FROM src),
        hx AS (
          SELECT doc_id, ch, rate, dlen, payload,
                 lpad(hex(ch), 4, '0') AS ch_be,
                 lpad(hex(rate), 8, '0') AS rate_be,
                 lpad(hex(rate * ch * 2), 8, '0') AS br_be,
                 lpad(hex(ch * 2), 4, '0') AS ba_be,
                 lpad(hex(dlen + 36), 8, '0') AS rs_be,
                 lpad(hex(dlen), 8, '0') AS dl_be
          FROM f),
        built AS (
          SELECT doc_id, ch, rate, dlen,
                 CASE WHEN doc_id % 3 = 2 THEN payload
                   ELSE unhex('52494646' ||
                     substr(rs_be,7,2)||substr(rs_be,5,2)||substr(rs_be,3,2)||substr(rs_be,1,2) ||
                     '57415645' || '666D7420' || '10000000' || '0100' ||
                     substr(ch_be,3,2)||substr(ch_be,1,2) ||
                     substr(rate_be,7,2)||substr(rate_be,5,2)||substr(rate_be,3,2)||substr(rate_be,1,2) ||
                     substr(br_be,7,2)||substr(br_be,5,2)||substr(br_be,3,2)||substr(br_be,1,2) ||
                     substr(ba_be,3,2)||substr(ba_be,1,2) ||
                     '1000' || '64617461' ||
                     substr(dl_be,7,2)||substr(dl_be,5,2)||substr(dl_be,3,2)||substr(dl_be,1,2)) || payload
                 END AS asset
          FROM hx),
        samp AS (
          SELECT doc_id, ch, p,
                 CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
          FROM (
            SELECT doc_id, ch, p,
                   CAST(('0x' || substr(h, CAST(91 + 4*p AS INT), 2)
                              || substr(h, CAST(89 + 4*p AS INT), 2)) AS INT) AS v
            FROM (SELECT doc_id, ch, hex(asset) AS h,
                         unnest(range(dlen // 2)) AS p
                  FROM built WHERE doc_id % 3 <> 2) b) q),
        z AS (
          SELECT doc_id, p, s,
                 LAG(s) OVER (PARTITION BY doc_id, p % ch ORDER BY p) AS prev
          FROM samp),
        agg AS (
          SELECT doc_id,
                 CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
                 CAST(MAX(ABS(s)) AS INT) AS peak,
                 CAST(COUNT(*) FILTER (
                   WHERE prev IS NOT NULL AND (prev >= 0) <> (s >= 0)
                 ) AS BIGINT) AS zero_crossings
          FROM z GROUP BY doc_id)
        SELECT b.doc_id AS asset_id,
               CAST(octet_length(asset) AS BIGINT) AS n_bytes,
               CASE WHEN b.doc_id % 3 = 2 THEN NULL
                    ELSE CAST(ch AS INT) END AS channels,
               CASE WHEN b.doc_id % 3 = 2 THEN NULL
                    ELSE CAST(rate AS INT) END AS sample_rate,
               CASE WHEN b.doc_id % 3 = 2 THEN NULL
                    ELSE CAST(dlen // 2 AS BIGINT) END AS n_samples,
               CASE WHEN b.doc_id % 3 = 2 THEN NULL
                    ELSE CAST(((dlen // 2) // ch) * 1000 // rate AS BIGINT)
                    END AS duration_ms,
               CASE WHEN b.doc_id % 3 = 2 THEN NULL
                    ELSE coalesce(a.sum_sq, 0) END AS sum_sq,
               CASE WHEN b.doc_id % 3 = 2 THEN NULL
                    ELSE coalesce(a.peak, 0) END AS peak,
               CASE WHEN b.doc_id % 3 = 2 THEN NULL
                    ELSE coalesce(a.zero_crossings, 0) END AS zero_crossings,
               CASE WHEN b.doc_id % 3 = 2 OR dlen = 0 THEN NULL
                    ELSE floor(sqrt(CAST(coalesce(a.sum_sq, 0) AS DOUBLE)
                           / (dlen // 2)) * 10000 + 0.5) / 10000
                    END AS rms
        FROM built b LEFT JOIN agg a USING (doc_id)
        ORDER BY asset_id""")),

    // Gap-based sessionization (session_window) — the same plan Structured
    // Streaming runs with a watermark.
    Q("events_sessionize",
      (s, dir) => StreamOps.sessionize(Tables.events(s, dir), gap = "30 minutes")
        .select(col("user_id"),
          date_trunc("second", col("session_start")).as("session_start"),
          date_trunc("second", col("session_end")).as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start"),
      Some("""
        WITH x AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM events),
        s AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM x)
        SELECT user_id,
               date_trunc('second', min(ts)) AS session_start,
               date_trunc('second', max(ts)) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, session_start""")),

    // Session-distribution summary over the sessionize frame: sessions
    // bucketed by event count with volume and mean duration per bucket —
    // the one-page engagement shape behind session-based sampling and
    // bot screening. Durations are exact µs longs; the mean rides the
    // single-division-of-exact-operands discipline.
    Q("events_session_stats",
      (s, dir) => {
        val sess = StreamOps.sessionize(Tables.events(s, dir), gap = "30 minutes")
          .select(col("n_events"),
            (unix_micros(col("session_end")) - unix_micros(col("session_start")))
              .as("_gf_dur_us"))
        val bucket = when(col("n_events") === 1, "1")
          .when(col("n_events") <= 3, "2-3")
          .when(col("n_events") <= 7, "4-7")
          .otherwise("8+")
        sess.groupBy(bucket.as("events_bucket"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("total_events"),
            graft.Num.dround(
              sum(col("_gf_dur_us")).cast("double")
                / count(lit(1)).cast("double") / lit(1e6), 3)
              .as("avg_duration_s"))
          .orderBy("events_bucket")
      },
      Some("""
        WITH x AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM events),
        s AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM x),
        sess AS (
          SELECT CAST(count(*) AS BIGINT) AS n_events,
                 epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
          FROM s GROUP BY user_id, sid),
        b AS (
          SELECT CASE WHEN n_events = 1 THEN '1'
                      WHEN n_events <= 3 THEN '2-3'
                      WHEN n_events <= 7 THEN '4-7'
                      ELSE '8+' END AS events_bucket,
                 n_events, dur_us
          FROM sess)
        SELECT events_bucket,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS total_events,
               floor((CAST(sum(dur_us) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6) * 1e3 + 0.5) / 1e3
                 AS avg_duration_s
        FROM b GROUP BY events_bucket ORDER BY events_bucket""")),

    // Microsecond-granularity gap query: min inter-event gap in µs per
    // user. Exists to pin the events ns→µs INTEGER truncation in
    // Tables.events — with double division (the old bug) ~6% of rows are
    // off by 1µs and this hash-mismatches vs DuckDB's truncated-µs read.
    Q("events_min_gap_us",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("us")
        Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .withColumn("gap", col("us") - lag("us", 1).over(w))
          .filter(col("gap").isNotNull)
          .groupBy("user_id")
          .agg(min("gap").as("min_gap_us"))
          .orderBy("user_id")
      },
      Some("""
        WITH x AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        g AS (SELECT user_id,
                     us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
              FROM x)
        SELECT user_id, min(gap) AS min_gap_us
        FROM g WHERE gap IS NOT NULL
        GROUP BY user_id ORDER BY user_id""")),

    // Semi-structured extraction from the events.props JSON column.
    Q("events_json_extract",
      (s, dir) => Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id"),
      Some("""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events ORDER BY event_id""")),

    // Report-tables export bundle (the reference's one-command report
    // surface — report_generator.py / report_html.py / summary_plots.py —
    // as DATA): the five per-module summary frames written through the
    // Reports/Artifacts layout (manifest LAST), then the describe table
    // read BACK from the bundle. The frames and the oracle are taken from
    // the registered per-module queries THEMSELVES (one owner — the
    // bundle cannot drift from the gates), so a hash match proves the
    // round trip through the bundle is value-identical to the direct
    // query: write → manifest → manifest-routed read-back ≡ running the
    // module. ArtifactsSpec covers the refusal paths.
    Q("report_bundle",
      (s, dir) => {
        val modules = Seq(
          "describe" -> registered(ProfileQueries.all, "profile_describe"),
          "validation" -> registered(ValidationQueries.all, "validate_suite"),
          "outlier_log" -> registered(DedupOutlierQueries.all, "outliers_log"),
          "impute_changelog" -> registered(AuditQueries.all, "impute_changelog"),
          "health_score" -> registered(AuditQueries.all, "health_score"))
        val out = NearDupQueries.scratchIndexDir(s, "report", dir)
        Reports.writeBundle(s,
          modules.map { case (n, q) => n -> q.run(s, dir) }, out, "run1")
        Reports.readTable(s, out, "run1", "describe")
          .orderBy("column_name")
      },
      Some(registered(ProfileQueries.all, "profile_describe").oracle.get))
  )

  /** Look up a registered query by name in its owning module — the
    * report bundle reuses the module queries' own builders and oracles
    * so there is exactly ONE owner per report table. */
  private def registered(owner: Seq[Q], name: String): Q =
    owner.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"no registered query '$name'"))
}
