package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-level curation operators for LLM training-data pipelines, beyond
  * the per-document signals in [[TextAnalysis]]: duplicate-span removal
  * (C4-style), benchmark decontamination (n-gram overlap), and PII
  * scanning/redaction.
  *
  * All three are pure DataFrame compositions: the only shuffles are keyed
  * aggregations/joins on span or n-gram keys (map-side combined), never on
  * document text, so each scales to corpus-sized inputs. (The reference
  * repo has no corpus module; these extend its QA surface the way its
  * duplicate/validation modules treat tabular rows.)
  */
object CorpusOps {

  /** C4-style duplicate-span removal, expressed over non-overlapping
    * windows of `window` consecutive tokens ("segments"): any segment whose
    * exact token sequence occurs elsewhere in the corpus is removed unless
    * this occurrence is the globally first one (min (doc, segment-index)).
    *
    * Returns one row per non-blank document:
    * (id, n_segments, n_kept, kept_hash) where kept_hash is the md5 of the
    * surviving segments re-joined in order — callers wanting the cleaned
    * text itself re-join the same frame without the hash.
    *
    * Scale shape: posexplode(tokens) → one (doc, segment) aggregation →
    * one keyed count over segment text → equi-join back → one per-doc
    * aggregation. Segment frequency and first-occurrence rank ride a
    * single groupBy with map-side partial aggregation; documents are never
    * replicated, and nothing is collected to the driver.
    *
    * The first-occurrence rank is `id * SegRank + segment-index`, which
    * requires ids below ~9e12 and fewer than [[SegRank]] segments per doc
    * (enforced) so external SQL engines reproduce the exact BIGINT.
    */
  val SegRank = 1000000L

  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 10): DataFrame = {
    require(window >= 1, s"segment window must be >= 1, got $window")
    val toks = docs
      .select(col(idCol).as("_gf_id"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("_gf_pos", "_gf_tok")))
      .filter(length(col("_gf_tok")) > 0)
    val segs = toks
      .groupBy(col("_gf_id"),
        floor(col("_gf_pos") / lit(window)).cast("int").as("_gf_seg"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_gf_pos"), col("_gf_tok")))),
          s => s.getField("_gf_tok")), " ").as("_gf_segment"))
    // Rank preconditions are enforced, not assumed: a doc with >= SegRank
    // segments or an id outside [0, Long.Max/SegRank] would silently
    // corrupt the packed rank (range collision / Long overflow) and elect
    // the wrong "first" occurrence — fail loudly instead.
    val maxId = Long.MaxValue / SegRank
    val idL = col("_gf_id").cast(LongType)
    val rank = when(col("_gf_seg") >= lit(SegRank) || idL < 0 || idL > lit(maxId),
        raise_error(concat(lit("graft: segmentDedup rank precondition violated (id "),
          idL.cast("string"), lit(", segment "), col("_gf_seg").cast("string"),
          lit(s") — need 0 <= id <= $maxId and < $SegRank segments/doc"))).cast(LongType))
      .otherwise(idL * lit(SegRank) + col("_gf_seg"))
    // Frequency keyed on the 64-bit segment hash, not the segment text: the
    // count shuffle then carries 8-byte keys instead of window-sized
    // strings. (Standard 64-bit-fingerprint trade: a collision merges two
    // distinct segments — ~n²/2⁶⁵, negligible at corpus scale.)
    val withHash = segs.withColumn("_gf_h", xxhash64(col("_gf_segment")))
    val stats = withHash
      .groupBy("_gf_h")
      .agg(count(lit(1)).as("_gf_cnt"), min(rank).as("_gf_first"))
    val keep = col("_gf_cnt") === 1 || rank === col("_gf_first")
    withHash.join(stats, "_gf_h")
      .groupBy(col("_gf_id").as(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(keep, struct(col("_gf_seg"), col("_gf_segment"))))),
            s => s.getField("_gf_segment")), " ").cast("binary")).as("kept_hash"))
  }

  /** Cross-document n-gram CONTAINMENT pairs — the asymmetric near-dup
    * Jaccard misses: a short document quoted inside a long one scores
    * containment(A in B) = |grams(A) ∩ grams(B)| / |grams(A)| ≈ 1 while
    * its Jaccard stays near |A|/|B| (under every MinHash threshold). The
    * excerpt/quotation check a curation pipeline runs next to symmetric
    * near-dedup.
    *
    * Scale shape: documents explode to DISTINCT grams; grams whose
    * document frequency exceeds `maxDf` are dropped BEFORE the gram
    * self-join — the [[graft.dedup.MinHash.dedup]] mega-cluster argument
    * again: a boilerplate gram shared by m docs would emit m² candidate
    * rows (join-output explosion no partition split can absorb), and a
    * gram that common is non-discriminative anyway (the standard df-cap;
    * the cap is part of the SEMANTICS, mirrored by the oracle). The join
    * then carries only discriminative (gram, id) pairs, shared-gram
    * counts aggregate per ordered pair, and each divides by the
    * contained side's distinct-gram count.
    *
    * Returns (id_a, id_b, n_shared, n_a, containment) for ORDERED pairs
    * a ≠ b with containment(A in B) ≥ threshold, containment at 6dp —
    * both directions can appear (asymmetric by design: the excerpt is
    * contained in the parent, not vice versa). Documents with fewer than
    * `n` tokens have no grams at this granularity and pair with nothing
    * (the [[TextAnalysis.ngrams]] empty-array convention — containment
    * needs at least one full window of evidence). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 8, maxDf: Int = 1000,
                       threshold: Double = 0.8): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(maxDf >= 2, s"maxDf must be >= 2 (a df-1 gram can pair nothing), got $maxDf")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val grams = docs
      .select(col(idCol).as("_gf_id"),
        explode(TextAnalysis.ngrams(col(textCol), n)).as("_gf_gram"))
      .filter(length(col("_gf_gram")) > 0)
      .distinct()
    val sizes = grams.groupBy("_gf_id").agg(count(lit(1)).as("n_a"))
    val rare = grams.join(
      grams.groupBy("_gf_gram").agg(count(lit(1)).as("_gf_df"))
        .filter(col("_gf_df") <= maxDf)
        .select("_gf_gram"),
      Seq("_gf_gram"), "left_semi")
    val shared = rare.select(col("_gf_gram"), col("_gf_id").as("id_a"))
      .join(rare.select(col("_gf_gram"), col("_gf_id").as("id_b")), Seq("_gf_gram"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("_gf_id").as("id_a"), col("n_a")), Seq("id_a"))
      .withColumn("containment",
        graft.Num.dround(col("n_shared").cast("double") / col("n_a"), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_shared", "n_a", "containment")
  }

  /** Benchmark decontamination: for each corpus document, the number of
    * distinct word `n`-grams it shares with the benchmark set — the
    * standard held-out-eval overlap check (GPT-2/GPT-3-style n-gram
    * decontamination). Returns (id, n_overlap) for documents with at least
    * one shared n-gram; callers anti-join this against the corpus to drop
    * or quarantine contaminated documents.
    *
    * Scale shape: both sides explode to distinct n-grams (map-side
    * combined dedup), then one equi-join on the gram key and one per-doc
    * count. The benchmark side is a gram dictionary — Catalyst broadcasts
    * it while it fits and falls back to a sort-merge join beyond that; the
    * corpus text itself never rides a shuffle. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame =
    overlapCounts(corpus, benchGrams(bench, textCol, n), idCol, textCol, n,
      probe = None)

  /** Per-document contamination audit — the graded form of
    * [[decontaminate]] (GPT-3's appendix C measured n-gram collision
    * RATES; a binary drop is just a threshold on this): for EVERY corpus
    * document, its distinct-gram count, how many of those grams appear in
    * the benchmark suite, and the overlap fraction (dround'd, blank docs
    * 0). The drop rule becomes a downstream `overlap_frac` filter instead
    * of being baked in.
    *
    * Scale shape: the same distinct-gram exchange + gram equi-join as the
    * exact path, except the join is LEFT (every doc gram must be counted,
    * so the Bloom pre-probe does NOT apply — pruned grams would vanish
    * from `n_grams`), plus a left join back to ids so zero-overlap and
    * zero-gram docs still report. Only 8-byte-hashable gram strings and
    * (id, count) pairs ride the shuffles; corpus text never does. */
  def overlapFraction(corpus: DataFrame, bench: DataFrame, idCol: String,
                      textCol: String, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val grams = benchGrams(bench, textCol, n)
    val agg = corpus
      .select(col(idCol).as("_gf_id"),
        explode(TextAnalysis.ngrams(col(textCol), n)).as("_gf_gram"))
      .filter(length(col("_gf_gram")) > 0)
      .distinct()
      .join(grams.withColumn("_gf_hit", lit(1)), Seq("_gf_gram"), "left")
      .groupBy(col("_gf_id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_gf_hit"), lit(0))).as("n_overlap"))
    corpus.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        graft.Num.dround(
          coalesce(col("n_overlap"), lit(0L)).cast(DoubleType) /
            greatest(coalesce(col("n_grams"), lit(0L)).cast(DoubleType), lit(1.0)),
          6).as("overlap_frac"))
  }

  /** The distinct-gram dictionary of the benchmark side. */
  private def benchGrams(bench: DataFrame, textCol: String, n: Int): DataFrame =
    bench
      .select(explode(TextAnalysis.ngrams(col(textCol), n)).as("_gf_gram"))
      .filter(length(col("_gf_gram")) > 0)
      .distinct()

  /** Shared overlap pipeline of BOTH decontamination paths — corpus grams
    * (optionally pre-filtered by `probe`, the Bloom fast path) distinct'd,
    * equi-joined against the gram dictionary, counted per doc. One
    * builder, so the Bloom variant's value-identity to the exact path is
    * structural, not a convention two copies must maintain. */
  private def overlapCounts(corpus: DataFrame, grams: DataFrame,
                            idCol: String, textCol: String, n: Int,
                            probe: Option[Column]): DataFrame = {
    val exploded = corpus
      .select(col(idCol).as("_gf_id"),
        explode(TextAnalysis.ngrams(col(textCol), n)).as("_gf_gram"))
      .filter(length(col("_gf_gram")) > 0)
    probe.fold(exploded)(p => exploded.filter(p))
      .distinct()
      .join(grams, "_gf_gram")
      .groupBy(col("_gf_id").as(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** [[decontaminate]] with a broadcast Bloom runtime filter on the corpus
    * side — same exact result, a fraction of the shuffle.
    *
    * The plain path's dominant cost at 100 TB is the corpus gram
    * `distinct()`: every (doc, gram) pair rides that exchange even though
    * almost none match a benchmark gram. Here the benchmark grams (the
    * small side — an eval suite, not the corpus) are folded into a Bloom
    * filter over `xxhash64(gram)` and broadcast; corpus grams are probed
    * BEFORE the distinct, so only matching grams — plus an `fpp` fraction
    * of false positives — reach the exchange and the exact string join.
    *
    * Exactness is independent of `fpp`: Bloom filters have no false
    * negatives (a pruned gram provably isn't in the benchmark) and false
    * positives are eliminated by the exact gram equi-join that follows,
    * so `fpp` tunes only the shuffle-reduction factor. Filter size is
    * ~1.2 bytes/gram at the default 1% — a 10⁸-gram benchmark suite
    * broadcasts ~120 MB, which is why the benchmark must be the small
    * side (the corpus never is). */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int = 8,
                         fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp=$fpp must be in (0,1)")
    val grams = benchGrams(bench, textCol, n)
    // The Bloom build is EAGER (count for expectedNumItems + the filter
    // aggregation). Cache the hash frame across those two actions so
    // the bench tokenize/explode/distinct runs once at build time; the
    // (lazy) exact join recomputes the gram dictionary once more per
    // downstream action — one extra bench scan, as a dictionary that
    // small warrants.
    graft.Cached.using(grams.select(xxhash64(col("_gf_gram")).as("_gf_h"))) { hashes =>
      // Empty benchmark: nothing can overlap (and stat.bloomFilter NPEs
      // on an empty frame) — return the empty result with the right schema.
      val nGrams = hashes.count()
      if (nGrams == 0)
        corpus.select(col(idCol)).limit(0).withColumn("n_overlap", lit(0L))
      else {
        val bf = hashes.stat.bloomFilter("_gf_h", nGrams, fpp)
        val bc = corpus.sparkSession.sparkContext.broadcast(bf)
        overlapCounts(corpus, grams, idCol, textCol, n,
          probe = Some(graft.functions.BloomMightContain(
            xxhash64(col("_gf_gram")), bc)))
      }
    }
  }

  /** PII patterns deliberately restricted to the regex subset Java and
    * RE2-family engines interpret identically (char classes, bounded
    * repetition, \b word boundaries — no lookaround, no backrefs). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val SsnPattern   = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** Redaction order is part of the contract: emails first (an address can
    * contain digit runs an IP/SSN pattern would otherwise bite into), then
    * IPs, then SSNs. */
  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      SsnPattern, "<SSN>")

  /** DuckDB mirror of [[redact]] — built from the SAME pattern constants so
    * a pattern tune can never silently diverge the oracle. */
  def sqlRedact(e: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($e, " +
      s"'$EmailPattern', '<EMAIL>', 'g'), " +
      s"'$Ipv4Pattern', '<IP>', 'g'), " +
      s"'$SsnPattern', '<SSN>', 'g')"

  /** Per-document PII scan: match counts per category plus the md5 of the
    * redacted text (the artifact a pipeline persists; the raw redacted
    * text is [[redact]] applied directly). Pure per-row regex projection —
    * codegen'd, no shuffle at any scale. */
  def piiSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = col(textCol)
    docs.select(
      col(idCol),
      regexp_count(c, lit(EmailPattern)).as("n_email"),
      regexp_count(c, lit(Ipv4Pattern)).as("n_ip"),
      regexp_count(c, lit(SsnPattern)).as("n_ssn"),
      md5(redact(c).cast("binary")).as("redacted_hash"))
  }

  /** v2 PII pack: E.164/US phone (3-3-4 digit groups, optional +1/1
    * prefix, REQUIRED separators between groups — a bare 11-digit run is
    * not a phone) and 16-digit PAN candidates gated by the Luhn checksum
    * (detection counts and redaction touch ONLY checksum-valid PANs; a
    * 16-digit run failing Luhn is a random id, not a card — redacting it
    * would be the false-positive class a release gate must not have).
    * Same RE2-safe pattern discipline as the v1 trio (reference
    * ingest_pipeline PII handling parity; patterns restricted to the
    * subset Java and RE2 engines interpret identically). */
  val PhonePattern =
    "(\\+?1[-. ]?)?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  val PanPattern = "\\b[0-9]{16}\\b"

  /** Luhn checksum of a 16-digit candidate string: for even length the
    * doubled digits sit at ODD 1-based positions from the LEFT; dbl(d) =
    * 2d − 9·[d ≥ 5]. Pure positional integer arithmetic — the identical
    * expression runs in both engines ([[sqlLuhnValid]]). */
  def luhnValid(c: Column): Column = {
    val total = aggregate(sequence(lit(1), lit(16)), lit(0), (acc, p) => {
      val d = c.substr(p, lit(1)).cast("int")
      acc + when(p % 2 === 1, d * 2 - when(d >= 5, 9).otherwise(0)).otherwise(d)
    })
    length(c) === 16 && total % 10 === 0
  }

  /** DuckDB mirror of [[luhnValid]] over a VARCHAR expression `x`. */
  def sqlLuhnValid(x: String): String =
    s"""(length($x) = 16 AND list_sum(list_transform(generate_series(1, 16), p ->
        CASE WHEN p % 2 = 1
             THEN CAST(substring($x, p, 1) AS INT) * 2
                  - CASE WHEN CAST(substring($x, p, 1) AS INT) >= 5 THEN 9 ELSE 0 END
             ELSE CAST(substring($x, p, 1) AS INT) END)) % 10 = 0)"""

  /** Luhn-valid PAN candidates of a text column, in document order. */
  def validPans(c: Column): Column =
    filter(regexp_extract_all(c, lit(PanPattern), lit(0)), luhnValid _)

  /** v2 redaction order (the v1 contract extended): emails first, then
    * Luhn-valid PANs (longest digit runs — scanned on the email-redacted
    * text so an address's digit run can't double-count), then phones,
    * then IPs, then SSNs. PAN replacement folds over the valid-candidate
    * list with a \b-anchored literal pattern per candidate (digits only,
    * so the built regex is injection-free); duplicate candidates are
    * no-ops after the first global replace. */
  def redactV2(c: Column): Column = {
    val e = regexp_replace(c, EmailPattern, "<EMAIL>")
    val p = aggregate(validPans(e), e, (acc, x) =>
      regexp_replace(acc, concat(lit("\\b"), x, lit("\\b")), lit("<PAN>")))
    regexp_replace(
      regexp_replace(
        regexp_replace(p, PhonePattern, "<PHONE>"),
        Ipv4Pattern, "<IP>"),
      SsnPattern, "<SSN>")
  }

  /** DuckDB mirror of [[redactV2]] — built from the SAME pattern
    * constants and the same email → PAN → phone → IP → SSN order. */
  def sqlRedactV2(e: String): String = {
    val er = s"regexp_replace($e, '$EmailPattern', '<EMAIL>', 'g')"
    val panFold =
      s"""list_reduce(list_prepend($er,
            list_filter(regexp_extract_all($er, '$PanPattern'),
              x -> ${sqlLuhnValid("x")})),
          (acc, x) -> regexp_replace(acc, '\\b' || x || '\\b', '<PAN>', 'g'))"""
    s"""regexp_replace(regexp_replace(regexp_replace($panFold,
        '$PhonePattern', '<PHONE>', 'g'),
        '$Ipv4Pattern', '<IP>', 'g'),
        '$SsnPattern', '<SSN>', 'g')"""
  }

  /** Per-document v2 PII scan: the v1 counts plus phone and Luhn-valid
    * PAN counts, and the md5 of the [[redactV2]] text. Counts scan the
    * raw text; still one codegen'd per-row projection, no shuffle. */
  def piiSignalsV2(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = col(textCol)
    docs.select(
      col(idCol),
      regexp_count(c, lit(EmailPattern)).as("n_email"),
      regexp_count(c, lit(Ipv4Pattern)).as("n_ip"),
      regexp_count(c, lit(SsnPattern)).as("n_ssn"),
      regexp_count(c, lit(PhonePattern)).as("n_phone"),
      size(validPans(c)).as("n_pan"),
      md5(redactV2(c).cast("binary")).as("redacted_hash"))
  }

  /** Cross-document repeated-SPAN removal — exact substring dedup in the
    * style of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022, public paper): every n-token span that
    * occurs more than once ANYWHERE in the corpus (across documents or
    * within one) is removed from all but its first occurrence, while the
    * surrounding novel text survives. This is the level between the
    * document-global near-dup family (rows 46-49: drops WHOLE documents)
    * and C4 segment dedup (row 60: drops exact newline-delimited
    * segments): quoted boilerplate, license headers, and copied passages
    * inside otherwise-novel documents.
    *
    * Semantics:
    *  - detection is case-insensitive ([[TextAnalysis.ngrams]] tokens),
    *    output preserves the original tokens' case;
    *  - "first occurrence" is the (id, position)-smallest — deterministic
    *    across runs and partitionings;
    *  - overlapping duplicate grams union into one removed span, so a
    *    copied passage of length L ≥ n vanishes in one piece;
    *  - output text is whitespace-normalized (tokens joined by one
    *    space) — the same contract as [[graft.text.Chunking]].
    *
    * 100 TB shape: grams travel as (hash, id, pos) — 20 bytes each, never
    * strings; keep-first is a MIN-AGGREGATE per hash (map-side combined —
    * skew-robust against the boilerplate gram that occurs 10⁹ times,
    * where a rank window would sort one reducer's mountain); only
    * hashes with count > 1 survive to the join. The CUT is relational,
    * not a per-row scan: each duplicate gram explodes to its n deleted
    * token indexes, `distinct` collapses the overlap (rows bounded by
    * corpus token count, shuffling as 16-byte (id, idx) pairs), and the
    * kept text is rebuilt by anti-joining the posexploded tokens of the
    * AFFECTED documents only — a fully-duplicated L-token boilerplate
    * page costs O(L·n) exploded rows, never the O(L²) span-membership
    * scan of a per-token `exists` over an unmerged span list. Untouched
    * documents never leave the projection fast path. */
  def dedupeSpans(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 16): DataFrame = {
    require(n >= 2, s"dedupeSpans needs n >= 2, got $n")
    val base = docs.select(col(idCol), col(textCol))
    val grams = base
      .select(col(idCol).as("_gf_id"),
        posexplode(TextAnalysis.ngrams(col(textCol), n))
          .as(Seq("_gf_pos", "_gf_gram")))
      .filter(length(col("_gf_gram")) > 0)
      .select(col("_gf_id"), col("_gf_pos"),
        xxhash64(col("_gf_gram")).as("_gf_h"))
    val firsts = grams.groupBy("_gf_h").agg(
      min(struct(col("_gf_id"), col("_gf_pos"))).as("_gf_first"),
      count(lit(1)).as("_gf_cnt"))
      .filter(col("_gf_cnt") > 1)
      .select(col("_gf_h"), col("_gf_first"))
    // Every non-first occurrence of a duplicated gram deletes its n token
    // indexes; overlapping grams of one copied passage collapse under the
    // distinct into one contiguous run of (id, idx) rows.
    val deleted = grams.join(firsts, Seq("_gf_h"))
      .filter(!(col("_gf_id") === col("_gf_first._gf_id") &&
        col("_gf_pos") === col("_gf_first._gf_pos")))
      .select(col("_gf_id"),
        explode(sequence(col("_gf_pos"), col("_gf_pos") + (n - 1))).as("_gf_i"))
      .distinct()
    val removed = deleted.groupBy("_gf_id")
      .agg(count(lit(1)).cast("int").as("_gf_nrm"))
    val toks = split(trim(col(textCol)), "\\s+")
    // Token-level rebuild only for documents that actually lose a span.
    val affectedToks = base
      .join(removed.select(col("_gf_id").as(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(toks).as(Seq("_gf_i", "_gf_t")))
    val rebuilt = affectedToks
      .join(deleted.withColumnRenamed("_gf_id", idCol), Seq(idCol, "_gf_i"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_gf_i"), col("_gf_t")))),
        s => s.getField("_gf_t")), " ").as("_gf_clean"))
    base
      .join(removed.withColumnRenamed("_gf_id", idCol), Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        when(col("_gf_nrm").isNull,
          when(length(trim(col(textCol))) === 0, lit(""))
            .otherwise(array_join(toks, " ")))
          // an entirely-duplicated doc keeps no token: rebuilt has no row
          .otherwise(coalesce(col("_gf_clean"), lit("")))
          .as("clean_text"),
        coalesce(col("_gf_nrm"), lit(0)).as("n_removed_tokens"))
  }

  /** Snapshot diff: what changed between two corpus versions — the
    * audit a recurring crawl/curation job publishes with every refresh
    * (how much churned, how much token mass moved). One full-outer join
    * on the 8-byte id; content equality compares 64-bit fingerprints, so
    * TEXT never shuffles — each side projects to (id, hash, tokens)
    * before the join (the standard fingerprint trade: a collision reads
    * as "unchanged", ~n/2⁶⁴). Output is one row per change class with
    * doc and token mass on both sides.
    */
  def diff(oldDf: DataFrame, newDf: DataFrame,
           idCol: String, textCol: String): DataFrame = {
    def slim(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as("_gf_id"),
        xxhash64(col(textCol)).as(s"_gf_h_$side"),
        graft.text.TextAnalysis.tokenCount(col(textCol)).cast("long")
          .as(s"_gf_t_$side"))
    val joined = slim(oldDf, "old")
      .join(slim(newDf, "new"), Seq("_gf_id"), "full_outer")
    val change = when(col("_gf_h_old").isNull, "added")
      .when(col("_gf_h_new").isNull, "removed")
      .when(col("_gf_h_old") =!= col("_gf_h_new"), "changed")
      .otherwise("unchanged")
    joined
      .groupBy(change.as("change"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("_gf_t_old"), lit(0L))).as("n_tokens_old"),
        sum(coalesce(col("_gf_t_new"), lit(0L))).as("n_tokens_new"))
      .orderBy("change")
  }
}
