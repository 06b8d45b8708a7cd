package graft.sim

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the coarse-quantizer
  * scale path next to the random-hyperplane LSH in [[Similarity]].
  *
  * Spark-first shape — a TWO-LEVEL quantizer so the documented
  * `k ≈ n/targetCell` sizing survives 100 TB (at a billion documents that
  * is K in the 10⁵–10⁶ range, which rules out both K centroid literals in
  * a projection and a K×dim driver collect):
  *
  *  - **Coarse level**: Kc = ⌈√K⌉ centroids, trained with a few Lloyd
  *    rounds. Assignment is a broadcast join against the Kc-row centroid
  *    table + one map-side-combining min-aggregate — a relational plan, no
  *    centroid literals. Only the coarse update (Kc×dim doubles) ever
  *    reaches the driver.
  *  - **Fine level**: each coarse cell gets sub-centroids proportional to
  *    its population (Σ ≈ K), seeded by deterministic hash-rank and
  *    refined with Lloyd rounds where assignment is an EQUI-JOIN on the
  *    coarse cell id — each row scores only its own cell's ~√K
  *    sub-centroids, so per-row cost is O(√K·dim), not O(K·dim). The fine
  *    centroid table lives as a cached K-row DataFrame and is never
  *    collected; its Lloyd update is a distributed
  *    posexplode → groupBy(cid,pos) → avg → re-assemble pass.
  *  - **Index**: corpus tagged with its fine cell id. At 100 TB you write
  *    this partitioned/bucketed by `_gf_cid` so a probe reads only the
  *    probed clusters' files.
  *  - **Query**: each query ranks the Kc coarse centroids (broadcast),
  *    keeps its nearest coarse cells, ranks their sub-centroids, probes
  *    the `nprobe` nearest fine cells; the probe list equi-joins the
  *    indexed corpus on `_gf_cid` (only probed cells rerank — the
  *    inverted-file property), exact cosine rerank via the codegen'd
  *    [[graft.functions.VecCosine]], window top-k.
  *
  * All assignment is by cosine, which is scale-invariant: a scaled clone
  * of a vector always quantizes into the same cell at both levels (the
  * invariant [[SemDedup]] relies on). Recall < 1 when a true neighbour's
  * cell is not probed — the standard IVF trade; raise `nprobe` for
  * recall, `k` (cells) for speed.
  */
object Ivf {

  /** Largest k trained single-level (one coarse cell): scoring ≤256
    * sub-centroids per row is cheap, and skipping the coarse split avoids
    * forcing natural clusters across coarse-cell boundaries. Beyond this,
    * the two-level path caps per-row work at O(√k·dim). */
  val SingleLevelMaxK = 256

  /** Index metadata, persisted as the manifest by [[writeIndex]] and
    * validated by [[readIndex]]/[[topK]]. Without it a re-opened index
    * probed with wrong-dimension vectors fails only via
    * [[graft.functions.VecCosine]]'s NULL-on-length-mismatch semantics —
    * i.e. silently, mid-query, with empty-ish results. The manifest turns
    * that into a plan-time raise, matching the fail-loudly contract the
    * MinHash stored-index path already has (k-mismatch raises). */
  final case class IvfMeta(dim: Int, kc: Int, numCells: Long, metric: String,
                           iters: Int, seed: Long)

  /** `coarse`: Kc rows (_gf_ccid, _gf_ccv). `cells`: ≈K rows
    * (_gf_ccid, _gf_cid, _gf_cv). `indexed`: corpus rows
    * (_gf_cid, _gf_id, _gf_v). `meta`: train-time parameters — always
    * present for [[train]]ed and [[readIndex]]-ed indices; None only for
    * hand-assembled frames (then dim validation is skipped). [[train]]
    * caches `coarse` and `cells` (every probe re-reads them); `held` are
    * their handles, which [[release]] runs ([[graft.Cached]]). */
  final case class IvfIndex(coarse: DataFrame, cells: DataFrame,
                            indexed: DataFrame,
                            meta: Option[IvfMeta] = None,
                            held: Seq[graft.Cached.Held] = Nil) {
    /** Number of fine cells actually trained (≈ the requested k). */
    def numCells: Long = cells.count()

    /** Release the trained centroid caches once the index (and anything
      * derived from its lazy `indexed` plan) is no longer needed. */
    def release(): Unit = held.foreach(_.release())
  }

  private def cosDist(v: Column, c: Column): Column =
    lit(1.0) - GraftFunctions.vecCosine(v, c)

  /** Nearest coarse centroid per row: broadcast nested-loop against the
    * Kc-row table, then one min-aggregate (partial aggregation collapses
    * the ×Kc row blow-up map-side before any shuffle). */
  private[sim] def assignCoarse(rows: DataFrame, coarse: DataFrame): DataFrame =
    rows.crossJoin(broadcast(coarse))
      .withColumn("_gf_d", cosDist(col("_gf_v"), col("_gf_ccv")))
      .groupBy("_gf_id")
      .agg(first(col("_gf_v")).as("_gf_v"),
        min(struct(col("_gf_d"), col("_gf_ccid"))).getField("_gf_ccid")
          .as("_gf_ccid"))

  /** Nearest fine centroid per row: EQUI-join on the coarse cell — each
    * row scores only its own cell's sub-centroids — then min-aggregate. */
  private[sim] def assignFine(rows: DataFrame, cells: DataFrame): DataFrame =
    rows.join(cells, Seq("_gf_ccid"))
      .withColumn("_gf_d", cosDist(col("_gf_v"), col("_gf_cv")))
      .groupBy("_gf_id")
      .agg(first(col("_gf_v")).as("_gf_v"),
        min(struct(col("_gf_d"), col("_gf_cid"))).getField("_gf_cid")
          .as("_gf_cid"))

  /** Default target cell population for auto-sized `k` (see [[train]]). */
  val TargetCell = 1024L

  /** Train a ≈`k`-cell two-level index with `iters` Lloyd rounds per level
    * (cosine geometry). Driver traffic is O(√k · dim) — the coarse
    * centroids only; the fine centroid table stays distributed.
    * `k <= 0` auto-sizes to ⌈n / targetCell⌉ (one extra count job) — the
    * `k ≈ n/targetCell` rule that bounds every within-cell self-join to
    * O(n · targetCell), applied for you instead of left as a footnote. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int = 2, seed: Long = 42L,
            targetCell: Long = TargetCell): IvfIndex = {
    require(targetCell > 0, s"targetCell=$targetCell must be positive")
    val kEff =
      if (k > 0) k
      else math.max(1L, math.min(Int.MaxValue.toLong,
        (corpus.count() + targetCell - 1) / targetCell)).toInt
    trainSized(corpus, idCol, vecCol, kEff, iters, seed)
  }

  private def trainSized(corpus: DataFrame, idCol: String, vecCol: String,
                         k: Int, iters: Int, seed: Long): IvfIndex = {
    require(k > 0, s"k=$k clusters must be positive")
    corpus.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => ()
      case other => throw new IllegalArgumentException(
        s"Ivf.train expects $vecCol: array<float>, got ${other.simpleString} — " +
          "cast the embedding column first")
    }
    val spark = corpus.sparkSession
    // Size the TRAINING-LOOP partitioning by corpus volume, not scan
    // width (the FastText epoch-partitioning lesson, r15): every Lloyd
    // round replays this frame, and each replay pays per-task scheduling
    // overhead — measured at sf0.1, SemDedup.dedup over the 32-split
    // scan ran 3.3 s vs 2.1 s over ≤8 splits for identical work. ~64k
    // vectors (~20 MB at dim 64) per partition keeps loop tasks
    // substantial at any scale while the same rule yields thousands of
    // healthy partitions at 100 TB; HASH partitioning by _gf_id both
    // skips round-robin's sort-before-repartition guard and lets the
    // per-round assignment groupBy(_gf_id) reuse the partitioning. The
    // cache is released before returning; one count job materializes
    // it (the kc > 1 quota path needed that count anyway).
    val base0 = graft.Cached.hold(
      corpus.select(col(idCol).as("_gf_id"), col(vecCol).as("_gf_v")))
    val (base, nRows) = graft.Cached.guard(base0) {
      val nRows = base0.df.count()
      val loopParts = math.max(1L, math.min(nRows / 65536L + 1L,
        spark.sparkContext.defaultParallelism.toLong * 16L)).toInt
      if (loopParts >= base0.df.rdd.getNumPartitions) (base0, nRows)
      else {
        val re = graft.Cached.hold(base0.df.repartition(loopParts, col("_gf_id")))
        // materialize before releasing the wide cache
        graft.Cached.guard(re)(re.df.count()): Unit
        base0.release()
        (re, nRows)
      }
    }
    try trainOver(base.df, nRows, k, iters, seed)
    finally base.release()
  }

  /** [[trainSized]]'s Lloyd rounds over the cached, loop-partitioned
    * `(_gf_id, _gf_v)` frame of `nRows` rows. */
  private def trainOver(base: DataFrame, nRows: Long, k: Int, iters: Int,
                        seed: Long): IvfIndex = {
    val spark = base.sparkSession
    import spark.implicits._

    // ---- coarse level: Kc = ceil(sqrt(k)) when k is large ----
    // For small k a single level is both cheaper (no extra corpus pass)
    // and higher quality (no cluster forced to straddle a coarse-cell
    // boundary); the coarse split earns its keep when k is too big for a
    // per-row scoring of all k cells.
    val kc = if (k <= SingleLevelMaxK) 1
             else math.ceil(math.sqrt(k.toDouble)).toInt
    def coarseDf(cs: Seq[Array[Float]]): DataFrame =
      cs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("_gf_ccid", "_gf_ccv")

    // deterministic seed sample: top-Kc by hash — uniform, reproducible
    var coarseSeq: Seq[Array[Float]] = base
      .orderBy(xxhash64(col("_gf_id"), lit(seed)))
      .limit(kc).select("_gf_v").collect()
      .map(_.getSeq[Float](0).toArray).toSeq

    // Lloyd means are exact (graft.Num.qmean, 1e-12 grid): a raw
    // avg(double)'s partition-merge order leaks into the trained
    // centroids, and the embeddings scan is multi-split now (r15) — the
    // trained index must be bit-identical under any layout or core count,
    // like the FastText gate.
    if (kc > 1) for (_ <- 1 to iters) {
      val assigned = assignCoarse(base, coarseDf(coarseSeq))
      val means = assigned
        .select(col("_gf_ccid"), posexplode(col("_gf_v")).as(Seq("_gf_pos", "_gf_x")))
        .groupBy("_gf_ccid", "_gf_pos")
        .agg(graft.Num.qmean(col("_gf_x"), lit(1e12)).as("_gf_m"))
        .collect() // Kc×dim scalars — dimension-sized, like a master list
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
        }
      // empty coarse cells keep their previous centroid
      coarseSeq = coarseSeq.zipWithIndex.map { case (old, ci) =>
        means.get(ci).map(_.toArray).getOrElse(old)
      }
    }
    val coarse = graft.Cached.hold(coarseDf(coarseSeq))
    // Training touches the coarse assignment for the quota count, the seed
    // materialization, every fine Lloyd round, and the final assignment —
    // cache it for the duration (MEMORY_AND_DISK: corpus-sized, so it
    // spills instead of OOMing) and release it before returning. The
    // kc == 1 path is a constant column over the already-cached `base` —
    // no second corpus-sized cache needed.
    val baseC =
      if (kc == 1) graft.Cached.Held(base.withColumn("_gf_ccid", lit(0)), () => ())
      else graft.Cached.hold(assignCoarse(base, coarse.df)) // (_gf_id, _gf_v, _gf_ccid)
    try graft.Cached.guard(coarse)(trainFine(baseC.df, coarse, nRows, kc, k, iters, seed,
      coarseSeq.headOption.map(_.length).getOrElse(0)))
    finally baseC.release()
  }

  /** The fine level: per-cell sub-centroids over the coarse-assigned
    * `baseC`, never collected. */
  private def trainFine(baseC: DataFrame, coarse: graft.Cached.Held,
                        nRows: Long, kc: Int, k: Int, iters: Int, seed: Long,
                        dim: Int): IvfIndex = {
    val rankW = Window.partitionBy("_gf_ccid")
      .orderBy(xxhash64(col("_gf_id"), lit(seed)), col("_gf_id"))
    val seedCandidates =
      if (kc == 1) {
        // distributed top-k by hash (TakeOrdered — no single-partition
        // window over the corpus); the per-cell window then ranks only
        // these k rows. Reads the cached baseC (same rows, constant
        // _gf_ccid = 0 already attached) instead of re-scanning.
        baseC.orderBy(xxhash64(col("_gf_id"), lit(seed)), col("_gf_id"))
          .limit(k).withColumn("_gf_q", lit(k))
      } else {
        // quota per coarse cell ∝ population, allocated by cumulative
        // floors (largest-remainder style) so Σ quota = k exactly when
        // every coarse cell is populated; min 1 per non-empty cell so no
        // row is orphaned. The cumulative window runs over the Kc-row
        // count table only; the per-cell rank window sorts one coarse
        // cell (~n/√k rows) per task.
        val total = nRows
        val wcum = Window.orderBy("_gf_ccid")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val quota = baseC.groupBy("_gf_ccid").count()
          .withColumn("_gf_cum", sum(col("count")).over(wcum))
          .withColumn("_gf_q", greatest(lit(1),
            (floor(col("_gf_cum") * k / total) -
              floor((col("_gf_cum") - col("count")) * k / total)).cast("int")))
          .select("_gf_ccid", "_gf_q")
        baseC.join(broadcast(quota), Seq("_gf_ccid"))
      }
    var cells = graft.Cached.hold(seedCandidates
      .withColumn("_gf_rk", row_number().over(rankW))
      .filter(col("_gf_rk") <= col("_gf_q"))
      .select(col("_gf_ccid"),
        (col("_gf_ccid").cast("long") * k + (col("_gf_rk") - 1)).as("_gf_cid"),
        col("_gf_v").as("_gf_cv")))
    // the materializing count doubles as the cell tally for the manifest
    // (Lloyd's left join preserves the row set, so it never changes)
    var nCells = graft.Cached.guard(cells)(cells.df.count())

    for (_ <- 1 to iters) {
      val assigned = assignFine(baseC, cells.df) // (_gf_id, _gf_v, _gf_cid)
      // distributed Lloyd update: K×dim means stay in a DataFrame
      // (exact graft.Num.qmean — layout-independent, see above)
      val means = assigned
        .select(col("_gf_cid"), posexplode(col("_gf_v")).as(Seq("_gf_pos", "_gf_x")))
        .groupBy("_gf_cid", "_gf_pos")
        .agg(graft.Num.qmean(col("_gf_x"), lit(1e12)).as("_gf_m"))
        .groupBy("_gf_cid")
        .agg(transform(array_sort(collect_list(struct(col("_gf_pos"), col("_gf_m")))),
          s => s.getField("_gf_m").cast("float")).as("_gf_nv"))
      // empty fine cells keep their previous centroid
      val next = graft.Cached.hold(cells.df.join(means, Seq("_gf_cid"), "left")
        .select(col("_gf_ccid"), col("_gf_cid"),
          coalesce(col("_gf_nv"), col("_gf_cv")).as("_gf_cv")))
      try nCells = graft.Cached.guard(next)(next.df.count())
      finally cells.release()
      cells = next
    }

    // training is done with base/baseC once this returns; consumers of
    // the (lazy) indexed plan recompute the assignment once per action
    val indexed = assignFine(baseC, cells.df)
      .select(col("_gf_cid"), col("_gf_id"), col("_gf_v"))
    IvfIndex(coarse.df, cells.df, indexed,
      Some(IvfMeta(dim, kc, nCells, "cosine", iters, seed)), Seq(cells, coarse))
  }

  /** Persist a trained index: `coarse` and `cells` as plain parquet,
    * `indexed` PARTITIONED BY the fine cell id — the on-disk layout the
    * inverted-file property needs: a probe of `nprobe` cells reads only
    * those cells' files (see [[topK]]'s static cell filter + partition
    * pruning). The corpus is repartitioned by cell id before the write so
    * the file count is bounded by the number of cells, not
    * cells × write-tasks (at 100 TB with K ≈ 10⁵ cells that is the
    * difference between 10⁵ files and 10⁹). */
  def writeIndex(index: IvfIndex, path: String): Unit = {
    index.coarse.write.mode("overwrite").parquet(s"$path/coarse")
    index.cells.write.mode("overwrite").parquet(s"$path/cells")
    index.indexed.repartition(col("_gf_cid"))
      .write.mode("overwrite").partitionBy("_gf_cid").parquet(s"$path/indexed")
    // Manifest last: its presence marks a complete index. A hand-assembled
    // index (meta = None) derives dim/Kc/K from the frames; iters/seed are
    // then unknown (-1).
    val m = index.meta.getOrElse {
      val dim = index.cells.select(size(col("_gf_cv"))).limit(1)
        .collect().headOption.map(_.getInt(0)).getOrElse(0)
      IvfMeta(dim, index.coarse.count().toInt, index.cells.count(),
        "cosine", -1, -1L)
    }
    graft.Manifest.write(index.coarse.sparkSession, path, "format" -> Format,
      "dim" -> m.dim, "kc" -> m.kc, "num_cells" -> m.numCells,
      "metric" -> m.metric, "iters" -> m.iters, "seed" -> m.seed)
  }

  /** Re-open a persisted index without retraining. The partition column
    * comes back via directory inference (possibly narrowed to int), so it
    * is cast back to long and the column order restored. Frames are NOT
    * cached here — `coarse`/`cells` are Kc- and K-row parquet reads;
    * hold them ([[graft.Cached.hold]]) if a driver probes in a tight
    * loop. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val meta = readManifest(spark, path)
    val coarse = spark.read.parquet(s"$path/coarse")
    val cells = spark.read.parquet(s"$path/cells")
    val indexed = spark.read.parquet(s"$path/indexed")
      .select(col("_gf_cid").cast("long").as("_gf_cid"),
        col("_gf_id"), col("_gf_v"))
    // one tiny job (limit-1 over the K-row cell table) pins the manifest
    // to the data it describes — a swapped/mixed index dir fails HERE, at
    // open time, not as NULL cosines mid-probe
    cells.select(size(col("_gf_cv"))).limit(1).collect().headOption.foreach { r =>
      if (r.getInt(0) != meta.dim) throw new IllegalArgumentException(
        s"IVF index at $path is inconsistent: manifest says dim=${meta.dim} " +
          s"but cell centroids have dim=${r.getInt(0)} — the manifest does " +
          "not belong to this data; retrain or restore the matching files")
    }
    IvfIndex(coarse, cells, indexed, Some(meta))
  }

  /** Incremental ingest: quantize a NEW batch against a persisted index's
    * existing centroids and append it to the inverted file — the daily
    * embedding-ingest path. No retraining: coarse/cells stay frozen (the
    * standard production trade — periodic re-trains, continuous appends),
    * so the append touches only the batch (one broadcast-assign pass) and
    * writes only the batch's cells' partition directories.
    *
    * Fails loudly BEFORE writing on (a) a batch whose vector dim does not
    * match the manifest, and (b) `checkIds = true` (default) on ids that
    * already exist in the index — an id-collision append would corrupt
    * every downstream probe with duplicate rows. The id check is one
    * semi-join over the id COLUMN only (column-pruned scan of the
    * inverted file; at 100 TB keep it on — the scan reads 8 bytes/row —
    * or pass false when the caller owns id uniqueness end-to-end).
    *
    * Returns the number of rows appended. Re-open with [[readIndex]] (or
    * keep probing an already-open index: parquet appends are visible to
    * new jobs, invisible to cached frames).
    *
    * Concurrency contract: SINGLE WRITER. The id-collision check and the
    * write are not one atomic unit, so two concurrent appends can both
    * pass the semi-join and both land — serialize appends externally
    * (one ingest job per index, the normal daily-batch shape). Failure
    * atomicity IS handled: the batch is written to a dot-prefixed
    * staging directory (invisible to parquet readers) and moved into the
    * live inverted file with per-file renames, so a mid-write crash
    * leaves the index readable and un-torn instead of half-appended. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    batch: DataFrame, idCol: String, vecCol: String,
                    checkIds: Boolean = true): Long = {
    val meta = readManifest(spark, path)
    val dim = Similarity.inferDim(batch, vecCol)
    if (dim != meta.dim) throw new IllegalArgumentException(
      s"append batch has vector dim $dim but the index at $path was " +
        s"trained at dim ${meta.dim} — wrong embedding column or wrong index")
    val coarse = spark.read.parquet(s"$path/coarse")
    val cells = spark.read.parquet(s"$path/cells")
    val base = batch.select(col(idCol).as("_gf_id"), col(vecCol).as("_gf_v"))
    if (checkIds) {
      val existing = spark.read.parquet(s"$path/indexed").select("_gf_id")
      val clash = base.select("_gf_id").join(existing, Seq("_gf_id"),
        "left_semi").limit(5).collect()
      if (clash.nonEmpty) throw new IllegalArgumentException(
        s"append batch re-uses ids already present in the index at $path " +
          s"(e.g. ${clash.map(_.get(0)).mkString(", ")}) — appending them " +
          "would duplicate rows in every probe; dedup the batch or use " +
          "fresh ids")
    }
    graft.Cached.using(assignFine(assignCoarse(base, coarse), cells)
        .select(col("_gf_cid"), col("_gf_id"), col("_gf_v"))) { assigned =>
      val n = assigned.count()
      val staging = stageAppend(spark, path,
        out => assigned.repartition(col("_gf_cid"))
          .write.mode("overwrite").partitionBy("_gf_cid").parquet(out))
      promoteStaged(spark, staging, s"$path/indexed", partitioned = true)
      n
    }
  }

  /** Write an append batch under `<path>/.append-staging-<uuid>` — the dot
    * prefix hides it from every parquet reader, so a crash mid-write
    * leaves the live index untouched. Leftover staging dirs from prior
    * crashed appends are swept first (safe under the documented
    * single-writer contract). Returns the staging path. */
  private[sim] def stageAppend(spark: org.apache.spark.sql.SparkSession,
                               path: String,
                               write: String => Unit): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".append-staging-"))
        fs.delete(st.getPath, true): Unit
    }
    val staging = s"$path/.append-staging-${java.util.UUID.randomUUID}"
    write(staging)
    staging
  }

  /** Move staged part files into the live index directory. Pure metadata
    * renames: the torn-append window shrinks from the whole distributed
    * write to a handful of filesystem renames (part-file names carry a
    * task UUID, so they cannot collide with resident files). */
  private[sim] def promoteStaged(spark: org.apache.spark.sql.SparkSession,
                                 staging: String, dest: String,
                                 partitioned: Boolean): Unit = {
    val sp = new org.apache.hadoop.fs.Path(staging)
    val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
    def moveParts(from: org.apache.hadoop.fs.Path,
                  to: org.apache.hadoop.fs.Path): Unit = {
      fs.mkdirs(to)
      fs.listStatus(from).foreach { f =>
        if (f.isFile && f.getPath.getName.startsWith("part-")) {
          val t = new org.apache.hadoop.fs.Path(to, f.getPath.getName)
          if (!fs.rename(f.getPath, t)) throw new IllegalStateException(
            s"append promotion failed moving ${f.getPath} to $t — the " +
              "index is still consistent (staged files are invisible); " +
              "re-run the append")
        }
      }
    }
    if (partitioned)
      fs.listStatus(sp).foreach { p =>
        if (p.isDirectory && p.getPath.getName.contains("="))
          moveParts(p.getPath,
            new org.apache.hadoop.fs.Path(dest, p.getPath.getName))
      }
    else moveParts(sp, new org.apache.hadoop.fs.Path(dest))
    fs.delete(sp, true): Unit
  }

  private val Format = "graft-ivf-v1"

  /** Open + validate the manifest ([[graft.Manifest]] refuses a missing,
    * corrupt or foreign one; an index dir without one is not a graft IVF
    * index, or was written by a pre-manifest version: re-write it with
    * [[writeIndex]]). */
  private def readManifest(spark: org.apache.spark.sql.SparkSession,
                           path: String): IvfMeta = {
    val y = graft.Manifest.read(spark, path, "IVF index", Format)
    val m = IvfMeta(y.int("dim"), y.int("kc"), y.long("num_cells"),
      y.string("metric"), y.int("iters"), y.long("seed"))
    if (m.dim <= 0 || m.numCells <= 0) throw new IllegalArgumentException(
      s"the manifest at $path is corrupt: dim=${m.dim}, num_cells=${m.numCells}")
    // topK unconditionally reranks with cosine; opening an index that
    // declares any other metric (or none) would silently rank with the
    // wrong distance — the exact divergence class the manifest exists to
    // turn into a raise.
    if (m.metric != "cosine") throw new IllegalArgumentException(
      s"the manifest at $path declares metric='${m.metric}' but this engine " +
        "ranks with cosine only — refusing to probe with the wrong distance")
    m
  }

  /** Multi-probe assignment: each corpus row tagged with its `p` nearest
    * fine cells (within its coarse cell) instead of 1 — the standard IVF
    * recall lever for pair generation: a near-pair split across a cell
    * boundary is recovered when either member's probe set reaches the
    * other's cell. Output has up to `p` rows per id; candidate volume
    * downstream multiplies by ~p², so keep p small (2-4). */
  def assignProbes(index: IvfIndex, p: Int): DataFrame = {
    require(p >= 1, s"probes=$p must be >= 1")
    val rows = index.indexed
      .join(index.cells.select("_gf_cid", "_gf_ccid"), Seq("_gf_cid"))
      .select(col("_gf_id"), col("_gf_v"), col("_gf_ccid"))
    rows.join(index.cells, Seq("_gf_ccid"))
      .withColumn("_gf_d", cosDist(col("_gf_v"), col("_gf_cv")))
      .groupBy("_gf_id")
      .agg(first(col("_gf_v")).as("_gf_v"),
        slice(array_sort(collect_list(struct(col("_gf_d"), col("_gf_cid")))),
          1, p).as("_gf_top"))
      .select(col("_gf_id"), col("_gf_v"),
        explode(col("_gf_top").getField("_gf_cid")).as("_gf_cid"))
  }

  /** Top-k neighbours per query probing the `nprobe` nearest fine cells
    * (searched under the query's `nprobe` nearest coarse cells).
    *
    * CONTRACT: `queries` is a query BATCH — dimension-sized (thousands),
    * not corpus-sized. The probe list is broadcast and its distinct cell
    * ids are collected into a static `IN` filter on the indexed corpus,
    * so driver traffic is O(queries × nprobe). That static filter is what
    * makes a [[readIndex]]-ed index an actual inverted file: the corpus
    * is partitioned by `_gf_cid` on disk, so the scan partition-prunes to
    * the probed cells' files and everything else is never read. For a
    * corpus-sized query side, use [[assignProbes]] + an equi-join on
    * `_gf_cid` instead (the [[SemDedup]] shape) — probing all cells means
    * there is nothing to prune and broadcast would be the bottleneck. */
  def topK(index: IvfIndex, queries: DataFrame, queryId: String,
           queryVec: String, k: Int = 10, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val (probeRows, probeSchema) =
      collectProbes(index, queries, queryId, queryVec, nprobe)
    val cidIdx = probeSchema.fieldIndex("_gf_cid")
    val probedCids = probeRows.map(_.getLong(cidIdx)).distinct.toSeq
    val probesLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeSchema)
    val pruned =
      if (probedCids.isEmpty) index.indexed.filter(lit(false))
      else index.indexed.filter(col("_gf_cid").isin(probedCids: _*))
    val w = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col("_gf_id"))
    pruned.join(broadcast(probesLocal), Seq("_gf_cid"))
      .withColumn("_gf_cos", GraftFunctions.vecCosine(col("_gf_v"), col("_gf_qv")))
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col("_gf_id").as("neighbor_id"),
        col("_gf_rank").as("rank"), graft.Num.dround(col("_gf_cos"), 6).as("cosine"))
  }

  /** The probe subplan of [[topK]], executed EXACTLY ONCE into a
    * driver-side row array (dimension-sized by the query-batch contract:
    * queries × nprobe rows, each carrying qid, query vector, fine cell
    * id). Both [[topK]] and the IVFADC composition ([[IvfPq.topK]])
    * derive everything from this single collect — the distinct cell ids
    * become the static IN filter that partition-prunes a cid-partitioned
    * on-disk index, and the rows become a broadcast LocalRelation.
    * (Re-referencing the probe frame twice would re-execute the whole
    * crossJoin + two-windows subplan — the round-6 regression this
    * structure exists to prevent.)
    *
    * Dim validation rides the collect for free: the probe rows carry the
    * query vectors, and VecCosine's length-mismatch semantics are
    * NULL-not-raise — without this check a wrong-dim query batch against
    * a [[readIndex]]-ed index would return silently wrong results. EVERY
    * row is checked, not just the head: a union-built query batch can mix
    * dims. */
  private[graft] def collectProbes(index: IvfIndex, queries: DataFrame,
      queryId: String, queryVec: String, nprobe: Int)
      : (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType) = {
    val q = queries.select(col(queryId).as("_gf_qid"), col(queryVec).as("_gf_qv"))
    val coarseW = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_d"), col("_gf_ccid"))
    val probedCoarse = q.crossJoin(broadcast(index.coarse))
      .withColumn("_gf_d", cosDist(col("_gf_qv"), col("_gf_ccv")))
      .withColumn("_gf_rk", row_number().over(coarseW))
      .filter(col("_gf_rk") <= nprobe)
      .select("_gf_qid", "_gf_qv", "_gf_ccid")
    val fineW = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_d"), col("_gf_cid"))
    val probes = index.cells.join(broadcast(probedCoarse), Seq("_gf_ccid"))
      .withColumn("_gf_d", cosDist(col("_gf_qv"), col("_gf_cv")))
      .withColumn("_gf_rk", row_number().over(fineW))
      .filter(col("_gf_rk") <= nprobe)
      .select("_gf_qid", "_gf_qv", "_gf_cid")
    val probeRows = probes.collect()
    index.meta.foreach { m =>
      val qvIdx = probes.schema.fieldIndex("_gf_qv")
      val badDims = probeRows.iterator
        .map(_.getSeq[Any](qvIdx).length).filter(_ != m.dim).toSet
      if (badDims.nonEmpty) throw new IllegalArgumentException(
        s"query vector dims ${badDims.toSeq.sorted.mkString(",")} do not " +
          s"match index dim ${m.dim} (manifest) — wrong index or wrong " +
          "embedding column")
    }
    (probeRows, probes.schema)
  }
}
