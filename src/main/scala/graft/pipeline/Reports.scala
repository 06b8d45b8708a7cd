package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Report-tables export bundle — the engine-parity answer to the
  * reference's rendered report surface (m00_utils/report_generator.py,
  * report_html.py:1-80, m08_visuals/summary_plots.py:60,
  * dashboard_plots.py): every summary table those renderers draw from
  * (describe, validation summary, outlier log, imputation changelog,
  * health score, …) written as parquet through the [[Artifacts]] layout
  * with a manifest, so a user migrating off the reference keeps the
  * one-command report DATA — named, re-readable, run-keyed — without the
  * engine taking on matplotlib/HTML rendering.
  *
  * Layout under `<outDir>/<runId>/`:
  * {{{
  *   reports/<table_name>/   — one parquet dir per report table
  *   manifest/               — (artifact, kind, path) parquet index
  * }}}
  *
  * Unlike [[Artifacts.write]] (a pipeline-run bundle that carries the
  * cleaned corpus), a report bundle is SUMMARY-SIZED by contract: the
  * tables are per-module aggregates (columns × rules rows, not corpus
  * rows), so the whole bundle stays readable in one call at any corpus
  * scale — the distributed work happened upstream in the module
  * aggregations that produced the frames. The manifest is written LAST,
  * the completeness-marker discipline every persisted graft artifact
  * follows.
  */
object Reports {

  /** Write named report tables + manifest under `<outDir>/<runId>/`;
    * returns the manifest entries. Refuses an empty table set and
    * duplicate (directory-normalized) table names — two tables mapping
    * to one directory would silently overwrite each other. */
  def writeBundle(spark: SparkSession, tables: Seq[(String, DataFrame)],
                  outDir: String, runId: String): Seq[Artifacts.Entry] = {
    require(tables.nonEmpty, "Reports.writeBundle: empty report-table set")
    val safeNames = tables.map(t => Artifacts.safe(t._1))
    require(safeNames.distinct.size == safeNames.size,
      s"Reports.writeBundle: table names collide after directory " +
        s"normalization: ${tables.map(_._1).mkString(", ")}")
    val base = Artifacts.bundleDir(outDir, runId)
    // The per-table writes are independent jobs over disjoint directories;
    // submit them from a small thread pool so the next table's stages
    // back-fill executors freed by the current one's tail
    // (spark_optimization_guide §2.6 "overlap independent jobs"). Spark's
    // scheduler runs concurrent actions safely; entry ORDER is preserved
    // (Future.sequence), and the manifest still writes strictly LAST —
    // the completeness-marker discipline is untouched.
    val entries = {
      import scala.concurrent.{ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, tables.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try graft.Waits.await(Future.sequence(tables.map { case (name, df) =>
        Future {
          val p = s"$base/reports/${Artifacts.safe(name)}"
          df.write.mode(SaveMode.Overwrite).parquet(p)
          Artifacts.Entry(name, "report", p)
        }
      }), s"report bundle $runId: table writes")
      finally pool.shutdown()
    }
    import spark.implicits._
    entries.toDF().write.mode(SaveMode.Overwrite).parquet(s"$base/manifest")
    entries
  }

  /** Read one report table back by name (manifest-routed — the caller
    * never touches the directory layout). */
  def readTable(spark: SparkSession, outDir: String, runId: String,
                name: String): DataFrame = {
    val m = Artifacts.readManifest(spark, outDir, runId)
      .filter(col("artifact") === name).select("path").collect()
    require(m.nonEmpty,
      s"no report table '$name' in bundle $runId under $outDir")
    spark.read.parquet(m.head.getString(0))
  }

  /** The bundle's table of contents: (artifact, kind, path). */
  def contents(spark: SparkSession, outDir: String, runId: String): DataFrame =
    Artifacts.readManifest(spark, outDir, runId)

  /** Render the bundle as ONE human-readable markdown document —
    * `<outDir>/<runId>/report.md` — and return the markdown. The
    * reference ships rendered report pages (m00_utils/report_html.py:1,
    * m08_visuals/summary_plots.py:60); graft's answer is the DATA bundle
    * plus this renderer: every table as a GitHub-markdown table, in
    * manifest order, rows sorted by every column (deterministic output —
    * two renders of one bundle are byte-identical), truncated at
    * `maxRows` with an explicit elision note. Plot rendering stays a
    * non-goal; the tables ARE what the reference's plots draw from.
    *
    * Driver-side by the bundle's own contract: report tables are
    * SUMMARY-sized (per-module aggregates), so collecting them here is
    * dimension-bounded at any corpus scale — `maxRows` additionally
    * guards against a mis-filed corpus-sized frame. */
  def renderMarkdown(spark: SparkSession, outDir: String, runId: String,
                     maxRows: Int = 50): String = {
    def cell(v: Any): String = v match {
      case null => ""
      case s: String => s.replace("|", "\\|").replace("\n", " ")
      case other => other.toString
    }
    val sections = collectSections(spark, outDir, runId, maxRows).map {
      case (name, cols, shown, truncated) =>
        val header = cols.mkString("| ", " | ", " |")
        val rule = cols.map(_ => "---").mkString("| ", " | ", " |")
        val body = shown.map(r =>
          cols.indices.map(i => cell(r.get(i))).mkString("| ", " | ", " |"))
        val elision =
          if (truncated) Seq(s"", s"_…truncated at $maxRows rows_")
          else Seq.empty
        (Seq(s"## $name", "", header, rule) ++ body ++ elision).mkString("\n")
    }
    val md = (Seq(s"# Report bundle `$runId`", "") ++ sections)
      .mkString("\n\n") + "\n"
    writeDoc(spark, outDir, runId, "report.md", md)
    md
  }

  /** Render the bundle as ONE self-contained HTML document —
    * `<outDir>/<runId>/report.html` — beside the markdown render,
    * closing the reference's `generate_html_report` surface
    * (m00_utils/report_html.py:6): same manifest order, same
    * sorted-rows determinism (two renders are byte-identical), same
    * `maxRows` elision note, every cell HTML-escaped. Static markup
    * only — no scripts, no external assets — so the file is archivable
    * and renders identically anywhere. */
  def renderHtml(spark: SparkSession, outDir: String, runId: String,
                 maxRows: Int = 50): String = {
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
    def cell(v: Any): String = v match {
      case null => ""
      case other => esc(other.toString)
    }
    val sections = collectSections(spark, outDir, runId, maxRows).map {
      case (name, cols, shown, truncated) =>
        val head = cols.map(c => s"<th>${esc(c)}</th>")
          .mkString("<tr>", "", "</tr>")
        val body = shown.map(r =>
          cols.indices.map(i => s"<td>${cell(r.get(i))}</td>")
            .mkString("<tr>", "", "</tr>")).mkString("\n")
        val elision =
          if (truncated) s"\n<p class=\"elision\">…truncated at $maxRows rows</p>"
          else ""
        s"""<section>
           |<h2>${esc(name)}</h2>
           |<table>
           |<thead>$head</thead>
           |<tbody>
           |$body
           |</tbody>
           |</table>$elision
           |</section>""".stripMargin
    }
    val html =
      s"""<!DOCTYPE html>
         |<html lang="en">
         |<head>
         |<meta charset="utf-8">
         |<title>Report bundle ${esc(runId)}</title>
         |<style>
         |body { font-family: sans-serif; margin: 2em; }
         |table { border-collapse: collapse; margin: 1em 0; }
         |th, td { border: 1px solid #999; padding: 0.3em 0.6em; text-align: left; }
         |th { background: #eee; }
         |.elision { font-style: italic; }
         |</style>
         |</head>
         |<body>
         |<h1>Report bundle <code>${esc(runId)}</code></h1>
         |${sections.mkString("\n\n")}
         |</body>
         |</html>
         |""".stripMargin
    writeDoc(spark, outDir, runId, "report.html", html)
    html
  }

  /** The shared render substrate: (name, columns, rows, truncated) per
    * report table — manifest order, rows sorted by every column for
    * render determinism, capped AFTER the sort at `maxRows`.
    *
    * The per-table sort+collect jobs are independent; they are submitted
    * from the same bounded thread pool as [[writeBundle]]'s writes
    * (spark_optimization_guide §2.6 — each job is tiny, so most of its
    * wall time is scheduling/collect latency that overlaps cleanly).
    * Entry order is preserved via Future.sequence, so renders stay
    * byte-identical to the sequential form. */
  private def collectSections(spark: SparkSession, outDir: String,
                              runId: String, maxRows: Int)
      : Seq[(String, Seq[String], Seq[org.apache.spark.sql.Row], Boolean)] = {
    require(maxRows >= 1, s"maxRows must be >= 1, got $maxRows")
    val entries = Artifacts.readManifest(spark, outDir, runId)
      .filter(col("kind") === "report")
      .select("artifact", "path").collect()
    if (entries.isEmpty) return Seq.empty
    import scala.concurrent.{ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, entries.length))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try graft.Waits.await(Future.sequence(entries.toSeq.map { e =>
      Future {
        val (name, path) = (e.getString(0), e.getString(1))
        val df = spark.read.parquet(path)
        val cols = df.columns.toSeq
        val rows = df.orderBy(cols.map(col): _*).limit(maxRows + 1).collect()
        (name, cols, rows.take(maxRows).toSeq, rows.length > maxRows)
      }
    }), s"report bundle $runId: table renders")
    finally pool.shutdown()
  }

  private def writeDoc(spark: SparkSession, outDir: String, runId: String,
                       fileName: String, text: String): Unit = {
    val base = Artifacts.bundleDir(outDir, runId)
    val p = new org.apache.hadoop.fs.Path(s"$base/$fileName")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
