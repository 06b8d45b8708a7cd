package graft

import graft.impute.Median
import graft.pipeline._
import java.nio.file.Files

class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  test("bundle round-trips cleaned frame, reports, and manifest") {
    val df = Seq(
      (1L, "a", Some(10.0)), (2L, "a", None), (3L, "b", Some(30.0))
    ).toDF("id", "grp", "price")
    val result = Pipeline.run(df, Seq(ImputeStage(Map("price" -> Median))))
    val out = Files.createTempDirectory("graft-artifacts").toString

    val entries = Artifacts.write(spark, result, out, "run-42")
    assert(entries.map(_.artifact).contains("cleaned"))
    assert(entries.exists(e => e.artifact == "0:impute" && e.kind == "report"))

    val cleaned = Artifacts.readCleaned(spark, out, "run-42")
      .orderBy("id").collect()
    assert(cleaned.length == 3)
    assert(cleaned.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0, 30.0))

    val report = Artifacts.readReport(spark, out, "run-42", "0:impute")
    assert(report.count() > 0)

    val manifest = Artifacts.readManifest(spark, out, "run-42").collect()
    assert(manifest.length == entries.length)

    // re-run overwrites, not duplicates
    Artifacts.write(spark, result, out, "run-42")
    assert(Artifacts.readManifest(spark, out, "run-42").count() == entries.length)

    intercept[IllegalArgumentException] {
      Artifacts.readReport(spark, out, "run-42", "nope")
    }
  }

  test("report bundle round-trips named tables through the manifest") {
    val describe = Seq(("a", 3L, 1.5), ("b", 2L, 9.0))
      .toDF("column_name", "cnt", "mean")
    val health = Seq((93.5, "green")).toDF("overall_score", "status")
    val out = Files.createTempDirectory("graft-reports").toString

    val entries = Reports.writeBundle(spark,
      Seq("describe" -> describe, "health score" -> health), out, "r1")
    assert(entries.map(_.artifact) == Seq("describe", "health score"))
    assert(entries.forall(_.kind == "report"))

    // manifest-routed read-back is value-identical
    val back = Reports.readTable(spark, out, "r1", "describe")
      .orderBy("column_name").collect()
    assert(back.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("a", 3L, 1.5), ("b", 2L, 9.0)))
    // names with directory-hostile characters route through the manifest
    assert(Reports.readTable(spark, out, "r1", "health score")
      .head().getString(1) == "green")
    assert(Reports.contents(spark, out, "r1").count() == 2)

    // re-write overwrites in place (run-keyed layout, no duplicates)
    Reports.writeBundle(spark,
      Seq("describe" -> describe, "health score" -> health), out, "r1")
    assert(Reports.contents(spark, out, "r1").count() == 2)

    // refusals: unknown table, empty set, colliding normalized names
    intercept[IllegalArgumentException] {
      Reports.readTable(spark, out, "r1", "nope")
    }
    intercept[IllegalArgumentException] {
      Reports.writeBundle(spark, Seq.empty, out, "r2")
    }
    intercept[IllegalArgumentException] {
      Reports.writeBundle(spark,
        Seq("a b" -> describe, "a_b" -> health), out, "r3")
    }
  }

  test("renderMarkdown: deterministic document with tables, escaping, truncation") {
    val describe = Seq(("a|x", 3L, 1.5), ("b", 2L, 9.0))
      .toDF("column_name", "cnt", "mean")
    val long = (1 to 60).map(i => (i, s"row$i")).toDF("id", "label")
    val out = Files.createTempDirectory("graft-md").toString
    Reports.writeBundle(spark,
      Seq("describe" -> describe, "long" -> long), out, "r1")

    val md = Reports.renderMarkdown(spark, out, "r1", maxRows = 50)
    // a second render of the same bundle is byte-identical
    assert(md == Reports.renderMarkdown(spark, out, "r1", maxRows = 50))
    assert(md.startsWith("# Report bundle `r1`"))
    assert(md.contains("## describe") && md.contains("## long"))
    assert(md.contains("| column_name | cnt | mean |"))
    // pipe in a cell escaped, so the table doesn't break
    assert(md.contains("a\\|x"))
    // 60-row table truncated at 50 with an explicit note
    assert(md.contains("_…truncated at 50 rows_"))
    assert(!md.contains("row59") || md.contains("row6"), "sorted order")
    // the document landed next to the bundle
    val path = java.nio.file.Paths.get(out, "r1", "report.md")
    assert(java.nio.file.Files.exists(path))
    assert(new String(java.nio.file.Files.readAllBytes(path), "UTF-8") == md)
    intercept[IllegalArgumentException] {
      Reports.renderMarkdown(spark, out, "r1", maxRows = 0)
    }
  }

  test("renderHtml: deterministic escaped document beside the markdown render") {
    val describe = Seq(("a<x>&\"b\"", 3L, 1.5), ("b", 2L, 9.0))
      .toDF("column_name", "cnt", "mean")
    val long = (1 to 60).map(i => (i, s"row$i")).toDF("id", "label")
    val out = Files.createTempDirectory("graft-html").toString
    Reports.writeBundle(spark,
      Seq("describe" -> describe, "long" -> long), out, "r1")

    val html = Reports.renderHtml(spark, out, "r1", maxRows = 50)
    // a second render of the same bundle is byte-identical
    assert(html == Reports.renderHtml(spark, out, "r1", maxRows = 50))
    assert(html.contains("<h1>Report bundle <code>r1</code></h1>"))
    // tables in manifest order
    val iDesc = html.indexOf("<h2>describe</h2>")
    val iLong = html.indexOf("<h2>long</h2>")
    assert(iDesc >= 0 && iLong > iDesc)
    assert(html.contains("<th>column_name</th><th>cnt</th><th>mean</th>"))
    // markup characters in a cell are escaped, not interpreted
    assert(html.contains("a&lt;x&gt;&amp;&quot;b&quot;"))
    assert(!html.contains("a<x>"))
    // 60-row table truncated at 50 with the explicit note
    assert(html.contains("…truncated at 50 rows"))
    // no scripts, self-contained
    assert(!html.contains("<script"))
    val path = java.nio.file.Paths.get(out, "r1", "report.html")
    assert(java.nio.file.Files.exists(path))
    assert(new String(java.nio.file.Files.readAllBytes(path), "UTF-8") == html)
    intercept[IllegalArgumentException] {
      Reports.renderHtml(spark, out, "r1", maxRows = 0)
    }
  }

  test("a stuck driver-side wait raises DriverWaitTimeout, not a hang") {
    import scala.concurrent.duration._
    val never = scala.concurrent.Promise[Unit]().future
    val e = intercept[DriverWaitTimeout] {
      Waits.await(never, "stuck writes", 50.millis)
    }
    assert(e.getMessage.contains("stuck writes") &&
      e.getCause.isInstanceOf[java.util.concurrent.TimeoutException])
    assert(Waits.await(scala.concurrent.Future.successful(3), "done") == 3)
  }
}
