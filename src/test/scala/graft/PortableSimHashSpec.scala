package graft

import graft.dedup.{PortableSimHash, SimHash}
import org.apache.spark.sql.functions._

class PortableSimHashSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("fingerprint bits replay the signed md5-bit sums exactly") {
    val text = "alpha beta gamma alpha"
    val got = PortableSimHash.signatureTable(corpus(1L -> text), "text", "doc_id")
      .select("sig").as[Long].head()
    // brute force: token MULTIPLICITY counts (alpha contributes twice)
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val hs = text.toLowerCase.trim.split("\\s+").map(h32)
    val want = (0 until 32).map { b =>
      val s = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
      if (s > 0) 1L << b else 0L
    }.sum
    assert(got == want)
  }

  test("identical docs are Hamming 0; a one-word edit stays within budget; disjoint docs do not pair") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val df = corpus(
      1L -> base,
      2L -> base,
      3L -> base.replaceFirst("^\\S+", "zzzz"),
      9L -> "entirely different vocabulary about distributed analytics engines running queries")
    val p = PortableSimHash.pairs(df, "text", "doc_id", maxDist = 7, blocks = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(p((1L, 2L)) == 0)
    assert(p.contains((1L, 3L)) && p((1L, 3L)) <= 7)
    assert(!p.keys.exists { case (a, b) => a == 9L || b == 9L })
  }

  test("refuses maxDist >= blocks (pigeonhole completeness) and non-dividing blocks") {
    val df = corpus(1L -> "a b c")
    intercept[IllegalArgumentException] {
      PortableSimHash.pairs(df, "text", "doc_id", maxDist = 8, blocks = 8)
    }
    intercept[IllegalArgumentException] {
      PortableSimHash.pairs(df, "text", "doc_id", maxDist = 2, blocks = 5)
    }
    // the production lane shares the pigeonhole core and its refusals
    intercept[IllegalArgumentException] {
      SimHash.nearDuplicatePairs(df, "text", "doc_id", maxDist = 4, blocks = 4)
    }
    intercept[IllegalArgumentException] {
      SimHash.nearDuplicatePairs(df, "text", "doc_id", maxDist = 2, blocks = 5)
    }
  }
}
