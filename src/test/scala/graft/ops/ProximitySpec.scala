package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q_proximity_rerank falsifiability: two docs with IDENTICAL
  * bag-of-words BM25 profiles must be ordered by their windows — in
  * both directions (swap which doc is phrase-adjacent, the order
  * flips) — docs missing a term fall behind every covered doc, and
  * the window is the exact minimum over occurrence combinations.
  */
class ProximitySpec extends SparkSpec {
  import spark.implicits._

  private var tagN = 0
  private def freshTag(): String = {
    tagN += 1
    val tag = BucketedTable.tag(s"/tmp/proxspec$tagN", "lex")
    Seq(s"${tag}_lpost", s"${tag}_lstats", s"${tag}_ltouched").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    tag
  }

  private val q = Seq("alpha", "beta")

  test("equal BM25, different windows: proximity decides, both " +
    "directions") {
    // both docs: tf(alpha)=1, tf(beta)=1, dl=6 -> identical BM25
    val near = (1L, "alpha beta pad1 pad2 pad3 pad4")
    val far = (2L, "alpha pad1 pad2 pad3 pad4 beta")
    val filler = Seq((10L, "pad5 pad6 pad7"), (11L, "pad8 pad9 pada"))
    val out1 = CorpusQueries.proximityRerank(spark,
      (Seq(near, far) ++ filler).toDF("doc_id", "text"), freshTag(), q)
      .collect()
    assert(out1.map(_.getLong(1)).take(2).toSeq == Seq(1L, 2L))
    assert(out1(0).getLong(2) == 2L && out1(1).getLong(2) == 6L)
    // flip which doc is adjacent -> the order flips (doc_id tiebreak
    // alone would keep 1 first; the window must be doing the work)
    val out2 = CorpusQueries.proximityRerank(spark,
      (Seq((1L, far._2), (2L, near._2)) ++ filler)
        .toDF("doc_id", "text"), freshTag(), q)
      .collect()
    assert(out2.map(_.getLong(1)).take(2).toSeq == Seq(2L, 1L))
  }

  test("a doc missing a term has no window and falls behind every " +
    "covered doc; the window is the exact min over combinations") {
    val docs = Seq(
      // alpha at 1,4 / beta at 3 -> windows |1-3|+1=3, |4-3|+1=2 -> 2
      (1L, "alpha pad1 beta alpha pad2 pad3"),
      // alpha only, huge tf — bag-of-words would rank it high
      (2L, "alpha alpha alpha alpha alpha alpha"),
      (10L, "pad4 pad5 pad6")).toDF("doc_id", "text")
    val out = CorpusQueries.proximityRerank(spark, docs, freshTag(), q)
      .collect()
    val byId = out.map(r => r.getLong(1) -> r).toMap
    assert(byId(1L).getLong(2) == 2L, "exact min-cover window")
    assert(byId(2L).isNullAt(2), "missing term -> no window")
    assert(out.head.getLong(1) == 1L,
      "the covered doc outranks the term-stuffed uncovered one")
  }
}
