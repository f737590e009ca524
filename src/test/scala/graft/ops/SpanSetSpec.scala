package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The stored span artifact's lifecycle: build (bucketed rows + counts,
  * nd precomputed), daily append (per-batch count DELTAS that reads
  * sum-merge per fingerprint — exact immediately, including spans
  * straddling standing corpus and batch), periodic refresh (compaction
  * back to one row per fingerprint, equal to a from-scratch rebuild).
  */
class SpanSetSpec extends SparkSpec {
  import spark.implicits._

  // docs 1/2 share their first 9 tokens -> 2 duplicated 8-gram spans
  private val sharedA = "one two three four five six seven eight nine ten"
  private val sharedB = "one two three four five six seven eight nine zzz"
  private val lonely = "aa bb cc dd ee ff gg hh ii jj"

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text").withColumn("source", lit("s0"))

  private def dropAll(tag: String): Unit =
    Seq(s"${tag}_spanrows", s"${tag}_spanset").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("buildOrLoad materializes bucketed tables; duplicatedSpans applies " +
    "the stored-nd threshold") {
    val tag = "graft_test_ss_build"
    dropAll(tag)
    val (rows, set) = SpanSet.buildOrLoad(spark,
      docs(1L -> sharedA, 2L -> sharedB, 3L -> lonely), tag)
    // 9 shared tokens -> 2 shared 8-gram spans; each doc has 3 distinct
    // spans (10 tokens) except doc 3 (10 tokens -> 3 spans)
    assert(rows.count() == 9)
    assert(set.filter(col("nd") >= 2).count() == 2)
    val dup = SpanSet.duplicatedSpans(spark, tag)
    assert(dup.count() == 2)
    // agrees with the in-memory derivation, fingerprint for fingerprint
    val mem = SpanDedup.duplicatedSpanSet(docs(1L -> sharedA, 2L -> sharedB,
      3L -> lonely)).as[String].collect().sorted.toSeq
    assert(dup.as[String].collect().sorted.toSeq == mem)
    // a second call is a catalog hit: no rebuild, same data
    val (_, set2) = SpanSet.buildOrLoad(spark, spark.emptyDataFrame, tag)
    assert(set2.count() == set.count())
    dropAll(tag)
  }

  test("randomized differential: stored duplicated set equals the " +
    "in-memory derivation on a seeded random corpus") {
    val rnd = new scala.util.Random(13)
    // binary vocabulary: only 2^8 = 256 possible 8-gram spans, so 60
    // random docs collide densely — genuine random collisions, not a
    // handcrafted fixture
    val vocab = Vector("aa", "bb")
    val corpus = (1L to 60L).map { i =>
      (i, Seq.fill(8 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val tag = "graft_test_ss_rand"
    dropAll(tag)
    SpanSet.buildOrLoad(spark, docs(corpus: _*), tag)
    val stored = SpanSet.duplicatedSpans(spark, tag)
      .as[String].collect().sorted.toSeq
    val mem = SpanDedup.duplicatedSpanSet(docs(corpus: _*))
      .as[String].collect().sorted.toSeq
    assert(stored.nonEmpty, "random corpus produced no duplicated spans — " +
      "differential has no teeth")
    assert(stored == mem)
    dropAll(tag)
  }

  test("append surfaces straddling spans immediately (exact delta " +
    "merge); refresh compacts to the from-scratch table") {
    val tagA = "graft_test_ss_maint"
    val tagB = "graft_test_ss_rebuilt"
    dropAll(tagA); dropAll(tagB)
    SpanSet.buildOrLoad(spark, docs(1L -> sharedA, 3L -> lonely), tagA)
    // standing corpus has no duplicated span yet
    assert(SpanSet.duplicatedSpans(spark, tagA).count() == 0)
    assert(SpanSet.spanAudit(spark, tagA) == (6L, 0L))
    // batch doc 10 shares 2 of doc 1's spans: its delta rows (nd=1)
    // sum with the standing rows (nd=1) past the threshold — the
    // straddling spans surface IMMEDIATELY, the r6 staleness gap
    SpanSet.append(spark, docs(10L -> sharedB), tagA)
    assert(spark.table(s"${tagA}_spanrows").count() == 9)
    assert(SpanSet.duplicatedSpans(spark, tagA).count() == 2,
      "straddling spans must surface at append, not at the next refresh")
    // ...and the audit merges deltas too: 7 distinct spans (doc 10
    // shares 2 of doc 1's 3 and adds 1 new), 2 duplicated — not the 9
    // delta rows a raw count(*) would report
    assert(SpanSet.spanAudit(spark, tagA) == (7L, 2L))
    // refresh folds the deltas away: table now equals a from-scratch
    // rebuild over the merged corpus row for row, and reads agree
    SpanSet.refreshSpanCounts(spark, tagA)
    assert(SpanSet.duplicatedSpans(spark, tagA).count() == 2)
    assert(SpanSet.spanAudit(spark, tagA) == (7L, 2L))
    val rebuilt = SpanSet.buildOrLoad(spark,
      docs(1L -> sharedA, 3L -> lonely, 10L -> sharedB), tagB)._2
    val refreshed = spark.table(s"${tagA}_spanset")
    assert(refreshed.except(rebuilt).isEmpty && rebuilt.except(refreshed).isEmpty,
      "refreshed span set must equal a from-scratch rebuild")
    dropAll(tagA); dropAll(tagB)
  }

  test("build derives the family bucket count from the span-row " +
    "cardinality; both tables share it and refresh preserves it") {
    val tag = "graft_test_ss_buckets"
    dropAll(tag)
    // 3 docs x 3 spans = 9 rows at 1/bucket -> 16 buckets
    SpanSet.buildOrLoad(spark,
      docs(1L -> sharedA, 2L -> sharedB, 3L -> lonely), tag,
      targetRowsPerBucket = 1L)
    assert(SpanSet.buckets(spark, tag) == 16)
    assert(graft.ops.BucketedTable.bucketsOf(spark, s"${tag}_spanset") == 16,
      "family invariant: both tables bucket sh identically")
    // answers match the floor-bucketed build semantics
    assert(SpanSet.duplicatedSpans(spark, tag).count() == 2)
    SpanSet.refreshSpanCounts(spark, tag)
    assert(graft.ops.BucketedTable.bucketsOf(spark, s"${tag}_spanset") == 16)
    assert(SpanSet.duplicatedSpans(spark, tag).count() == 2)
    dropAll(tag)
  }

  test("differential: append-then-read equals rebuild-from-scratch on a " +
    "seeded random corpus split across batches") {
    val rnd = new scala.util.Random(29)
    val vocab = Vector("aa", "bb")
    val corpus = (1L to 90L).map { i =>
      (i, Seq.fill(8 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val tagInc = "graft_test_ss_inc"
    val tagFull = "graft_test_ss_full"
    dropAll(tagInc); dropAll(tagFull)
    // standing corpus = first third; two daily batches follow
    val (standing, rest) = corpus.splitAt(30)
    val (batch1, batch2) = rest.splitAt(30)
    SpanSet.buildOrLoad(spark, docs(standing: _*), tagInc)
    SpanSet.append(spark, docs(batch1: _*), tagInc)
    SpanSet.append(spark, docs(batch2: _*), tagInc)
    SpanSet.buildOrLoad(spark, docs(corpus: _*), tagFull)
    val inc = SpanSet.duplicatedSpans(spark, tagInc)
      .as[String].collect().sorted.toSeq
    val full = SpanSet.duplicatedSpans(spark, tagFull)
      .as[String].collect().sorted.toSeq
    assert(inc.nonEmpty, "random corpus produced no duplicated spans — " +
      "differential has no teeth")
    assert(inc == full,
      "append-then-read must equal rebuild-from-scratch")
    assert(SpanSet.spanAudit(spark, tagInc) ==
      SpanSet.spanAudit(spark, tagFull),
      "audit must merge deltas to the from-scratch numbers")
    dropAll(tagInc); dropAll(tagFull)
  }

  test("char-winnow family: same skeleton, distinct role — stored set " +
    "equals the inline winnow derivation, appends stay exact") {
    val rnd = new scala.util.Random(47)
    // 2-char alphabet at 60-120 chars/doc: winnowed 16-gram fingerprints
    // collide densely across docs — random collisions, not a fixture
    def randText() =
      Array.fill(60 + rnd.nextInt(61))("ab"(rnd.nextInt(2))).mkString
    val corpus = (1L to 60L).map(i => (i, randText()))
    // plus one doc below the guarantee threshold: must contribute 0 rows
    val short = Seq(990L -> "too short to winnow")
    val tagInc = "graft_test_css_inc"
    val tagFull = "graft_test_css_full"
    dropAll(tagInc); dropAll(tagFull)
    val (standing, rest) = corpus.splitAt(20)
    val (batch1, batch2) = rest.splitAt(20)
    SpanSet.buildOrLoadChar(spark, docs(standing ++ short: _*), tagInc)
    SpanSet.appendChar(spark, docs(batch1: _*), tagInc)
    SpanSet.appendChar(spark, docs(batch2: _*), tagInc)
    SpanSet.buildOrLoadChar(spark, docs(corpus ++ short: _*), tagFull)
    val inc = SpanSet.duplicatedSpans(spark, tagInc)
      .as[String].collect().sorted.toSeq
    val full = SpanSet.duplicatedSpans(spark, tagFull)
      .as[String].collect().sorted.toSeq
    assert(inc.nonEmpty, "random char corpus produced no duplicated " +
      "fingerprints — differential has no teeth")
    assert(inc == full, "char append-then-read must equal rebuild")
    // stored rows == the inline winnowRows relation, row for row
    val stored = spark.table(s"${tagFull}_spanrows")
      .select("doc_id", "n_spans", "sh")
    val inline = SpanDedup.winnowRows(docs(corpus ++ short: _*))
      .select("doc_id", "n_spans", "sh")
    assert(stored.except(inline).isEmpty && inline.except(stored).isEmpty,
      "stored char rows must equal the inline winnow derivation")
    // the two families never share a table (distinct roles)
    assert(SpanSet.charTag("/x/y") != SpanSet.tag("/x/y"))
    dropAll(tagInc); dropAll(tagFull)
  }

  test("delete (r15 verdict #1): negative count deltas make the delete " +
    "exact-on-read IMMEDIATELY — a span pushed under MinDocs leaves " +
    "duplicatedSpans with NO refresh step — and reads equal a rebuild " +
    "over the survivors; refresh compacts to the same answer") {
    val tagA = "graft_test_ss_del"
    val tagB = "graft_test_ss_del_ref"
    dropAll(tagA); dropAll(tagB)
    // docs 1 and 10 share 2 spans (duplicated); 3 is lonely
    SpanSet.buildOrLoad(spark,
      docs(1L -> sharedA, 10L -> sharedB, 3L -> lonely), tagA)
    assert(SpanSet.duplicatedSpans(spark, tagA).count() == 2)
    val (rowsR, negR) = SpanSet.delete(spark,
      Seq(10L, 99L).toDF("doc_id"), tagA)
    assert(rowsR == 3L && negR == 3L, s"got ($rowsR, $negR)")
    // exact immediately — the straddling spans drop under MinDocs with
    // no refresh (the count lattice absorbs negative deltas the same
    // way appends surface straddling spans instantly)
    assert(SpanSet.duplicatedSpans(spark, tagA).count() == 0,
      "deleted doc's spans must leave the duplicated set immediately")
    assert(SpanSet.spanAudit(spark, tagA) == (6L, 0L),
      "zero-sum fingerprints must not count as spans")
    assert(spark.table(s"${tagA}_spanrows")
      .filter(col("doc_id") === 10L).count() == 0)
    // == a from-scratch rebuild over the survivors on the serving face
    SpanSet.buildOrLoad(spark, docs(1L -> sharedA, 3L -> lonely), tagB)
    assert(SpanSet.spanAudit(spark, tagA) == SpanSet.spanAudit(spark, tagB))
    val a = SpanSet.duplicatedSpans(spark, tagA).as[String].collect().sorted
    val b = SpanSet.duplicatedSpans(spark, tagB).as[String].collect().sorted
    assert(a.toSeq == b.toSeq)
    // refresh compacts the delta rows away; answers unchanged
    SpanSet.refreshSpanCounts(spark, tagA)
    assert(SpanSet.spanAudit(spark, tagA) == (6L, 0L))
    val refreshed = spark.table(s"${tagA}_spanset")
    val rebuilt = spark.table(s"${tagB}_spanset")
    assert(refreshed.except(rebuilt).isEmpty &&
      rebuilt.except(refreshed).isEmpty,
      "compacted span set must equal the rebuild over survivors")
    // idempotent; and extractor-independent — the char family deletes
    // through the same verb
    assert(SpanSet.delete(spark, Seq(10L).toDF("doc_id"), tagA) ==
      ((0L, 0L)))
    dropAll(tagA); dropAll(tagB)
  }
}
