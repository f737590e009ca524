package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q_prf_expansion falsifiability, both directions (the
  * LangIdMeasuredSpec convention): PRF must retrieve a planted doc
  * findable ONLY through expansion vocabulary when the feedback docs
  * carry the co-occurrence signal, and must NOT retrieve it on a
  * control corpus where they don't. Plus the election guards: base
  * terms and stop-capped terms are ineligible — a capped near-stopword
  * with the TOP mining weight must not consume an expansion slot.
  */
class PrfSpec extends SparkSpec {
  import spark.implicits._

  private var tagN = 0
  private def freshTag(): String = {
    tagN += 1
    val tag = BucketedTable.tag(s"/tmp/prfspec$tagN", "lex")
    Seq(s"${tag}_lpost", s"${tag}_lstats", s"${tag}_ltouched").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    tag
  }

  private val base = Seq("alpha")

  /** Feedback docs: base term + 5 markers at strictly ordered mining
    * weights (z1 in all six, z5 in two) + a deliberate near-stopword
    * "the" at the TOP weight (3 occurrences x 6 docs = 18 > 6) that the
    * df cap must disqualify: "the" appears in 11 of the 12 docs, and
    * floor(0.9 * 12) = 10 < 11.
    */
  private val feedback = Seq(
    (1L, "alpha the the the z1 z2 z3 z4 z5"),
    (2L, "alpha the the the z1 z2 z3 z4 z5"),
    (3L, "alpha the the the z1 z2 z3 z4"),
    (4L, "alpha the the the z1 z2 z3"),
    (5L, "alpha the the the z1 z2"),
    (6L, "alpha the the the z1"))

  /** Targets: one marker each, NO base term — only expansion can
    * retrieve them. They carry "the" so its df stays over the cap.
    */
  private val targets = Seq(
    (11L, "z1 z1 z1 habitat stripe the"),
    (12L, "z2 z2 z2 habitat stripe the"),
    (13L, "z3 z3 z3 habitat stripe the"),
    (14L, "z4 z4 z4 habitat stripe the"),
    (15L, "z5 z5 z5 habitat stripe the"))

  private val noise = Seq((20L, "plain filler words here"))

  test("prf retrieves docs findable only through expansion vocabulary") {
    val docs = (feedback ++ targets ++ noise).toDF("doc_id", "text")
    val tag = freshTag()
    val out = CorpusQueries.prfExpansion(spark, docs, tag, base).collect()
    val byId = out.map(r => r.getLong(1) -> r).toMap
    // every marker target retrieved, purely through expansion: all five
    // fit ONLY if the capped "the" (top mining weight) was disqualified
    // from the 5 election slots
    for (id <- Seq(11L, 12L, 13L, 14L, 15L)) {
      assert(byId.contains(id), s"target $id not retrieved by PRF")
      assert(byId(id).getDouble(3) == 0.0,
        s"target $id must have score_base = 0 (no base term)")
    }
    // feedback docs still rank, with positive base scores, ahead of the
    // expansion-only targets (they match base at weight 1 AND the
    // markers at lambda)
    assert(byId(1L).getDouble(3) > 0.0)
    assert(out.head.getLong(1) <= 6L,
      "rank 1 must be a feedback doc, not an expansion-only target")
    // the marker-free noise doc matches nothing
    assert(!byId.contains(20L))
  }

  test("control corpus without the co-occurrence signal yields no lift") {
    val fbPlain = feedback.map { case (id, _) =>
      (id, "alpha the the the calm words")
    }
    val docs = (fbPlain ++ targets ++ noise).toDF("doc_id", "text")
    val tag = freshTag()
    val out = CorpusQueries.prfExpansion(spark, docs, tag, base).collect()
    val ids = out.map(_.getLong(1)).toSet
    // markers never co-occur with the base query, so no target doc is
    // reachable — PRF must not hallucinate recall
    assert(ids.intersect(Set(11L, 12L, 13L, 14L, 15L)).isEmpty,
      s"control corpus must not retrieve marker targets, got $ids")
    assert(Seq(1L, 2L, 3L, 4L, 5L, 6L).forall(ids.contains))
  }

  test("elected expansion never includes base terms") {
    // base term with crushing tf inside feedback docs: were base terms
    // electable, "alpha" would take a slot and re-weight itself — the
    // score of a pure-base doc would shift. Pin by differential: a doc
    // matching ONLY the base term scores identically whether or not
    // feedback docs repeat that base term heavily.
    val fbHeavy = Seq(
      (1L, "alpha alpha alpha alpha z1 z2 z3 z4 z5 pad1"),
      (2L, "alpha alpha alpha alpha z1 z2 z3 z4 z5 pad2"))
    val lone = Seq((30L, "alpha only here pad3"))
    val docs = (fbHeavy ++ lone ++ targets).toDF("doc_id", "text")
    val tag = freshTag()
    val out = CorpusQueries.prfExpansion(spark, docs, tag, base).collect()
    val byId = out.map(r => r.getLong(1) -> r).toMap
    assert(byId.contains(30L))
    // score == score_base for the lone doc: none of its terms were
    // elected, so the expansion leg contributes exactly nothing
    assert(byId(30L).getDouble(2) == byId(30L).getDouble(3),
      "a base-only doc's total must equal its base score")
  }
}
