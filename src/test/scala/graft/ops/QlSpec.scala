package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q_ql_dirichlet against a pure-Scala reference, plus the governance
  * pin the oracle cannot isolate: the effective query size |q| in the
  * doc-length leg counts UNCAPPED terms only, so the dl leg and the
  * match leg agree on what the query is — a capped near-stopword
  * neither matches docs NOR inflates every matched doc's length
  * penalty.
  */
class QlSpec extends SparkSpec {
  import spark.implicits._

  private var tagN = 0
  private def freshTag(): String = {
    tagN += 1
    val tag = BucketedTable.tag(s"/tmp/qlspec$tagN", "lex")
    Seq(s"${tag}_lpost", s"${tag}_lstats", s"${tag}_ltouched").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    tag
  }

  private def toks(t: String): Seq[String] = t.toLowerCase
    .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    .split(" ").toSeq

  private def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** 12 docs; "the" sits in 11 of them — over floor(0.9*12) = 10, so
    * it is stop-capped; "apple" is the one effective query term.
    */
  private val corpus = Seq(
    (1L, "apple apple pie the oven"),
    (2L, "apple tart the bakery fresh"),
    (3L, "apple the orchard rows"),
    (4L, "pear the orchard rows"),
    (5L, "plum the orchard rows"),
    (6L, "grape the vineyard rows"),
    (7L, "wheat the field rows"),
    (8L, "corn the field rows"),
    (9L, "rice the paddy rows"),
    (10L, "oat the field rows"),
    (11L, "rye the field rows"),
    (12L, "barley field quiet rows"))

  test("scores match a pure-Scala reference with |q| = uncapped terms") {
    val docs = corpus.toDF("doc_id", "text")
    val out = CorpusQueries.qlDirichlet(spark, docs, freshTag(),
      Seq("apple", "the")).collect()
    // only apple-matching docs retrieved: "the" is capped, so a doc
    // matching nothing else (4..11) must be absent
    assert(out.map(_.getLong(1)).toSet == Set(1L, 2L, 3L))
    val perDoc = corpus.map { case (id, t) => id -> toks(t) }.toMap
    val sumDl = perDoc.values.map(_.size.toLong).sum
    val cfApple = perDoc.values.map(_.count(_ == "apple").toLong).sum
    val mu = CorpusQueries.QlMu
    for (r <- out) {
      val (id, dl, got) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val tf = perDoc(id).count(_ == "apple").toLong
      val matchLeg =
        r9(math.log(1.0 + (tf * sumDl).toDouble / (mu * cfApple)))
      val dlLeg = 1L * r9(math.log(mu.toDouble / (dl + mu)))
      val want = BigDecimal(matchLeg + dlLeg)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got == want, s"doc $id: got $got want $want")
    }
    // tf=2 doc ranks first (same-length docs, higher likelihood)
    assert(out.head.getLong(1) == 1L)
  }

  test("an uncapped query is scored with the full |q|") {
    val docs = corpus.toDF("doc_id", "text")
    val out = CorpusQueries.qlDirichlet(spark, docs, freshTag(),
      Seq("apple", "orchard")).collect()
    // both terms effective: nq=2 in the dl leg, and orchard-only docs
    // (4, 5) are retrieved alongside the apple docs
    assert(out.map(_.getLong(1)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    val perDoc = corpus.map { case (id, t) => id -> toks(t) }.toMap
    val sumDl = perDoc.values.map(_.size.toLong).sum
    val mu = CorpusQueries.QlMu
    def cf(t: String) = perDoc.values.map(_.count(_ == t).toLong).sum
    val byId = out.map(r => r.getLong(1) -> r).toMap
    val r3 = byId(3L) // contains both terms
    val want3 = {
      val m = Seq("apple", "orchard").map { t =>
        r9(math.log(1.0 + (1L * sumDl).toDouble / (mu * cf(t))))
      }.sum
      BigDecimal(m + 2L * r9(math.log(mu.toDouble / (r3.getLong(2) + mu))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // the engine sums the two 9dp-rounded terms in DECIMAL(38,12)
    // before the double cast; the reference sums doubles — allow the
    // one-ulp difference the 6dp output rounding can straddle
    assert(math.abs(r3.getDouble(3) - want3) <= 1e-6,
      s"got ${r3.getDouble(3)} want $want3")
  }

  test("scoreArrivingQl derives |q| from the terms argument, not the " +
    "termStats relation's row count (r16 ADVICE #1): an over-wide " +
    "termStats must score identically to the properly-paired one") {
    val docs = corpus.toDF("doc_id", "text")
    val tag = freshTag()
    val (_, stats) = LexIndex.buildOrLoad(spark, docs, tag)
    val terms = Seq("apple")
    val narrow = LexIndex.termCorpusStats(spark, tag, terms)
    // covers two extra seen, uncapped terms the query does NOT ask for
    val wide = LexIndex.termCorpusStats(spark, tag,
      Seq("apple", "orchard", "field"))
    val batch = Seq((100L, "apple arrives fresh today"),
      (101L, "orchard rows but no query term")).toDF("doc_id", "text")
    def scores(ts: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      LexIndex.scoreArrivingQl(batch, ts, stats, terms, CorpusQueries.QlMu)
        .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val a = scores(narrow)
    val b = scores(wide)
    assert(a == b, s"wide termStats skewed the dl leg: narrow=$a wide=$b")
    assert(a.keySet == Set(100L), "only the query-term match scores")
  }
}
