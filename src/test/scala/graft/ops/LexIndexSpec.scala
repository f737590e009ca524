package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The stored lexical retrieval index's lifecycle (ninth artifact
  * family, r13 verdict #2): build (term-bucketed postings with
  * build-time df + dl, 1-row corpus stats), stored == derived
  * differential, BM25 scoring == a pure-Scala reference, daily append
  * (batch-local df lower bound + exact stats fold), refresh == a
  * from-scratch rebuild, steady-state reads, and the serving plan
  * shape (no corpus scan, bucket-pruned postings).
  */
class LexIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private val standing = Seq(
    (1L, "spark join query spark fast engine the and"),
    (2L, "spark is the engine we use for big data work"),
    (3L, "join me tomorrow for the query tuning session ok"),
    (4L, "totally unrelated words live here peacefully forever"))

  private var tagN = 0
  private def freshTag(role: String): String = {
    tagN += 1
    BucketedTable.tag(s"/tmp/lexspec$tagN", role)
  }

  private def dropAll(tag: String): Unit =
    Seq(s"${tag}_lpost", s"${tag}_lstats", s"${tag}_ltouched").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** Pure-Scala posting reference: (term, doc_id, tf, dl, df). */
  private def refPostings(rows: Seq[(Long, String)])
      : Set[(String, Long, Long, Long, Long)] = {
    def toks(t: String): Seq[String] = t.toLowerCase
      .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim.split(" ")
      .toSeq
    val perDoc = rows.map { case (id, t) => (id, toks(t)) }
    val df = perDoc.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).map { case (w, l) => w -> l.size.toLong }
    perDoc.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (w, occ) =>
        (w, id, occ.size.toLong, ts.size.toLong, df(w))
      }
    }.toSet
  }

  /** Pure-Scala BM25 reference over the given stats (k1=1.2, b=0.75,
    * the committed 9dp/9dp rounding): doc_id -> 6dp score, matched
    * docs only.
    */
  private def refScores(rows: Seq[(Long, String)],
                        terms: Seq[String]): Map[Long, Double] = {
    val posts = refPostings(rows)
    val n = rows.size.toDouble
    val sumDl = posts.groupBy(_._2).values.map(_.head._4).sum.toDouble
    val avgdl = sumDl / n
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    posts.filter(p => terms.contains(p._1)).toSeq
      .groupBy(_._2).map { case (id, ps) =>
        val s = ps.map { case (_, _, tf, dl, df) =>
          val idf = r9(math.log((n - df + 0.5) / (df + 0.5) + 1.0))
          BigDecimal(r9(idf * tf * 2.2
            / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))
        }.sum
        id -> s.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
  }

  test("stored == derived: the built posting table equals the " +
    "pure-Scala reference (tf, dl, and build-time df per row); stats " +
    "row carries exact N and sum dl") {
    val tag = freshTag("lex")
    dropAll(tag)
    val (post, stats) = LexIndex.buildOrLoad(spark, corpus(standing: _*), tag)
    val got = post.select("term", "doc_id", "tf", "dl", "df")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == refPostings(standing))
    val st = stats.as[(Long, Long)].collect().toSeq
    assert(st == Seq((4L, standing.map(_._2.trim.split(" +").length.toLong)
      .sum)))
    dropAll(tag)
  }

  test("scoreTerms == the pure-Scala BM25 reference; a doc with no " +
    "query term is NOT retrieved") {
    val tag = freshTag("lex")
    dropAll(tag)
    val (post, stats) = LexIndex.buildOrLoad(spark, corpus(standing: _*), tag)
    val got = LexIndex
      .scoreTerms(post, stats, CorpusQueries.Bm25Terms)
      .select(col("doc_id"), round(col("score"), 6))
      .as[(Long, Double)].collect().toMap
    assert(got == refScores(standing, CorpusQueries.Bm25Terms))
    assert(!got.contains(4L), "doc 4 has no query term — not retrieved")
    assert(got.keySet == Set(1L, 2L, 3L))
    dropAll(tag)
  }

  test("stop-term governance (StopTermDfFrac): a query term with df " +
    "over floor(0.9·N) is skipped on BOTH scoring faces — a doc whose " +
    "only match is the stop-term is not retrieved; other docs score " +
    "as if the term were absent from the query") {
    val tag = freshTag("lex")
    dropAll(tag)
    // 'common' in all 4 docs: df = 4 > floor(0.9*4) = 3 -> capped.
    // 'spark' in 1 doc: df = 1 -> scored normally.
    val rows = Seq(
      (1L, "common spark engine runs here"),
      (2L, "common words fill this doc"),
      (3L, "common text again and again"),
      (4L, "common filler sentence four"))
    val (post, stats) = LexIndex.buildOrLoad(spark, corpus(rows: _*), tag)
    val terms = Seq("common", "spark")
    val got = LexIndex.scoreTerms(post, stats, terms)
      .select(col("doc_id"), round(col("score"), 6))
      .as[(Long, Double)].collect().toMap
    // the cap makes the query equivalent to querying 'spark' alone
    assert(got == refScores(rows, Seq("spark")), got.toString)
    assert(got.keySet == Set(1L),
      "docs matching only the capped stop-term must not be retrieved")
    // ingest face applies the SAME cap: an arriving copy of doc 1
    // scores exactly what the stored path scored it
    val tdf = LexIndex.termDf(spark, tag, terms)
    val arr = LexIndex.scoreArriving(
        corpus((101L, rows(0)._2)), tdf, stats, terms)
      .select(col("doc_id"), round(col("score"), 6))
      .as[(Long, Double)].collect().toMap
    assert(arr == Map(101L -> got(1L)), arr.toString)
    dropAll(tag)
  }

  test("append: new postings carry BATCH-LOCAL df (a lower bound — " +
    "standing rows keep build vintage), the stats row folds exactly; " +
    "refreshCounts == a from-scratch rebuild row-for-row") {
    val tag = freshTag("lex")
    val tagRef = freshTag("lexref")
    dropAll(tag); dropAll(tagRef)
    val batch = Seq(
      (10L, "query speed matters most here"),
      (11L, "fresh spark arrival doc today"))
    LexIndex.buildOrLoad(spark, corpus(standing: _*), tag)
    LexIndex.append(spark, corpus(batch: _*), tag)
    // appended 'query' posting: batch df = 1 < true df 3; standing
    // 'query' rows keep build-vintage df = 2
    val dfs = spark.table(s"${tag}_lpost").filter(col("term") === "query")
      .select("doc_id", "df").as[(Long, Long)].collect().toMap
    assert(dfs(10L) == 1L && dfs(1L) == 2L && dfs(3L) == 2L, dfs.toString)
    // stats fold exactly: N = 6, sum_dl = standing 34 + batch 10
    val st = spark.table(s"${tag}_lstats").as[(Long, Long)].collect().head
    assert(st == ((6L, 44L)), st.toString)
    // the staleness direction: every stored df <= the true df
    val trueDf = refPostings(standing ++ batch)
      .map(p => (p._1, p._2) -> p._5).toMap
    spark.table(s"${tag}_lpost")
      .select("term", "doc_id", "df").as[(String, Long, Long)]
      .collect().foreach { case (t, id, d) =>
        assert(d <= trueDf((t, id)), s"stored df must lower-bound: $t")
      }
    // refresh levels everything: == a from-scratch build over the union
    LexIndex.refreshCounts(spark, tag)
    LexIndex.buildOrLoad(spark, corpus(standing ++ batch: _*), tagRef)
    val a = spark.table(s"${tag}_lpost")
      .select("term", "doc_id", "tf", "dl", "df")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val b = spark.table(s"${tagRef}_lpost")
      .select("term", "doc_id", "tf", "dl", "df")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(a == b)
    dropAll(tag); dropAll(tagRef)
  }

  test("steady state is a read: a second buildOrLoad returns the " +
    "cataloged tables without rebuilding (catalog gate, not input, " +
    "decides)") {
    val tag = freshTag("lex")
    dropAll(tag)
    val (p1, _) = LexIndex.buildOrLoad(spark, corpus(standing: _*), tag)
    val c1 = p1.count()
    val (p2, s2) = LexIndex.buildOrLoad(spark,
      corpus((99L, "zz zz zz")), tag)
    assert(p2.count() == c1)
    assert(p2.filter(col("term") === "zz").count() == 0,
      "buildOrLoad must not have re-indexed the second relation")
    assert(s2.as[(Long, Long)].collect().head._1 == 4L)
    dropAll(tag)
  }

  test("ingest-time face: scoreArriving against the FROZEN stats — an " +
    "arriving copy of a standing doc scores exactly what the stored " +
    "read path scored the standing doc; micro-batch union == one batch") {
    val tag = freshTag("lex")
    dropAll(tag)
    val (post, stats) = LexIndex.buildOrLoad(spark, corpus(standing: _*), tag)
    val terms = CorpusQueries.Bm25Terms
    val stored = LexIndex.scoreTerms(post, stats, terms)
      .select(col("doc_id"), round(col("score"), 6))
      .as[(Long, Double)].collect().toMap
    val tdf = LexIndex.termDf(spark, tag, terms)
    // arriving copies of docs 1 and 3 (new ids, same text)
    val arriving = Seq((101L, standing(0)._2), (103L, standing(2)._2))
    val got = LexIndex.scoreArriving(corpus(arriving: _*), tdf, stats, terms)
      .select(col("doc_id"), round(col("score"), 6))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(101L -> stored(1L), 103L -> stored(3L)))
    // stateless: scoring per-doc micro-batches unions to the same rows
    val perDoc = arriving.flatMap(d =>
      LexIndex.scoreArriving(corpus(d), tdf, stats, terms)
        .select(col("doc_id"), round(col("score"), 6))
        .as[(Long, Double)].collect())
    assert(perDoc.toMap == got)
    // a query term the standing index has NEVER seen scores at df = 0
    // (maximal idf) instead of silently dropping the doc (r14 review)
    val terms2 = Seq("spark", "zzunseen")
    val tdf2 = LexIndex.termDf(spark, tag, terms2)
    assert(tdf2.filter(col("term") === "zzunseen").isEmpty)
    val unseenScore = LexIndex.scoreArriving(
        corpus((201L, "zzunseen appears only here")), tdf2, stats, terms2)
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().toMap
    assert(unseenScore.contains(201L) && unseenScore(201L) > 0.0,
      s"a doc matching only an unseen term must still score: $unseenScore")
    dropAll(tag)
  }

  test("delete (r15 verdict #1): a deleted doc is never retrieved " +
    "again on the serving face, stats subtract exactly, surviving df " +
    "is a stale UPPER bound (the append dual), and delete + " +
    "refreshCountsPartial == a from-scratch rebuild over the " +
    "survivors row-for-row") {
    val tag = freshTag("lex")
    val tagRef = freshTag("lexref")
    dropAll(tag); dropAll(tagRef)
    LexIndex.buildOrLoad(spark, corpus(standing: _*), tag)
    // delete docs 1 and 3 (both match query terms) + a never-indexed id
    val removed = LexIndex.delete(spark,
      Seq(1L, 3L, 999L).toDF("doc_id"), tag)
    assert(removed == refPostings(standing)
      .count(p => p._2 == 1L || p._2 == 3L),
      "removed rows must equal the deleted docs' posting count")
    val survivors = standing.filterNot(d => Set(1L, 3L)(d._1))
    // the takedown guarantee holds IMMEDIATELY (stale df and all):
    // scoring any query can never return the deleted docs
    val (post, stats) = (spark.table(s"${tag}_lpost"),
      spark.table(s"${tag}_lstats"))
    val got = LexIndex.scoreTerms(post, stats, CorpusQueries.Bm25Terms)
      .select("doc_id").as[Long].collect().toSet
    assert(!got.contains(1L) && !got.contains(3L),
      s"deleted docs must never be retrieved: $got")
    // stats row is exact over the survivors
    assert(stats.as[(Long, Long)].collect().head ==
      ((2L, survivors.map(_._2.trim.split(" +").length.toLong).sum)))
    // staleness direction: every surviving df UPPER-bounds the truth
    val trueDf = refPostings(survivors).map(p => (p._1, p._2) -> p._5).toMap
    post.select("term", "doc_id", "df").as[(String, Long, Long)]
      .collect().foreach { case (t, id, d) =>
        assert(d >= trueDf((t, id)), s"df must upper-bound after delete: $t")
      }
    // the ledger holds the deleted docs' terms; the partial re-level
    // equals a from-scratch rebuild over the survivors
    assert(spark.table(s"${tag}_ltouched").count() > 0)
    val nPb = LexIndex.refreshCountsPartial(spark, tag)
    assert(nPb > 0)
    LexIndex.buildOrLoad(spark, corpus(survivors: _*), tagRef)
    val a = spark.table(s"${tag}_lpost")
      .select("term", "doc_id", "tf", "dl", "df")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val b = spark.table(s"${tagRef}_lpost")
      .select("term", "doc_id", "tf", "dl", "df")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(a == b, "partial re-level after delete must equal a rebuild")
    // idempotent: deleting the same ids again removes nothing
    assert(LexIndex.delete(spark, Seq(1L, 3L).toDF("doc_id"), tag) == 0L)
    dropAll(tag); dropAll(tagRef)
  }

  test("refreshCountsPartial (r15 verdict #4): only the buckets " +
    "holding touched terms rewrite — result == the full refreshCounts " +
    "row-for-row, and every untouched partition's files are " +
    "byte-identical on disk") {
    val tag = freshTag("lex")
    val tagFull = freshTag("lexfull")
    dropAll(tag); dropAll(tagFull)
    // twin indexes, same build + same append
    val batch = Seq((10L, "query speed matters most here"))
    LexIndex.buildOrLoad(spark, corpus(standing: _*), tag)
    LexIndex.buildOrLoad(spark, corpus(standing: _*), tagFull)
    LexIndex.append(spark, corpus(batch: _*), tag)
    LexIndex.append(spark, corpus(batch: _*), tagFull)
    // the touched partitions, from the ledger (what partial will rewrite)
    val nb = LexIndex.buckets(spark, tag)
    val touchedPbs = spark.table(s"${tag}_ltouched")
      .select(expr(s"pmod(hash(term), $nb)").cast("int")).distinct()
      .as[Int].collect().toSet
    val allPbs = spark.table(s"${tag}_lpost")
      .select(col("pb").cast("int")).distinct().as[Int].collect().toSet
    assert(touchedPbs.nonEmpty && (allPbs -- touchedPbs).nonEmpty,
      s"fixture must leave untouched partitions: $touchedPbs of $allPbs")
    // snapshot the untouched partitions' files (path -> length, mtime)
    def files(pbs: Set[Int]): Map[String, (Long, Long)] = pbs.flatMap { k =>
      val d = new java.io.File(s"spark-warehouse/${tag}_lpost/pb=$k")
      Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified()))
    }.toMap
    val untouched = allPbs -- touchedPbs
    val before = files(untouched)
    assert(before.nonEmpty, "untouched partitions must have files")
    val nPb = LexIndex.refreshCountsPartial(spark, tag)
    assert(nPb == touchedPbs.size.toLong)
    assert(files(untouched) == before,
      "untouched partitions must be byte-identical (same files, " +
        "sizes, and modification times)")
    LexIndex.refreshCounts(spark, tagFull)
    val a = spark.table(s"${tag}_lpost")
      .select("term", "doc_id", "tf", "dl", "df")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val b = spark.table(s"${tagFull}_lpost")
      .select("term", "doc_id", "tf", "dl", "df")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(a == b, "partial == full re-level row-for-row")
    // both ledgers reset
    assert(spark.table(s"${tag}_ltouched").count() == 0)
    assert(spark.table(s"${tagFull}_ltouched").count() == 0)
    // a second partial pass is a no-op (nothing touched)
    assert(LexIndex.refreshCountsPartial(spark, tag) == 0L)
    // the BUCKET-PRUNED read path sees the rewritten rows: if the
    // dynamic-partition overwrite had mis-bucketed its files, the
    // term-IN pruned scan would silently lose postings
    val terms = Seq("query", "spark")
    val sp = LexIndex.scoreTerms(spark.table(s"${tag}_lpost"),
        spark.table(s"${tag}_lstats"), terms)
      .select(col("doc_id"), round(col("score"), 6))
      .as[(Long, Double)].collect().toMap
    val sf = LexIndex.scoreTerms(spark.table(s"${tagFull}_lpost"),
        spark.table(s"${tagFull}_lstats"), terms)
      .select(col("doc_id"), round(col("score"), 6))
      .as[(Long, Double)].collect().toMap
    assert(sp == sf && sp.nonEmpty,
      s"bucket-pruned scoring must agree after the partial rewrite: $sp")
    dropAll(tag); dropAll(tagFull)
  }

  test("scorePanel == scoreTerms per panel query: the hybrid-fusion " +
    "lexical leg (r14 verdict #4) shares the combine expression and " +
    "both pushed caps VERBATIM — a panel of queries scores each doc " +
    "exactly as |panel| independent scoreTerms calls would") {
    val tag = freshTag("lex")
    dropAll(tag)
    val (post, stats) = LexIndex.buildOrLoad(spark, corpus(standing: _*), tag)
    val panel = Map(10L -> Seq("spark", "join"), 20L -> Seq("query"),
      30L -> Seq("engine", "the"))
    val qt = panel.toSeq.flatMap { case (q, ts) => ts.map((q, _)) }
      .toDF("query_id", "term")
    val allTerms = panel.values.flatten.toSeq.distinct.sorted
    val got = LexIndex.scorePanel(post, stats, qt, allTerms)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    panel.foreach { case (q, ts) =>
      val solo = LexIndex.scoreTerms(post, stats, ts)
        .select(col("doc_id"), round(col("score"), 6))
        .as[(Long, Double)].collect().toMap
      assert(got.getOrElse(q, Map.empty) == solo,
        s"panel query $q diverged from its solo scoreTerms run")
    }
    // PanelTermCap overflow (r15 verdict 'what's wrong' #2): forcing
    // the cap under the panel vocabulary switches to the broadcast
    // semi-join fallback — identical rows, no literal list in the plan
    val fallback = LexIndex.scorePanel(post, stats, qt, allTerms,
        panelTermCap = 0)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6))
      .as[(Long, Long, Double)].collect().toSet
    val literal = LexIndex.scorePanel(post, stats, qt, allTerms)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6))
      .as[(Long, Long, Double)].collect().toSet
    assert(fallback == literal,
      "over-cap fallback must score identically to the literal path")
    dropAll(tag)
  }
}
