package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q_passage_retrieval's falsifiability pins (r16 verdict missing #1):
  * passage-grain (chunk BM25 + maxP) must WIN the case it exists for —
  * a long document whose relevance is one sharp passage, diluted to a
  * loss under doc-grain BM25 by the whole-document dl — and must
  * DEGRADE EXACTLY to doc-grain ranking (ranks AND scores) when every
  * doc is a single chunk.
  */
class PassageSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("needle", "haystack")

  private var tagN = 0
  private def freshTags(): (String, String) = {
    tagN += 1
    val tagC = BucketedTable.tag(s"/tmp/passspec$tagN", "chunks")
    val tagP = BucketedTable.tag(s"/tmp/passspec$tagN", "plex")
    (ChunkStore.tables(tagC) ++ LexIndex.tables(tagP)).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    (tagC, tagP)
  }

  private def freshLexTag(): String = {
    tagN += 1
    val tag = BucketedTable.tag(s"/tmp/passspecd$tagN", "lex")
    LexIndex.tables(tag).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    tag
  }

  /** Doc-grain BM25 ranking — the q_bm25 shape, the control arm. */
  private def docGrain(docs: org.apache.spark.sql.DataFrame)
      : Seq[(Int, Long, Double)] = {
    val (post, stats) = LexIndex.buildOrLoad(spark, docs, freshLexTag())
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    LexIndex.scoreTerms(post, stats, terms)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("doc_id"),
        round(col("score"), 6).as("score"))
      .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)
  }

  private def passage(docs: org.apache.spark.sql.DataFrame)
      : Seq[(Int, Long, Int, Double)] = {
    val (tagC, tagP) = freshTags()
    CorpusQueries.passageRetrieval(spark, docs, tagC, tagP, terms)
      .select(col("rank"), col("doc_id"), col("chunk_idx"), col("score"))
      .as[(Int, Long, Int, Double)].collect().toSeq.sortBy(_._1)
  }

  // ---- q_passage_fusion (r18): both falsifiability directions for
  // the hybrid passage face.

  private val fuseTerms = Seq("needle", "haystack", "thread")

  private def freshFusionTags(): (String, String, String) = {
    tagN += 1
    val base = s"/tmp/passfuse$tagN"
    val tagC = BucketedTable.tag(base, "chunks")
    val tagP = BucketedTable.tag(base, "plex")
    val tagV = BucketedTable.tag(base, "pvec")
    (ChunkStore.tables(tagC) ++ LexIndex.tables(tagP)).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(tagV))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    (tagC, tagP, tagV)
  }

  test("fusion direction 1: a passage findable ONLY by vector " +
    "alignment (zero query-term overlap) surfaces in q_passage_fusion " +
    "and NOT in the BM25-only passage face — and a BM25-findable doc " +
    "still surfaces in fusion") {
    // the query's token-hash vector
    val qv = CorpusQueries.tokenHashVecs(
        Seq((0L, fuseTerms.mkString(" "))).toDF("doc_id", "text"))
      .select("v").as[Seq[Double]].head()
    val qn = math.sqrt(qv.map(x => x * x).sum)
    // mimic token: the candidate whose ±1 signature best aligns with
    // the query vector — found with the SAME derivation the operator
    // uses, so the plant is deterministic, not lucky
    val cands = (0 until 20000).map(i => (i.toLong, s"m$i"))
    val (bestId, bestCos) = CorpusQueries.tokenHashVecs(
        cands.toDF("doc_id", "text"))
      .select("vec_id", "v").as[(Long, Seq[Double])].collect()
      .map { case (id, v) =>
        val d = v.zip(qv).map { case (a, b) => a * b }.sum
        (id, d / (math.sqrt(v.map(x => x * x).sum) * qn))
      }.maxBy(_._2)
    assert(bestCos > 0.6,
      s"mimic search must find a well-aligned token (got $bestCos)")
    // doc 1: one chunk of the mimic token repeated — cosine vs the
    // query == bestCos (scale-invariant), zero query-term overlap.
    // doc 2: sharp lexical evidence, vector-unaligned junk otherwise.
    // 36 junk docs: enough chunks that the FuseN=20 shortlists CUT.
    val docs = (Seq(
        (1L, Seq.fill(24)(s"m$bestId").mkString(" ")),
        (2L, "needle haystack thread needle haystack sewing kit basic")) ++
      (10L to 45L).map(i =>
        (i, (1 to 24).map(j => s"j${i}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    val (tagC, tagP, tagV) = freshFusionTags()
    val bmOnly = CorpusQueries.passageRetrieval(spark, docs, tagC, tagP,
        fuseTerms)
      .select("doc_id").as[Long].collect().toSet
    assert(!bmOnly.contains(1L),
      "the vector-only doc must be invisible to the BM25-only face")
    assert(bmOnly.contains(2L))
    val fused = CorpusQueries.passageFusion(spark, docs, tagC, tagP,
        tagV, fuseTerms)
      .select("rank", "doc_id").as[(Int, Long)].collect().toSeq
    val fusedDocs = fused.map(_._2).toSet
    assert(fusedDocs.contains(1L),
      "fusion must surface the vector-only passage the lexical leg " +
        s"cannot see (fused: $fused)")
    assert(fusedDocs.contains(2L),
      "fusion must keep the BM25-findable doc (the other direction)")
    // the stored chunk IVF index exists under the family tag and the
    // family verbs apply unchanged (the tag-parameterization claim)
    val ivfTag = spark.catalog.listTables().collect().map(_.name)
      .find(n => n.startsWith(tagV) && n.endsWith("_ivfcells"))
      .map(_.stripSuffix("_ivfcells"))
    assert(ivfTag.isDefined, "chunk IVF must be a cataloged store")
    assert(IvfIndex.exists(spark, ivfTag.get))
    assert(IvfIndex.delete(spark,
      Seq(1L * CorpusQueries.PassageIdStride).toDF("vec_id"),
      ivfTag.get) >= 0L)
  }

  test("fusion direction 2: on a single-chunk corpus the maxP " +
    "election is the identity — every elected chunk is chunk 0 and " +
    "the doc ranking IS the fused chunk ranking (doc-grain hybrid " +
    "shape)") {
    val docs = (Seq(
        (1L, "needle haystack thread needle work"),
        (2L, "needle haystack on the small table")) ++
      (10L to 30L).map(i =>
        (i, (1 to 20).map(j => s"k${i}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    val (tagC, tagP, tagV) = freshFusionTags()
    val out = CorpusQueries.passageFusion(spark, docs, tagC, tagP,
        tagV, fuseTerms)
      .select("rank", "doc_id", "chunk_idx", "chunk_rank")
      .as[(Int, Long, Int, Int)].collect().toSeq.sortBy(_._1)
    assert(out.nonEmpty)
    assert(out.forall(_._3 == 0), "single-chunk corpus: chunk_idx == 0")
    val ranks = out.map(_._4)
    assert(ranks == ranks.sorted && ranks.distinct == ranks,
      "doc order must be exactly the fused chunk ranking " +
        s"(chunk_rank strictly increasing): $ranks")
  }

  test("a long doc with ONE sharp relevant passage loses under " +
    "doc-grain BM25 (whole-doc dl dilutes it) and WINS under passage " +
    "grain — and the elected chunk is the passage's") {
    // doc 1: 200 junk tokens then the sharp passage (the tail chunk);
    // doc 2: a short doc with weaker evidence of BOTH terms — its tiny
    // dl wins doc-grain BM25, but its best chunk loses to the passage
    val junk = (1 to 200).map(i => s"f$i").mkString(" ")
    val sharp = "needle haystack needle haystack needle haystack " +
      "needle haystack stitch work done now"
    val doc1 = junk + " " + sharp
    val doc2 = "needle haystack needle on a small table right here"
    val docs = (Seq((1L, doc1), (2L, doc2)) ++
      (10L to 17L).map(i => (i, (1 to 30).map(j => s"g${i}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    val dg = docGrain(docs)
    val pg = passage(docs)
    assert(dg.head._2 == 2L,
      s"doc grain must prefer the short doc (the dilution premise): $dg")
    assert(pg.head._2 == 1L,
      s"passage grain must surface the sharp passage's doc: $pg")
    // the winning evidence is the TAIL chunk holding the passage, not
    // chunk 0 of the junk prefix
    val winner = pg.head
    assert(winner._3 > 0, s"elected chunk must be the passage's: $winner")
  }

  test("takedown at passage grain: the family verbs work unchanged on " +
    "the chunk-grain index — deleting a doc's chunk ids removes it " +
    "from passage results immediately") {
    // filler docs keep the post-delete chunk count high enough that
    // the StopTermDfFrac cap (floor(0.9 * N_chunks)) stays above the
    // survivor's STALE stored df — the cap contract at tiny N, not a
    // takedown property
    val junk = (1 to 100).map(i => s"h$i").mkString(" ")
    val docs = (Seq(
      (1L, junk + " needle haystack needle haystack sharp passage here"),
      (2L, "needle haystack on the small table right here")) ++
      (10L to 15L).map(i => (i, (1 to 10).map(j => s"z${i}q$j").mkString(" "))))
      .toDF("doc_id", "text")
    val (tagC, tagP) = freshTags()
    val first = CorpusQueries.passageRetrieval(spark, docs, tagC, tagP, terms)
      .select("doc_id").as[Long].collect().toSet
    assert(first == Set(1L, 2L))
    // doc 1's chunk ids, from the stored chunk spans — the takedown
    // set at this grain
    val chunkIds = spark.table(s"${tagC}_chunks")
      .filter(col("doc_id") === 1L)
      .select((col("doc_id") * CorpusQueries.PassageIdStride +
        col("chunk_idx")).as("doc_id"))
    assert(LexIndex.delete(spark, chunkIds, tagP) > 0L)
    val after = CorpusQueries.passageRetrieval(spark, docs, tagC, tagP, terms)
      .select("doc_id").as[Long].collect().toSet
    assert(after == Set(2L), s"deleted doc still served: $after")
  }

  test("passageAggSweep: on the long-doc corpus maxP and doc-grain " +
    "disagree on the winner (the dilution premise, measured); on a " +
    "single-chunk corpus every arm elects the same top-1") {
    val junk = (1 to 200).map(i => s"f$i").mkString(" ")
    val sharp = "needle haystack needle haystack needle haystack " +
      "needle haystack stitch work done now"
    val docs = (Seq((1L, junk + " " + sharp),
      (2L, "needle haystack needle on a small table right here")) ++
      (10L to 17L).map(i => (i, (1 to 30).map(j => s"g${i}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    val (tagC, tagP) = freshTags()
    val lexTag = freshLexTag()
    def sweep(d: org.apache.spark.sql.DataFrame, tc: String, tp: String,
              tl: String): Map[String, (Long, Double, Long)] =
      CorpusQueries.passageAggSweep(spark, d, tc, tp, tl, terms)
        .as[(String, Long, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val long = sweep(docs, tagC, tagP, lexTag)
    assert(long.keySet ==
      Set("avgp", "docgrain", "firstp", "maxp", "sump"))
    assert(long("docgrain")._1 == 2L && long("maxp")._1 == 1L,
      s"the grains must disagree on the winner: $long")
    // single-chunk corpus: every arm == doc grain (same top-1; full
    // overlap of the ranked sets)
    val shortDocs = Seq(
      (1L, "needle haystack sewing kit on the table"),
      (2L, "needle found in the haystack yesterday needle"),
      (3L, "a haystack stands alone in the field"),
      (5L, "needle threads and fabric scraps everywhere"))
      .toDF("doc_id", "text")
    val (tagC2, tagP2) = freshTags()
    val short = sweep(shortDocs, tagC2, tagP2, freshLexTag())
    val t1s = short.values.map(_._1).toSet
    assert(t1s.size == 1, s"single-chunk arms must agree on top-1: $short")
    assert(short.values.map(_._3).toSet.size == 1,
      s"single-chunk overlap counts must all equal: $short")
  }

  test("single-chunk corpus: passage retrieval degrades to doc-grain " +
    "ranking EXACTLY — same ranks, same docs, same scores") {
    // every doc <= 32 tokens -> exactly one chunk spanning the doc
    val docs = Seq(
      (1L, "needle haystack sewing kit on the table"),
      (2L, "needle found in the haystack yesterday needle"),
      (3L, "a haystack stands alone in the field"),
      (4L, "entirely unrelated content about weather patterns"),
      (5L, "needle threads and fabric scraps everywhere"))
      .toDF("doc_id", "text")
    val dg = docGrain(docs)
    val pg = passage(docs)
    assert(pg.map(r => (r._1, r._2, r._4)) == dg,
      s"single-chunk passage != doc grain:\npassage $pg\ndoc     $dg")
    assert(pg.forall(_._3 == 0), "every elected chunk must be chunk 0")
  }
}
