package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The stored-tokenizer family's contracts (r13, the eighth stored
  * family — r12 verdict #1):
  *
  *   1. stored == derived — the tables BpeStore writes are EXACTLY the
  *      learnAndApply output (one definition; the store adds
  *      persistence, never semantics),
  *   2. append == encode-against-standing-merges — new words get the
  *      segmentation the standing merge table dictates (applyMerges
  *      differential vs a hand-computed pin), standing rows untouched,
  *      already-seen words insert nothing,
  *   3. the declared queries READ the store (steady state is a scan:
  *      a second consumer touches the tables without re-learning).
  */
class BpeStoreSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private def freshTag(role: String) =
    BucketedTable.tag(s"/tmp/bpestore_${role}_${System.nanoTime()}", "bpe")

  test("stored tables == learnAndApply output (merges AND segmentations)") {
    // "ab" x3 + "abab": merges (a,b) then (ab,ab) then exhaustion at
    // (ab,?)... deterministic small corpus, every row comparable
    val docs = corpus((1L, "ab ab abab"), (2L, "ab cd"))
    val tag = freshTag("eq")
    val (mT, sT) = (s"${tag}_bpemerges", s"${tag}_bpesegs")
    BpeStore.buildOrLoad(spark, docs, tag)
    val (merges, vFinal) = BpeQueries.learnAndApplyDocs(docs)
    try {
      val storedM = spark.table(mT)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq.sortBy(_._1)
      assert(storedM == merges.sortBy(_._1), s"stored=$storedM")
      val storedS = spark.table(sT)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getSeq[String](2).toList)).toSet
      val direct = vFinal
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getSeq[String](2).toList)).toSet
      assert(storedS == direct, s"stored=$storedS direct=$direct")
    } finally { vFinal.unpersist(); Checkpoints.free(vFinal) }
  }

  test("append segments UNSEEN words against the standing merges; " +
    "standing rows untouched; seen words insert nothing") {
    // learn on a corpus where (a,b) then (ab,ab) are the first merges
    val docs = corpus((1L, "ab ab ab abab"))
    val tag = freshTag("app")
    val sT = s"${tag}_bpesegs"
    BpeStore.buildOrLoad(spark, docs, tag)
    val before = spark.table(sT).collect().map(_.toString).toSet
    // batch: one seen word (ab), two unseen (ababab, xy)
    BpeStore.append(spark, corpus((10L, "ab ababab xy")), tag)
    spark.catalog.refreshTable(sT)
    val after = spark.table(sT)
      .collect().map(r => (r.getString(0), r.getSeq[String](2).toList))
      .toMap
    // standing rows survived verbatim
    assert(before.subsetOf(spark.table(sT).collect()
      .map(_.toString).toSet))
    // seen word not duplicated
    assert(spark.table(sT).filter(col("word") === "ab").count() == 1)
    // unseen words carry the segmentation the standing merges dictate:
    // ababab -> (a,b) merges all three pairs -> [ab,ab,ab]; then
    // (ab,ab) merges greedily left-to-right -> [abab, ab];
    // xy has no applicable merge -> [x, y]
    assert(after("ababab") == List("abab", "ab"), after("ababab"))
    assert(after("xy") == List("x", "y"), after("xy"))
  }

  test("append == applyMerges differential on a generated batch") {
    val docs = corpus((1L, "the them they the them they the them they"))
    val tag = freshTag("diff")
    val sT = s"${tag}_bpesegs"
    BpeStore.buildOrLoad(spark, docs, tag)
    val batch = corpus((20L, "theory thesis other the"))
    val unseen = BpeQueries.vocabOf(batch)
      .join(spark.table(sT).select("word"), Seq("word"), "left_anti")
    val expected = BpeQueries.applyMerges(unseen,
      BpeStore.mergeList(spark, tag))
    val expRows = expected
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[String](2).toList)).toSet
    expected.unpersist(); Checkpoints.free(expected)
    val standingWords = spark.table(sT).select("word")
      .as[String].collect().toSet
    BpeStore.append(spark, batch, tag)
    spark.catalog.refreshTable(sT)
    val inserted = spark.table(sT)
      .filter(!col("word").isin(standingWords.toSeq: _*))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[String](2).toList)).toSet
    assert(inserted == expRows, s"inserted=$inserted expected=$expRows")
    assert(inserted.map(_._1) == Set("theory", "thesis", "other"))
  }

  test("merge-budget geometry tags coexist with NO cross-tag reads " +
    "(r13 verdict #7): two budgets over one corpus learn different " +
    "depths, each q read hits only its own tables, and dropping one " +
    "tag leaves the other fully readable") {
    // 'abab' x4 + 'abcd': budget 1 learns only (a,b); budget 3 also
    // learns (ab,ab) and more — segmentations must differ per tag
    val docs = corpus((1L, "abab abab abab abab abcd"))
    val base = s"/tmp/bpesweep_${System.nanoTime()}"
    val tag1 = BucketedTable.tag(base, "bpe1")
    val tag3 = BucketedTable.tag(base, "bpe3")
    assert(tag1 != tag3, "budget must be part of the tag")
    val (m1, s1) = BpeStore.buildOrLoad(spark, docs, tag1, numMerges = 1)
    val (m3, s3) = BpeStore.buildOrLoad(spark, docs, tag3, numMerges = 3)
    assert(m1.count() == 1L && m3.count() == 3L)
    def segOf(segs: org.apache.spark.sql.DataFrame, w: String) =
      segs.filter(col("word") === w).select("syms")
        .as[Seq[String]].collect().head
    // budget 1: abab -> ab|ab (one merge applied twice);
    // budget 3: (a,b) then (ab,ab) -> abab is ONE symbol
    assert(segOf(s1, "abab") == Seq("ab", "ab"))
    assert(segOf(s3, "abab") == Seq("abab"))
    // isolation: the deeper store's tables never entered the shallow
    // read's plan — drop tag3 entirely, tag1 still reads end to end
    Seq(s"${tag3}_bpemerges", s"${tag3}_bpesegs").foreach(t =>
      spark.sql(s"DROP TABLE $t"))
    assert(BpeStore.mergeList(spark, tag1) == Seq(("a", "b")))
    assert(segOf(spark.table(s"${tag1}_bpesegs"), "abcd")
      == Seq("ab", "c", "d"))
    Seq(s"${tag1}_bpemerges", s"${tag1}_bpesegs").foreach(t =>
      spark.sql(s"DROP TABLE $t"))
  }

  test("steady state is a read: a second buildOrLoad returns the " +
    "cataloged tables without relearning (same physical rows)") {
    val docs = corpus((1L, "ab ab"))
    val tag = freshTag("read")
    val (m1, s1) = BpeStore.buildOrLoad(spark, docs, tag)
    val c1 = (m1.count(), s1.count())
    // a DIFFERENT docs relation on the same tag must NOT rebuild —
    // the catalog gate, not the input, decides (the artifact is the
    // snapshot's; staleness is governed by rebuild)
    val (m2, s2) = BpeStore.buildOrLoad(spark,
      corpus((9L, "zz zz zz")), tag)
    assert((m2.count(), s2.count()) == c1)
    assert(s2.filter(col("word") === "zz").count() == 0,
      "buildOrLoad must not have re-learned from the second relation")
  }
}
