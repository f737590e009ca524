package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Partial-build self-heal across EVERY stored-artifact family (r11
  * verdict #2 / next-round #4): a crash between a family's two
  * `saveAsTable` writes — simulated here by dropping one table after a
  * successful build — must NOT leave a half-built index that later
  * calls trip over. Every `buildOrLoad` gates on ALL of its tables
  * (the MediaSigStore convention), so any partial state rebuilds
  * transparently. Both drop directions are exercised for the two-table
  * families: first-written table missing (the crash-before-second-write
  * state is the SECOND table missing, but an external drop can lose
  * either) and second-written table missing.
  */
class ArtifactSelfHealSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs: DataFrame =
    (1L to 60L).map { id =>
      (id,
        s"alpha bravo charlie delta echo foxtrot golf hotel item$id " +
          s"tail${id % 7} extra words for shingling stability",
        "en", s"s${id % 3}")
    }.toDF("doc_id", "text", "lang", "source")

  /** Build → assert usable → drop `victim` → rebuild → assert usable,
    * for each victim table in turn.
    */
  private def heals(tables: Seq[String], build: () => Seq[DataFrame]): Unit = {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    assert(build().forall(_.count() > 0), "fresh build must be usable")
    tables.foreach { victim =>
      spark.sql(s"DROP TABLE $victim")
      val rebuilt = build()
      assert(tables.forall(spark.catalog.tableExists),
        s"after losing $victim, buildOrLoad must restore every table")
      assert(rebuilt.forall(_.count() > 0),
        s"after losing $victim, the rebuilt artifact must be usable")
    }
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("BandIndex self-heals from either table missing") {
    val tag = BucketedTable.tag("/tmp/selfheal", "minhash")
    heals(Seq(s"${tag}_shingles", s"${tag}_bands"), () => {
      val (sh, bd) = BandIndex.buildOrLoad(spark, docs, tag)
      Seq(sh, bd)
    })
  }

  test("SpanSet self-heals from either table missing") {
    val tag = BucketedTable.tag("/tmp/selfheal", "spans")
    heals(Seq(s"${tag}_spanrows", s"${tag}_spanset"), () => {
      val (r, s) = SpanSet.buildOrLoad(spark, docs, tag)
      Seq(r, s)
    })
  }

  test("ContainIndex self-heals from either table missing") {
    val tag = BucketedTable.tag("/tmp/selfheal", "contain")
    heals(Seq(s"${tag}_cngrams", s"${tag}_cdocs"), () => {
      val (p, d) = ContainIndex.buildOrLoad(spark, docs, tag)
      Seq(p, d)
    })
  }

  test("MediaSigStore self-heals from either table missing") {
    val tag = BucketedTable.tag("/tmp/selfheal", "imgsig")
    heals(Seq(s"${tag}_msig", s"${tag}_mband"), () => {
      val (s, b) = MediaSigStore.buildOrLoad(spark, docs, tag,
        ImageDedup.dhashSigs)
      Seq(s, b)
    })
  }

  test("MediaSigStore self-heals from SCHEMA DRIFT: a pre-cap mband " +
    "vintage (no bsz column) rebuilds instead of breaking every " +
    "capped read path") {
    val tag = BucketedTable.tag("/tmp/selfheal", "imgsigdrift")
    val (sT, bT) = (s"${tag}_msig", s"${tag}_mband")
    Seq(sT, bT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    MediaSigStore.buildOrLoad(spark, docs, tag, ImageDedup.dhashSigs)
    // simulate the pre-r12 artifact: same rows, bsz column absent
    val old = spark.table(bT).select("bk", "doc_id").collect().toSeq
    spark.sql(s"DROP TABLE $bT")
    old.map(r => (r.getInt(0), r.getLong(1))).toDF("bk", "doc_id")
      .write.bucketBy(4, "bk").sortBy("bk").saveAsTable(bT)
    val (_, bands) = MediaSigStore.buildOrLoad(spark, docs, tag,
      ImageDedup.dhashSigs)
    assert(bands.columns.contains("bsz"),
      "schema-drifted band table must rebuild with the stored bsz")
    assert(bands.count() > 0)
    // the capped read path works again
    assert(MediaSigStore.hotBucketAudit(spark, tag)._1 >= 0L)
    Seq(sT, bT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("vintage-aware exists (r17 ADVICE): a pre-partition-mirror " +
    "BandIndex vintage reads as ABSENT — the maintenance gate routes " +
    "to buildOrLoad's self-heal instead of a mid-verb missing-column " +
    "AnalysisException") {
    val tag = BucketedTable.tag("/tmp/selfheal", "minhashvintage")
    val (shT, bdT) = (s"${tag}_shingles", s"${tag}_bands")
    Seq(shT, bdT, s"${tag}_btouched")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    BandIndex.buildOrLoad(spark, docs, tag)
    assert(BandIndex.exists(spark, tag), "current vintage must exist")
    // simulate the pre-r17 artifact: same rows, pbk partition absent
    val old = spark.table(bdT).select("doc_id", "band", "bh", "bsz")
      .collect().toSeq
    spark.sql(s"DROP TABLE $bdT")
    old.map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toDF("doc_id", "band", "bh", "bsz")
      .write.bucketBy(4, "band", "bh").sortBy("band", "bh")
      .saveAsTable(bdT)
    assert(!BandIndex.exists(spark, tag),
      "pre-mirror vintage must read as absent, not pass the gate")
    BandIndex.buildOrLoad(spark, docs, tag)
    assert(BandIndex.exists(spark, tag), "self-heal restores the vintage")
    // the r17 maintenance verb runs (no missing-pbk AnalysisException)
    assert(BandIndex.refreshBucketSizesPartial(spark, tag) >= 0L)
    Seq(shT, bdT, s"${tag}_btouched")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("vintage-aware exists covers LexIndex's pb mirror the same way") {
    val tag = BucketedTable.tag("/tmp/selfheal", "lexvintage")
    val (pT, sT) = (s"${tag}_lpost", s"${tag}_lstats")
    Seq(pT, sT, s"${tag}_ltouched")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    LexIndex.buildOrLoad(spark, docs, tag)
    assert(LexIndex.exists(spark, tag))
    val old = spark.table(pT).select("term", "doc_id", "tf", "dl", "df")
      .collect().toSeq
    spark.sql(s"DROP TABLE $pT")
    old.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toDF("term", "doc_id", "tf", "dl", "df")
      .write.bucketBy(4, "term").sortBy("term").saveAsTable(pT)
    assert(!LexIndex.exists(spark, tag),
      "pre-pb vintage must read as absent")
    LexIndex.buildOrLoad(spark, docs, tag)
    assert(LexIndex.exists(spark, tag))
    assert(LexIndex.refreshCountsPartial(spark, tag) >= 0L)
    Seq(pT, sT, s"${tag}_ltouched")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ChunkStore (single table) self-heals from an external drop") {
    val tag = BucketedTable.tag("/tmp/selfheal", "chunks")
    heals(Seq(s"${tag}_chunks"),
      () => Seq(ChunkStore.buildOrLoad(spark, docs, tag)))
  }

  test("IvfIndex self-heals from either table missing") {
    val dir = "/root/testdata/sf0.001"
    val tag = IvfIndex.tag(dir, 16)
    heals(Seq(s"${tag}_ivfcells", s"${tag}_ivfcentroids"), () => {
      val (c, m) = IvfIndex.buildOrLoad(spark, dir, 16)
      Seq(c, m)
    })
  }

  test("PqStore self-heals from either table missing") {
    val dir = "/root/testdata/sf0.001"
    val tag = PqStore.tag(dir)
    heals(Seq(s"${tag}_pqcodebook", s"${tag}_pqcodes"), () => {
      val (cb, codes) = PqStore.buildOrLoad(spark, dir)
      Seq(cb, codes)
    })
  }

  test("LexIndex self-heals from either table missing") {
    val tag = BucketedTable.tag("/tmp/selfheal", "lex")
    heals(Seq(s"${tag}_lpost", s"${tag}_lstats"), () => {
      val (p, s) = LexIndex.buildOrLoad(spark, docs, tag)
      Seq(p, s)
    })
  }

  test("BpeStore self-heals from either table missing") {
    val tag = BucketedTable.tag("/tmp/selfheal", "bpe")
    heals(Seq(s"${tag}_bpemerges", s"${tag}_bpesegs"), () => {
      val (m, sg) = BpeStore.buildOrLoad(spark, docs, tag)
      Seq(m, sg)
    })
  }
}
