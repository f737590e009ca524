package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The stored MinHash index's lifecycle: build (bucketed tables,
  * precomputed bucket sizes), daily append (batch-local bsz lower
  * bound), periodic refresh (exact bsz, equal to a from-scratch
  * rebuild).
  */
class BandIndexSpec extends SparkSpec {
  import spark.implicits._

  private val copyText =
    "the quick brown fox jumps over the lazy dog tonight again"
  private val otherText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  private def dropAll(tag: String): Unit =
    BandIndex.tables(tag).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("refreshBucketSizesPartial (r17): only partitions holding " +
    "touched (band, bh) buckets rewrite — result == the full " +
    "from-shingles refresh row-for-row, untouched partitions' files " +
    "byte-identical, ledger reset, second pass a no-op") {
    import org.apache.spark.sql.functions.expr
    val tagP = "graft_test_bi_partial"
    val tagF = "graft_test_bi_partfull"
    dropAll(tagP); dropAll(tagF)
    // 8 FULLY-DISTINCT standing docs (no shared shingles — every
    // bucket size 1) spread across partitions; the append adds a COPY
    // of doc 1, so exactly its 3 buckets are touched and go 1 -> 2
    val standing = (1L to 8L).map(i => (i,
      (1 to 12).map(j => s"uq${i}zz$j").mkString(" ")))
    val batch = Seq((100L, standing.head._2))
    for (t <- Seq(tagP, tagF)) {
      BandIndex.buildOrLoad(spark, standing.toDF("doc_id", "text"), t)
      BandIndex.append(spark, batch.toDF("doc_id", "text"), t)
    }
    val nb = BandIndex.buckets(spark, tagP)
    val touched = spark.table(s"${tagP}_btouched")
      .select(expr(s"pmod(hash(band, bh), $nb)").cast("int")).distinct()
      .as[Int].collect().toSet
    val all = spark.table(s"${tagP}_bands")
      .select(col("pbk").cast("int")).distinct().as[Int].collect().toSet
    assert(touched.nonEmpty && (all -- touched).nonEmpty,
      s"fixture must leave untouched partitions: $touched of $all")
    def files(ks: Set[Int]): Map[String, (Long, Long)] = ks.flatMap { k =>
      val d = new java.io.File(s"spark-warehouse/${tagP}_bands/pbk=$k")
      Option(d.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified()))
    }.toMap
    val before = files(all -- touched)
    assert(before.nonEmpty, "untouched partitions must have files")
    val nPbk = BandIndex.refreshBucketSizesPartial(spark, tagP)
    assert(nPbk == touched.size.toLong)
    assert(files(all -- touched) == before,
      "untouched partitions must be byte-identical")
    BandIndex.refreshBucketSizes(spark, tagF)
    def canon(t: String) = spark.table(s"${t}_bands")
      .select("doc_id", "band", "bh", "bsz")
      .as[(Long, Int, String, Long)].collect().toSet
    assert(canon(tagP) == canon(tagF),
      "partial == full from-shingles refresh row-for-row")
    // the appended copy's buckets re-leveled to the true size 2
    assert(spark.table(s"${tagP}_bands")
      .filter(col("doc_id") === 100L).select("bsz").as[Long]
      .collect().forall(_ == 2L))
    assert(spark.table(s"${tagP}_btouched").count() == 0)
    assert(BandIndex.refreshBucketSizesPartial(spark, tagP) == 0L)
    dropAll(tagP); dropAll(tagF)
  }

  test("buildOrLoad materializes bucketed tables with precomputed bucket sizes") {
    val tag = "graft_test_bi_build"
    dropAll(tag)
    val docs = Seq((1L, copyText), (2L, copyText), (3L, otherText))
      .toDF("doc_id", "text")
    val (sh, bd) = BandIndex.buildOrLoad(spark, docs, tag)
    assert(sh.count() == 3)
    // docs 1,2 identical -> every one of doc 1's buckets has size 2
    val bsz1 = bd.filter(col("doc_id") === 1L).select("bsz").as[Long].collect()
    assert(bsz1.nonEmpty && bsz1.forall(_ == 2L), bsz1.toSeq.toString)
    val bsz3 = bd.filter(col("doc_id") === 3L).select("bsz").as[Long].collect()
    assert(bsz3.nonEmpty && bsz3.forall(_ == 1L), bsz3.toSeq.toString)
    // a second call is a catalog hit: no rebuild, same data
    val (_, bd2) = BandIndex.buildOrLoad(spark,
      spark.emptyDataFrame, tag) // input unused on the load path
    assert(bd2.count() == bd.count())
    dropAll(tag)
  }

  test("a sub-ShingleK doc (empty shingle set) still stores 1 shingle " +
    "row and Bands band rows — null band hashes form their own counted " +
    "group (r16 ADVICE #3: the takedown oracle's per-doc expectations " +
    "hold for EVERY doc, not only >= ShingleK-char ones)") {
    val tag = "graft_test_bi_short"
    dropAll(tag)
    // "hi" normalizes to < 5 chars -> zero 5-char shingles
    val docs = Seq((1L, copyText), (2L, "hi"), (3L, otherText))
      .toDF("doc_id", "text")
    val (sh, bd) = BandIndex.buildOrLoad(spark, docs, tag)
    assert(sh.filter(col("doc_id") === 2L).count() == 1L,
      "one shingle row per doc, even with an empty shingle set")
    val shortBands = bd.filter(col("doc_id") === 2L)
      .select("bh", "bsz").collect()
    assert(shortBands.length == DedupQueries.Bands,
      s"Bands rows per doc, got ${shortBands.length}")
    assert(shortBands.forall(_.isNullAt(0)),
      "empty-shingle band hashes are null by construction")
    assert(shortBands.forall(_.getLong(1) == 1L),
      "the null group is its own counted bucket (the <=> join-back)")
    // the takedown verb removes them like any other doc's rows
    val (shR, bdR) = BandIndex.delete(spark, Seq(2L).toDF("doc_id"), tag)
    assert(shR == 1L && bdR == DedupQueries.Bands.toLong)
    dropAll(tag)
  }

  test("bucket derivation: ceil(rows/target) to a power of two, floored " +
    "at 8 — local corpora stay at the floor, 100 TB row counts do not") {
    assert(BucketedTable.derivedBuckets(0L) == 8)
    assert(BucketedTable.derivedBuckets(1000L) == 8) // local scale -> floor
    assert(BucketedTable.derivedBuckets(33L * 1024 * 1024) == 16)
    assert(BucketedTable.derivedBuckets(100L, targetRows = 10L) == 16)
    assert(BucketedTable.derivedBuckets(100L, targetRows = 1L) == 128)
    // ~10^12 span rows (a 100 TB corpus's token stream) at the default
    // target: 2^18 buckets, each holding ~4M rows
    assert(BucketedTable.derivedBuckets(1000000000000L) == 262144)
  }

  test("build derives bucket counts from the rows relation: a non-floor " +
    "target re-buckets BOTH tables and answers are unchanged") {
    val tagD = "graft_test_bi_derived"
    val tagF = "graft_test_bi_floor"
    dropAll(tagD); dropAll(tagF)
    // the shingle store is one row per doc (sh is the shingle-SET
    // column), so the derivation counts docs here
    val docs = (1L to 40L)
      .map(i => (i, if (i % 2 == 0) copyText else otherText + s" doc $i"))
      .toDF("doc_id", "text")
    BandIndex.buildOrLoad(spark, docs, tagD, targetRowsPerBucket = 2L)
    BandIndex.buildOrLoad(spark, docs, tagF)
    // 40 rows at 2/bucket -> want 20 -> 32; floor build stays at 8
    assert(BandIndex.buckets(spark, tagD) == 32,
      s"got ${BandIndex.buckets(spark, tagD)}")
    assert(BucketedTable.bucketsOf(spark, s"${tagD}_shingles") == 32)
    assert(BandIndex.buckets(spark, tagF) == 8)
    // bucketing is layout, not semantics: both builds hold identical
    // CONTENT rows (pbk is layout — it mirrors the bucket count, so it
    // legitimately differs between the two specs)
    val d = spark.table(s"${tagD}_bands")
      .select("doc_id", "band", "bh", "bsz")
      .orderBy("doc_id", "band").collect()
    val f = spark.table(s"${tagF}_bands")
      .select("doc_id", "band", "bh", "bsz")
      .orderBy("doc_id", "band").collect()
    assert(d.toSeq == f.toSeq)
    // refresh preserves the derived spec instead of re-speccing to 8
    BandIndex.refreshBucketSizes(spark, tagD)
    assert(BandIndex.buckets(spark, tagD) == 32)
    dropAll(tagD); dropAll(tagF)
  }

  test("append adds a batch in place; refresh restores exact bucket sizes") {
    val tagA = "graft_test_bi_maint"
    val tagB = "graft_test_bi_rebuilt"
    dropAll(tagA); dropAll(tagB)
    val standing = Seq((1L, copyText), (2L, otherText)).toDF("doc_id", "text")
    BandIndex.buildOrLoad(spark, standing, tagA)
    val batch = Seq((10L, copyText)).toDF("doc_id", "text") // near-dup of doc 1
    BandIndex.append(spark, batch, tagA)
    assert(spark.table(s"${tagA}_shingles").count() == 3)
    // the appended doc's bands land in doc 1's buckets, so a band-key
    // join (what the incremental/stream probe does) now pairs them
    val bd = spark.table(s"${tagA}_bands")
    val paired = bd.filter(col("doc_id") === 1L).select("band", "bh")
      .join(bd.filter(col("doc_id") === 10L).select("band", "bh"),
        Seq("band", "bh"))
    assert(paired.count() == 3, "copy must collide in all 3 bands")
    // appended rows carry the batch-local (lower-bound) bsz...
    assert(bd.filter(col("doc_id") === 10L).select("bsz").as[Long]
      .collect().forall(_ == 1L))
    // ...and refresh recomputes exact sizes: table now equals a
    // from-scratch rebuild over the merged corpus, row for row
    BandIndex.refreshBucketSizes(spark, tagA)
    val rebuilt = BandIndex.buildOrLoad(spark, standing.union(batch), tagB)._2
      .select("doc_id", "band", "bh", "bsz")
    val refreshed = spark.table(s"${tagA}_bands")
      .select("doc_id", "band", "bh", "bsz")
    assert(refreshed.except(rebuilt).isEmpty && rebuilt.except(refreshed).isEmpty,
      "refreshed index must equal a from-scratch rebuild")
    dropAll(tagA); dropAll(tagB)
  }

  test("delete (r15 verdict #1, the append dual): a deleted doc can " +
    "never be a candidate again — immediately, pre-refresh; surviving " +
    "bsz is a stale UPPER bound; delete + refreshBucketSizes == a " +
    "from-scratch rebuild over the survivors") {
    val tagA = "graft_test_bi_del"
    val tagB = "graft_test_bi_del_ref"
    dropAll(tagA); dropAll(tagB)
    // docs 1 and 3 are identical; delete 1 (and a never-indexed 99)
    val standing = Seq((1L, copyText), (2L, otherText), (3L, copyText))
      .toDF("doc_id", "text")
    BandIndex.buildOrLoad(spark, standing, tagA)
    val (shR, bdR) = BandIndex.delete(spark,
      Seq(1L, 99L).toDF("doc_id"), tagA)
    assert(shR == 1L && bdR == 3L, s"got ($shR, $bdR)")
    // the takedown guarantee holds with stale counts and all: a probe
    // batch carrying the deleted text (the nearDupCandidates band join)
    // pairs with the SURVIVING copy only
    val cands = DedupQueries.bandRows(
        Seq((50L, copyText)).toDF("doc_id", "text"))
      .join(spark.table(s"${tagA}_bands")
          .filter(col("bsz") <= DedupQueries.HotBucketCap)
          .select(col("doc_id").as("match_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select("match_id").distinct().as[Long].collect().toSet
    assert(cands == Set(3L), s"probe must see only the survivor: $cands")
    // the survivor's buckets keep the pre-delete population — a stale
    // UPPER bound (2 >= true 1), the dual of append's lower bound
    val bsz3 = spark.table(s"${tagA}_bands")
      .filter(col("doc_id") === 3L).select("bsz").as[Long].collect()
    assert(bsz3.nonEmpty && bsz3.forall(_ == 2L), bsz3.toSeq.toString)
    // re-level: both tables equal a from-scratch rebuild over survivors
    BandIndex.refreshBucketSizes(spark, tagA)
    BandIndex.buildOrLoad(spark,
      standing.filter(col("doc_id") =!= 1L), tagB)
    for ((t, cols) <- Seq(
      ("shingles", Seq("doc_id", "sh")),
      ("bands", Seq("doc_id", "band", "bh", "bsz")))) {
      val a = spark.table(s"${tagA}_$t").select(cols.map(col): _*)
      val b = spark.table(s"${tagB}_$t").select(cols.map(col): _*)
      assert(a.except(b).isEmpty && b.except(a).isEmpty,
        s"$t must equal the rebuild over survivors")
    }
    // idempotent: a second delete of the same ids removes nothing
    assert(BandIndex.delete(spark, Seq(1L).toDF("doc_id"), tagA) ==
      ((0L, 0L)))
    dropAll(tagA); dropAll(tagB)
  }
}
