package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Stored media-signature artifact — the production home of the
  * perceptual dedup signatures ([[ImageDedup]] dHash, [[AudioDedup]]
  * frame levels): build once per corpus snapshot, bucketed scan-only
  * reads, delta appends, ingest-time probes. One skeleton, role-tagged
  * per media kind. Lifecycle and layout rules: [[BucketedTable]].
  *
  *   - `<tag>_msig`  (doc_id, b0..b3)  bucketed by doc_id — the
  *     signatures, fetched by id at the exact-Hamming verify
  *   - `<tag>_mband` (bk, doc_id, bsz) bucketed by bk, partition mirror
  *     pbk — band postings with the SINGLE key bk = band_idx * 2^16 +
  *     band_value, so the candidate self-join (and every ingest probe)
  *     satisfies its required distribution straight off the scan: one
  *     join key == the one bucketing key, no Exchange above either
  *     side. `bsz` is the bucket's population, precomputed at build, so
  *     the hot-bucket cap — a solid-color image class or a
  *     silence-filled audio class collapses into ONE bucket whose
  *     self-join is O(class²) at corpus scale — is a pushed parquet
  *     predicate on every read path, never a window over the index
  *   - `<tag>_mtouched` (bk) — the touched-bucket ledger
  *
  * Why bk is one column: bucketing provides hash distribution on the
  * bucket column only — a join on (band_idx, band_value) would need
  * hash(bi, bv) and re-shuffle both bucketed scans; packing the pair
  * into bk makes the bucket distribution exactly the join's
  * requirement. 16-bit band values make the packing collision-free.
  *
  * The decode+hash pass (the only expensive step — PNG/WAV codec per
  * item) runs ONCE at build; queries and probes read the 4-int rows.
  * A probe of a batch against the standing index is the band equi-join
  * + verify, shared between the batch incremental path and the
  * streaming face ([[graft.streaming.MediaStream]]).
  */
object MediaSigStore {

  import BucketedTable.{Ledger, Table}

  def imageTag(dir: String): String = BucketedTable.tag(dir, "imgsig")
  def audioTag(dir: String): String = BucketedTable.tag(dir, "audsig")
  def videoTag(dir: String): String = BucketedTable.tag(dir, "vidsig")

  private def sigs(tag: String) = Table(s"${tag}_msig", Seq("doc_id"),
    Seq("doc_id", "b0", "b1", "b2", "b3"))
  private def bands(tag: String) = Table(s"${tag}_mband", Seq("bk"),
    Seq("bk", "doc_id", "bsz"), Some("pbk"))
  private def ledger(tag: String) =
    Ledger(s"${tag}_mtouched", new StructType().add("bk", IntegerType))
  private def sigT(tag: String) = sigs(tag).name
  private def bandT(tag: String) = bands(tag).name

  /** Every table this family stores for `tag` (reset paths reuse this so
    * they cannot drift from the layout).
    */
  def tables(tag: String): Seq[String] =
    Seq(sigT(tag), bandT(tag), ledger(tag).name)

  def buckets(spark: SparkSession, tag: String): Int =
    BucketedTable.bucketsOf(spark, sigT(tag))

  /** Whether the stored artifact for `tag` is fully cataloged at the
    * current vintage (the band table carries its pbk mirror).
    */
  def exists(spark: SparkSession, tag: String): Boolean =
    sigs(tag).cataloged(spark) && bands(tag).cataloged(spark)

  /** (bk, doc_id) postings of a signature relation. */
  private[ops] def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("bi", "bv")))
      .select((col("bi") * 65536 + col("bv")).as("bk"), col("doc_id"))

  /** Band postings of a signature relation with the exact bucket
    * population stamped (skew-safe [[BandIndex.withKeyCount]], never a
    * bk window: the hottest bk IS the degenerate media class the cap
    * exists for).
    */
  private def sizedBands(sigRows: DataFrame): DataFrame =
    BandIndex.withKeyCount(bandRows(sigRows), Seq("bk"), "bsz")

  /** Materialize (or reuse, if cataloged) the signature artifact for
    * `docs` under `tag`; `sigFn` is the media kind's decode+hash pass
    * ([[ImageDedup.dhashSigs]] / [[AudioDedup.levelSigs]]). Returns
    * (sigs, bands) as reads of the stored bucketed tables.
    */
  def buildOrLoad(spark: SparkSession, docs: DataFrame, tag: String,
                  sigFn: DataFrame => DataFrame,
                  targetRowsPerBucket: Long = BucketedTable.TargetRowsPerBucket
                 ): (DataFrame, DataFrame) = {
    val (sT, bT) = (sigT(tag), bandT(tag))
    // beyond exists(): a pre-cap vintage band table (bk, doc_id only)
    // would break every capped read path (hammingPairs/probe/
    // hotBucketAudit filter on bsz), so it rebuilds like any other
    // partial state
    val complete = exists(spark, tag) &&
      spark.table(bT).columns.contains("bsz")
    BucketedTable.buildIfAbsent(spark, complete, tables(tag)) {
      val computed = sigFn(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val buckets =
          BucketedTable.derivedBuckets(computed.count(), targetRowsPerBucket)
        BucketedTable.write(computed, sigs(tag), buckets)
        BucketedTable.write(sizedBands(spark.table(sT)), bands(tag), buckets)
        ledger(tag).ensure(spark)
      } finally computed.unpersist()
    }
    (spark.table(sT), spark.table(bT))
  }

  /** Daily-ingest maintenance: decode+hash `newDocs` and insert their
    * rows into both tables. Per-item facts — append-only, no merge.
    */
  def append(spark: SparkSession, newDocs: DataFrame, tag: String,
             sigFn: DataFrame => DataFrame): Unit = {
    val (sT, bT) = (sigT(tag), bandT(tag))
    BucketedTable.requireBuilt(spark, "append", tag, sT, bT)
    val computed = sigFn(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      BucketedTable.insert(spark, computed, sigs(tag))
      // bsz for appended rows = standing bucket count + batch count —
      // the bucket's TRUE size at insert time, so a bucket crossing
      // HotBucketCap through appends is capped for every row it gains
      // from this point on (a per-batch-only count let build-vintage
      // rows be filtered while fresh appends were kept, expanding a
      // partial bucket). Standing rows keep their build-vintage bsz
      // until the re-level — the remaining staleness errs toward
      // keeping OLD postings, never toward growing an over-cap bucket.
      //
      // The standing counts are MATERIALIZED (collected) before the
      // insertInto is issued: the write plan must not scan its own
      // target. The collect is bounded: only the BATCH's bks are
      // counted (≤ 4 per signature, micro-batch sized), one (bk, n)
      // pair each.
      import spark.implicits._
      ledger(tag).record(spark, bandRows(computed))
      val batchBks = bandRows(computed).select("bk").distinct()
      val standing = spark.table(bT)
        .join(broadcast(batchBks), Seq("bk"), "left_semi")
        .groupBy("bk").agg(count(lit(1)).as("standing_n"))
        .select(col("bk").cast("int"), col("standing_n").cast("long"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
        .toDF("bk", "standing_n")
      BucketedTable.insert(spark,
        BandIndex.withKeyCount(bandRows(computed), Seq("bk"), "batch_n")
          .join(broadcast(standing), Seq("bk"), "left")
          .withColumn("bsz",
            col("batch_n") + coalesce(col("standing_n"), lit(0L))),
        bands(tag))
    } finally computed.unpersist()
  }

  /** Takedown maintenance, dual of [[append]]: remove every signature
    * and band-posting row of `docIds`. A deleted item can never be
    * emitted as a candidate or verified as a match again — its postings
    * and its signature row are gone from both serving joins. Surviving
    * band rows keep their stored `bsz`, now a stale UPPER bound (the
    * bucket was counted over a population that included the deleted
    * items), so the hot-bucket cap errs toward SKIPPING a bucket
    * deletion brought back under the cap — the exact dual of append's
    * insert-time-true counts that only ever grow. After a re-level
    * [[probe]] == rebuild-over-survivors exactly (MediaSigStoreSpec
    * differential on the serving face). The band table is the build
    * gate. Returns (signature rows removed, band rows removed).
    */
  def delete(spark: SparkSession, docIds: DataFrame,
             tag: String): (Long, Long) = {
    BucketedTable.requireBuilt(spark, "delete", tag, sigT(tag), bandT(tag))
    val Seq(s, b) = BucketedTable.deleteKeyed(spark, docIds, "doc_id",
      Seq(sigs(tag), bands(tag)), gate = Some(bandT(tag)),
      ledger = Some(ledger(tag)))
    (s, b)
  }

  /** Full re-level: recompute exact bsz for EVERY row from the signature
    * table, preserving the bucket spec. Appends stamp their own rows
    * insert-time-exact (standing + batch), but standing rows keep
    * build-vintage counts until this runs.
    */
  def refreshBucketSizes(spark: SparkSession, tag: String): Unit = {
    val bT = bandT(tag)
    BucketedTable.write(sizedBands(spark.table(sigT(tag))), bands(tag),
      BucketedTable.bucketsOf(spark, bT))
    spark.catalog.refreshTable(bT)
    ledger(tag).clear(spark)
  }

  /** Bounded bsz re-level ([[BucketedTable.relevelPartitions]]): bsz is
    * recomputed from the touched partitions' band rows themselves —
    * band rows equal bandRows(sigs) at every lifecycle state, so this
    * equals the from-signatures [[refreshBucketSizes]] row-for-row
    * (MediaSigStoreSpec). Returns partitions rewritten.
    */
  def refreshBucketSizesPartial(spark: SparkSession, tag: String): Long =
    BucketedTable.relevelPartitions(spark, bands(tag), ledger(tag),
      scan => BandIndex.withKeyCount(scan.select(col("bk"), col("doc_id")),
        Seq("bk"), "bsz"))

  /** The re-level policy verb ([[BucketedTable.relevel]]). */
  def relevel(spark: SparkSession, tag: String): (String, Double, Long) =
    BucketedTable.relevel(spark, ledger(tag), bands(tag))(
      refreshBucketSizesPartial(spark, tag), refreshBucketSizes(spark, tag))

  /** What the hot-bucket cap silently skips on the stored index:
    * (over-cap buckets, posting rows inside them). Scan-only — bsz is a
    * stored column — so the pipeline surfaces every silent cap as a
    * report metric (the BandIndex hotBucketAudit convention).
    */
  def hotBucketAudit(spark: SparkSession, tag: String,
                     cap: Int = DedupQueries.HotBucketCap): (Long, Long) = {
    val r = spark.table(bandT(tag))
      .filter(col("bsz") > cap)
      .agg(count_distinct(col("bk")).as("n_buckets"),
        count(lit(1)).as("n_rows"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Probe a batch's SIGNATURES against the standing index: banded
    * candidates (batch doc_id × standing match_id, self-pairs dropped)
    * + exact Hamming, filtered at `hamT`. The band join streams the
    * bk-bucketed postings scan-only; the verify fetches standing
    * signatures from the doc_id-bucketed table. Shared by the batch
    * incremental path and [[graft.streaming.MediaStream]]'s faces.
    * Standing buckets over `cap` are boilerplate (a degenerate media
    * class — solid color, silence) and are SKIPPED via the stored-bsz
    * pushed predicate rather than expanded (the text-LSH HotBucketCap
    * governance; [[hotBucketAudit]] reports what the cap skips).
    */
  def probe(spark: SparkSession, batchSigs: DataFrame, tag: String,
            hamT: Int, cap: Int = DedupQueries.HotBucketCap): DataFrame = {
    // The batch signature relation feeds BOTH legs (band candidates and
    // the exact-Hamming verify); unshared, the expensive decode+hash
    // mapPartitions pass would run twice per micro-batch on real media
    // (r11 ADVICE #3). probe() is lazy so there is no post-consumption
    // unpersist point, persist() would accumulate CacheManager entries
    // across micro-batches, and localCheckpoint blocks are UNRECOVERABLE
    // on executor loss — a permanent micro-batch failure on exactly the
    // spot/decommission clusters this path targets (r12 review). A
    // micro-batch is bounded by the stream trigger and a signature is
    // five ints, so the robust single-computation form is to COLLECT the
    // batch signatures once and re-plan them as a local relation: the
    // decode pass runs exactly once, nothing pins executor storage, and
    // failure recovery is plain lineage over kilobytes.
    import spark.implicits._
    val sigs = batchSigs
      .select(col("doc_id").cast("long"), col("b0").cast("int"),
        col("b1").cast("int"), col("b2").cast("int"), col("b3").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
      .toSeq.toDF("doc_id", "b0", "b1", "b2", "b3")
    val standing = spark.table(bandT(tag)).filter(col("bsz") <= cap)
    val cand = broadcast(bandRows(sigs)
        .select(col("bk"), col("doc_id")))
      .join(standing.select(col("bk"), col("doc_id").as("match_id")), "bk")
      .filter(col("doc_id") =!= col("match_id"))
      .select("doc_id", "match_id")
      .distinct()
    def bc(a: String, b: String) = bit_count(col(a).bitwiseXOR(col(b)))
    cand
      .join(sigs.select(col("doc_id"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")),
        Seq("doc_id"))
      .join(spark.table(sigT(tag)).select(col("doc_id").as("match_id"),
        col("b0").as("c0"), col("b1").as("c1"), col("b2").as("c2"),
        col("b3").as("c3")), Seq("match_id"))
      .select(col("doc_id"), col("match_id"),
        (bc("a0", "c0") + bc("a1", "c1") + bc("a2", "c2") + bc("a3", "c3"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= hamT)
  }
}
