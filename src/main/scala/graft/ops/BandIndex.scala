package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

/** Stored MinHash dedup index — the materialized artifact the
  * incremental-ingest path (SURVEY.md §2 H3++) and the streaming
  * near-dup probe ([[graft.streaming.CorpusStream.nearDupCandidates]])
  * read, instead of re-deriving the standing corpus's bands per run.
  * Lifecycle and layout rules: [[BucketedTable]].
  *
  *   - `<tag>_shingles` (doc_id, sh)            bucketed by doc_id
  *   - `<tag>_bands`    (doc_id, band, bh, bsz) bucketed by (band, bh),
  *     partition mirror pbk
  *   - `<tag>_btouched` (band, bh) — the touched-bucket ledger
  *
  * `bsz` — the (band, bh) bucket's population — is precomputed at build
  * time via the skew-safe [[withKeyCount]] (never a bucket-key window),
  * so the hot-bucket cap is a pushed parquet predicate on the stored
  * column rather than a window over the whole index per incremental
  * run. Bucketing on the probe key means a probe equi-join on (band, bh)
  * is scan-only on the index side (DedupOpsSpec's plan-shape test), and
  * only the arriving batch shuffles; the shingle store is bucketed on
  * doc_id so the Jaccard-verify join on match_id reads it without an
  * index-side shuffle.
  */
object BandIndex {

  /** `out` = the per-`keys` row population stamped onto every row of
    * `df` — groupBy + join-back, NEVER `Window.partitionBy(keys)`. This
    * is the LexIndex df rule (`ops/LexIndex.scala` scaladoc, r14
    * verdict #1) hoisted to ONE shared definition (r16 verdict #1) so
    * no family can regress it independently: a window colocates every
    * row of a key in one partition and sorts it on a single task, so
    * under the Zipfian key distributions these artifacts govern — the
    * boilerplate n-gram / band bucket / solid-color media class that
    * HotBucketCap and the df caps exist FOR — the hottest key is an
    * unsplittable O(hot-key) straggler at the families' 10^12-row
    * target scale. The groupBy's partial aggregation collapses that key
    * to one row per map task before any shuffle, and the join-back
    * equi-join is AQE-skew-splittable. Callers re-select their column
    * order (join-back puts the keys first). KeyCountSpec pins
    * join-back == window row-for-row on a planted hot key; each
    * family's build/probe differentials pin the stored column's
    * downstream semantics.
    */
  private[ops] def withKeyCount(df: DataFrame, keys: Seq[String],
                                out: String): DataFrame =
    withKeyAgg(df, keys, Seq(count(lit(1)).as(out)))

  /** The general form of [[withKeyCount]] (r17 verdict #1): stamp
    * arbitrary per-`keys` aggregates (`aggs` must each carry an alias)
    * onto every row of `df` via groupBy + join-back — the one sanctioned
    * route for what would otherwise be `agg over (partition by keys)`
    * windows in the DECLARED-QUERY paths (candidate-bucket caps,
    * fingerprint keeper election, cluster sizes, argmax-struct keeper
    * picks). Same straggler rationale as [[withKeyCount]]'s scaladoc;
    * the groupBy's partial aggregation collapses a Zipf-head key on the
    * map side, and the join-back is AQE-skew-splittable where a window
    * partition is one unsplittable task. Trade vs a window: the window
    * evaluates its input subtree once behind ONE exchange; join-back
    * references `df` twice — every migrated call site therefore feeds
    * a persisted/checkpointed relation (or a prunable cheap branch) so
    * the second reference is a cache read, not a recompute.
    *
    * Callers re-select their column order (join-back appends the agg
    * columns after `df`'s).
    */
  private[graft] def withKeyAgg(df: DataFrame, keys: Seq[String],
                                aggs: Seq[org.apache.spark.sql.Column])
      : DataFrame = {
    // Null-safe (<=>) join-back: a window treats a null key as its own
    // group, and so must the replacement — BandIndex band hashes ARE
    // null for an empty-shingle doc (MinHashBands scaladoc), and a
    // plain equi-join would silently drop those rows. <=> is still an
    // equi-join key for the planner (hash-joinable, AQE-splittable).
    val renamed = keys.map(k => k -> s"__kc_$k")
    val agged = renamed.foldLeft(
        df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)) {
      case (d, (k, a)) => d.withColumnRenamed(k, a)
    }
    val cond = renamed.map { case (k, a) => col(k) <=> col(a) }.reduce(_ && _)
    df.join(agged, cond).drop(renamed.map(_._2): _*)
  }

  import BucketedTable.{Ledger, Table}

  private def shingles(tag: String) =
    Table(s"${tag}_shingles", Seq("doc_id"), Seq("doc_id", "sh"))
  private def bands(tag: String) =
    Table(s"${tag}_bands", Seq("band", "bh"),
      Seq("doc_id", "band", "bh", "bsz"), Some("pbk"))
  private def ledger(tag: String) = Ledger(s"${tag}_btouched",
    new StructType().add("band", IntegerType).add("bh", StringType))

  /** Every table this family stores for `tag` — the one list reset
    * paths (q_takedown_audit) reuse so they cannot drift from the
    * storage layout.
    */
  def tables(tag: String): Seq[String] =
    Seq(shingles(tag).name, bands(tag).name, ledger(tag).name)

  /** Whether the stored index for `tag` is fully cataloged at the
    * current vintage (the band table carries its pbk mirror).
    */
  def exists(spark: SparkSession, tag: String): Boolean =
    shingles(tag).cataloged(spark) && bands(tag).cataloged(spark)

  /** Bands of shingle rows with the exact bucket size stamped. */
  private def sizedBands(sh: DataFrame): DataFrame =
    withKeyCount(DedupQueries.bandsFromShingles(sh), Seq("band", "bh"), "bsz")

  /** Materialize (or reuse, if already cataloged this session) the band
    * index for `standingDocs` (must carry doc_id + text). Returns
    * (shingleStore, bandIndex) as reads of the stored bucketed tables.
    */
  def buildOrLoad(spark: SparkSession, standingDocs: DataFrame,
                  tag: String,
                  log: graft.etl.MigrationLog = graft.etl.MigrationLog.silent,
                  targetRowsPerBucket: Long = BucketedTable.TargetRowsPerBucket
                 ): (DataFrame, DataFrame) = {
    val (shT, bdT) = (shingles(tag), bands(tag))
    val built = BucketedTable.buildIfAbsent(spark, exists(spark, tag),
        tables(tag)) {
      // Persist so the sizing count and the write share one shingling
      // pass; buckets derive from the shingle rows (the band relation is
      // strictly smaller at bands ≪ shingles/doc).
      val sh = DedupQueries.shingleRows(standingDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val buckets =
          BucketedTable.derivedBuckets(sh.count(), targetRowsPerBucket)
        BucketedTable.write(sh, shT, buckets)
        // bands derive from the stored shingles (one shingling pass)
        BucketedTable.write(sizedBands(spark.table(shT.name)), bdT, buckets)
        ledger(tag).ensure(spark)
      } finally sh.unpersist()
    }
    if (built) {
      // Readers cap hot buckets with `bsz <= HotBucketCap`; surface what
      // that cap will silently skip, once, at build time.
      val (nBuckets, nRows) = hotBucketAudit(spark, tag)
      val msg = s"hot_bucket_cap=${DedupQueries.HotBucketCap} " +
        s"skipped_buckets=$nBuckets skipped_rows=$nRows"
      if (nBuckets > 0) log.warn(bdT.name, "band_index_build", msg)
      else log.info(bdT.name, "band_index_build", msg)
    }
    (spark.table(shT.name), spark.table(bdT.name))
  }

  /** Derived bucket count this tag's band table was built with — a
    * report-row metric.
    */
  def buckets(spark: SparkSession, tag: String): Int =
    BucketedTable.bucketsOf(spark, bands(tag).name)

  /** What the hot-bucket cap will silently skip on the stored index:
    * (over-cap buckets, rows inside them). Scan-only — `bsz` is a
    * stored column — so the pipeline can surface every silent cap as a
    * report line without a window over the index.
    */
  def hotBucketAudit(spark: SparkSession, tag: String,
                     cap: Int = DedupQueries.HotBucketCap): (Long, Long) = {
    val r = spark.table(bands(tag).name)
      .filter(col("bsz") > cap)
      .agg(count_distinct(struct(col("band"), col("bh"))).as("n_buckets"),
        count(lit(1)).as("n_rows"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Daily-ingest maintenance: append `newDocs`' shingles and bands.
    * Appended band rows carry bsz counted WITHIN the batch — a lower
    * bound on the true bucket size, so the hot-bucket cap errs toward
    * keeping buckets until the next re-level; already-capped buckets
    * stay capped (their standing rows keep the over-cap bsz).
    */
  def append(spark: SparkSession, newDocs: DataFrame, tag: String): Unit = {
    BucketedTable.requireBuilt(spark, "append", tag, shingles(tag).name,
      bands(tag).name)
    val sh = DedupQueries.shingleRows(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ledger(tag).record(spark, DedupQueries.bandsFromShingles(sh))
      BucketedTable.insert(spark, sh, shingles(tag))
      BucketedTable.insert(spark, sizedBands(sh), bands(tag))
    } finally sh.unpersist()
  }

  /** Takedown maintenance, dual of [[append]]: remove every shingle and
    * band row of `docIds` (a doc_id relation). A deleted doc can never
    * be emitted as a candidate or a match again — both its posting rows
    * and its signature rows are gone. Surviving band rows keep their
    * stored `bsz`, now a stale UPPER bound, so the hot-bucket cap errs
    * toward SKIPPING a bucket deletion brought back under the cap
    * (cost-safe, recall-lossy at the cap margin) — the dual of append's
    * lower bound; after a re-level probe == rebuild-over-survivors
    * exactly (BandIndexSpec differential). The band table is the build
    * gate. Returns (shingle rows removed, band rows removed).
    */
  def delete(spark: SparkSession, docIds: DataFrame,
             tag: String): (Long, Long) = {
    BucketedTable.requireBuilt(spark, "delete", tag, shingles(tag).name,
      bands(tag).name)
    val Seq(sh, bd) = BucketedTable.deleteKeyed(spark, docIds, "doc_id",
      Seq(shingles(tag), bands(tag)), gate = Some(bands(tag).name),
      ledger = Some(ledger(tag)))
    (sh, bd)
  }

  /** Full re-level: rebuild the band table from the shingle store with
    * exact bucket sizes (recomputing from shingles avoids reading the
    * table being overwritten). [[refreshBucketSizesPartial]] is the
    * bounded form.
    */
  def refreshBucketSizes(spark: SparkSession, tag: String): Unit = {
    val bdT = bands(tag)
    BucketedTable.write(sizedBands(spark.table(shingles(tag).name)), bdT,
      BucketedTable.bucketsOf(spark, bdT.name))
    spark.catalog.refreshTable(bdT.name)
    ledger(tag).clear(spark)
  }

  /** Bounded bsz re-level ([[BucketedTable.relevelPartitions]]): bsz is
    * recomputed from the touched partitions' band rows themselves —
    * band rows equal bandsFromShingles(shingles) at every lifecycle
    * state, so this equals the from-shingles [[refreshBucketSizes]]
    * row-for-row (BandIndexSpec). Returns partitions rewritten.
    */
  def refreshBucketSizesPartial(spark: SparkSession, tag: String): Long =
    BucketedTable.relevelPartitions(spark, bands(tag), ledger(tag),
      scan => withKeyCount(scan.select(col("doc_id"), col("band"), col("bh")),
        Seq("band", "bh"), "bsz"))

  /** The re-level policy verb ([[BucketedTable.relevel]]). */
  def relevel(spark: SparkSession, tag: String): (String, Double, Long) =
    BucketedTable.relevel(spark, ledger(tag), bands(tag))(
      refreshBucketSizesPartial(spark, tag), refreshBucketSizes(spark, tag))
}
