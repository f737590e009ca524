package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Stored containment index: the inverted word-3-gram index + per-doc
  * n-gram arrays the incremental containment path
  * (`q_containment_incremental`) and the streaming ingest probe
  * ([[graft.streaming.CorpusStream.containmentProbe]]) read, instead of
  * re-deriving the standing corpus's n-grams per run. Lifecycle and
  * layout rules: [[BucketedTable]].
  *
  *   - `<tag>_cngrams` (g1, doc_id, na, df)   bucketed by g1,
  *     partition mirror pb
  *   - `<tag>_cdocs`   (doc_id, ng, na, oc)   bucketed by doc_id,
  *     partition mirror pd — so the oc re-level rewrites only
  *     partitions holding docs whose oc actually changed
  *   - `<tag>_ctouched` (g1) — the touched-n-gram ledger
  *
  * `df` — each n-gram's standing document frequency — and `oc` — each
  * doc's count of OVER-CAP n-grams — are precomputed at build time, so
  * the df-cap candidate restriction (`df <= cap`) is a pushed parquet
  * predicate on the posting scan and the support prefilter's
  * min(oc_a, oc_b) bound reads a stored column; recomputing either on
  * the read path would shuffle the whole index per probe. Bucketing on
  * the probe keys (g1 for the posting join, doc_id for the verify join)
  * keeps the index sides scan-only — only the arriving batch shuffles.
  */
object ContainIndex {

  import BucketedTable.{Ledger, Table}

  /** Catalog tag for a corpus dir + role. */
  def tag(dir: String, role: String): String = BucketedTable.tag(dir, role)

  private def ngrams(tag: String) = Table(s"${tag}_cngrams", Seq("g1"),
    Seq("g1", "doc_id", "na", "df"), Some("pb"))
  private def docs(tag: String) = Table(s"${tag}_cdocs", Seq("doc_id"),
    Seq("doc_id", "ng", "na", "oc"), Some("pd"))
  private def ledger(tag: String) =
    Ledger(s"${tag}_ctouched", new StructType().add("g1", StringType))

  /** Every table this family stores for `tag` — the one list reset
    * paths (q_takedown_audit) and drop helpers reuse so they cannot
    * drift from the storage layout.
    */
  def tables(tag: String): Seq[String] =
    Seq(ngrams(tag).name, docs(tag).name, ledger(tag).name)

  /** Drop every stored table of `tag` (catalog + files). */
  def dropAll(spark: SparkSession, tag: String): Unit = {
    tables(tag).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    BucketedTable.dropStaleLocations(spark, tables(tag))
  }

  /** Postings of n-gram arrays (doc_id, ng) with df stamped (the
    * skew-safe [[BandIndex.withKeyCount]], never a g1 window: the
    * hottest g1 is a boilerplate n-gram, the exact key the df cap
    * governs).
    */
  private def postings(g: DataFrame): DataFrame =
    BandIndex.withKeyCount(g.select(col("doc_id"), size(col("ng")).as("na"),
      explode(col("ng")).as("g1")), Seq("g1"), "df")

  /** Doc-array rows (doc_id, ng, na, oc): `oc` counts each doc's
    * over-cap n-grams in `post`; docs whose n-grams are all rare get 0.
    */
  private def docRows(g: DataFrame, post: DataFrame): DataFrame = {
    val oc = post.filter(col("df") > DedupQueries.ContainDfCap)
      .groupBy("doc_id").agg(count(lit(1)).as("oc"))
    g.join(oc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ng"), size(col("ng")).as("na"),
        coalesce(col("oc"), lit(0L)).as("oc"))
  }

  /** Materialize (or reuse, if already cataloged this session) the
    * containment index for `standingDocs` (must carry doc_id + text).
    * Returns (postings, docArrays) as reads of the stored tables.
    */
  def buildOrLoad(spark: SparkSession, standingDocs: DataFrame,
                  tag: String,
                  targetRowsPerBucket: Long = BucketedTable.TargetRowsPerBucket
                 ): (DataFrame, DataFrame) = {
    val (ngT, dcT) = (ngrams(tag), docs(tag))
    BucketedTable.buildIfAbsent(spark, exists(spark, tag), tables(tag)) {
      val g = DedupQueries.ngramDocs(standingDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // df derived once at build — never again on the read path
        val post = postings(g)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val buckets =
            BucketedTable.derivedBuckets(post.count(), targetRowsPerBucket)
          BucketedTable.write(post, ngT, buckets)
          BucketedTable.write(docRows(g, post), dcT, buckets)
          ledger(tag).ensure(spark)
        } finally post.unpersist()
      } finally g.unpersist()
    }
    (spark.table(ngT.name), spark.table(dcT.name))
  }

  /** Daily-ingest maintenance: append `newDocs`' postings and arrays.
    * Appended rows carry df counted WITHIN the batch — a lower bound on
    * the true frequency, which errs toward treating n-grams as rare:
    * recall-safe (extra candidates), cost-unsafe until the next
    * re-level — the BandIndex `bsz` staleness contract with the
    * inequality pointing the same (safe) way.
    */
  def append(spark: SparkSession, newDocs: DataFrame, tag: String): Unit = {
    val (ngT, dcT) = (ngrams(tag), docs(tag))
    BucketedTable.requireBuilt(spark, "append", tag, ngT.name, dcT.name)
    val g = DedupQueries.ngramDocs(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ledger(tag).record(spark, g.select(explode(col("ng")).as("g1")))
      val post = postings(g)
      BucketedTable.insert(spark, post, ngT)
      BucketedTable.insert(spark, docRows(g, post), dcT)
    } finally g.unpersist()
  }

  /** Full re-level: recompute exact df over the full stored posting
    * relation and exact oc per doc, rewriting both tables with their
    * bucket specs preserved. [[refreshCountsPartial]] is the bounded
    * form.
    */
  def refreshCounts(spark: SparkSession, tag: String): Unit = {
    val (ngT, dcT) = (ngrams(tag), docs(tag))
    val buckets = BucketedTable.bucketsOf(spark, ngT.name)
    val post = BandIndex.withKeyCount(
        spark.table(ngT.name).select(col("g1"), col("doc_id"), col("na")),
        Seq("g1"), "df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stagedNg = ngT.rows(post, buckets)
        .localCheckpoint() // sever from the table being overwritten
      val oc = post.filter(col("df") > DedupQueries.ContainDfCap)
        .groupBy("doc_id").agg(count(lit(1)).as("oc"))
      val stagedDc = dcT.rows(spark.table(dcT.name).select("doc_id", "ng", "na")
          .join(oc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("ng"), col("na"),
            coalesce(col("oc"), lit(0L)).as("oc")), buckets)
        .localCheckpoint()
      BucketedTable.write(stagedNg, ngT, buckets)
      BucketedTable.write(stagedDc, dcT, buckets)
      spark.catalog.refreshTable(ngT.name)
      spark.catalog.refreshTable(dcT.name)
      ledger(tag).clear(spark)
    } finally post.unpersist()
  }

  /** Bounded re-level: re-level df for ONLY the posting partitions
    * holding n-grams touched since the last exact level (the
    * [[BucketedTable.relevelPartitions]] shape, composed here because
    * the ledger must only clear after BOTH legs), then re-level oc for
    * ONLY the doc partitions whose stored oc actually changed:
    *
    *   1. posting df over the touched partitions, exact (a g1's rows
    *      are confined to its pb), dynamically overwritten;
    *   2. oc: exact per-doc over-cap counts from the NOW-EXACT stored
    *      df — `postings.filter(df > cap)` is a pushed predicate scan,
    *      and the count is a doc-grain groupBy (fine-grained keys, no
    *      straggler); compared against the stored oc via a
    *      column-pruned (doc_id, oc, pd) read of the doc table. This
    *      audit is vintage-proof where a delta rule is not: stored oc
    *      mixes build-exact rows with append-time batch-local rows, so
    *      "which docs changed" is only decidable against ground truth.
    *      Only partitions holding a changed doc are rewritten;
    *   3. ledger reset.
    *
    * Equals [[refreshCounts]] exactly on both tables (ContainIndexSpec
    * differential), and untouched partitions are not rewritten.
    * Returns (posting partitions rewritten, doc partitions rewritten).
    */
  def refreshCountsPartial(spark: SparkSession, tag: String): (Long, Long) = {
    val (ngT, dcT) = (ngrams(tag), docs(tag))
    val touchedPbs = ledger(tag).touched(spark, ngT)
    if (touchedPbs.isEmpty) return (0L, 0L)
    val nb = BucketedTable.bucketsOf(spark, ngT.name)
    BucketedTable.overwritePartitionsDynamic(spark, ngT.rows(
        BandIndex.withKeyCount(spark.table(ngT.name)
          .filter(col("pb").isin(touchedPbs: _*))
          .select(col("g1"), col("doc_id"), col("na")), Seq("g1"), "df"), nb)
      .localCheckpoint(), ngT.name)
    val ocExact = spark.table(ngT.name)
      .filter(col("df") > DedupQueries.ContainDfCap)
      .groupBy("doc_id").agg(count(lit(1)).as("oc_x"))
    val changedPds = spark.table(dcT.name).select("doc_id", "oc", "pd")
      .join(ocExact, Seq("doc_id"), "left")
      .filter(col("oc") =!= coalesce(col("oc_x"), lit(0L)))
      .select(col("pd").cast("int"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (changedPds.nonEmpty) {
      val stagedDc = spark.table(dcT.name)
        .filter(col("pd").isin(changedPds: _*))
        .select("doc_id", "ng", "na", "pd")
        .join(ocExact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ng"), col("na"),
          coalesce(col("oc_x"), lit(0L)).as("oc"), col("pd"))
        .localCheckpoint()
      BucketedTable.overwritePartitionsDynamic(spark, stagedDc, dcT.name)
    }
    ledger(tag).clear(spark)
    (touchedPbs.size.toLong, changedPds.size.toLong)
  }

  /** The re-level policy verb ([[BucketedTable.relevel]]); the partial
    * path reports posting + doc partitions summed.
    */
  def relevel(spark: SparkSession, tag: String): (String, Double, Long) =
    BucketedTable.relevel(spark, ledger(tag), ngrams(tag))(
      { val (ng, dc) = refreshCountsPartial(spark, tag); ng + dc },
      refreshCounts(spark, tag))

  /** Takedown maintenance, dual of [[append]]: remove every posting and
    * doc-array row of `docIds`. A deleted doc can never be emitted as a
    * candidate or verified as a match again — its postings AND its
    * n-gram array are gone. Surviving counts go stale in the DUAL
    * direction of append's batch-local lower bounds:
    *   - posting `df` becomes a stale UPPER bound (it counted deleted
    *     docs), so the `df <= cap` candidate restriction may SKIP an
    *     n-gram deletion brought back under the cap — cost-safe but
    *     recall-lossy at the cap margin (append's lower bound erred the
    *     recall-safe way; the two verbs bracket the truth);
    *   - doc-array `oc` becomes a stale UPPER bound, so the support
    *     prefilter's `bound − min(oca, ocb)` threshold drops — MORE
    *     candidates pass, recall-safe and cost-unsafe (same direction
    *     as append here: oc only ever over-subtracts).
    * After a re-level [[probe]] == rebuild-over-survivors exactly
    * (ContainIndexSpec differential on the serving face). The doc-array
    * table is the build gate. Returns (posting rows removed, doc-array
    * rows removed).
    */
  def delete(spark: SparkSession, docIds: DataFrame,
             tag: String): (Long, Long) = {
    val (ngT, dcT) = (ngrams(tag), docs(tag))
    BucketedTable.requireBuilt(spark, "delete", tag, ngT.name, dcT.name)
    val Seq(ng, dc) = BucketedTable.deleteKeyed(spark, docIds, "doc_id",
      Seq(ngT, dcT), gate = Some(dcT.name), ledger = Some(ledger(tag)))
    (ng, dc)
  }

  /** What the df cap silently excludes from candidate generation on
    * the stored index: (over-cap distinct n-grams, posting rows inside
    * them). Scan-only — `df` is a stored column — so the pipeline can
    * surface every silent cap as a report line (the hot-bucket-audit
    * convention).
    */
  def capAudit(spark: SparkSession, tag: String,
               cap: Int = DedupQueries.ContainDfCap): (Long, Long) = {
    val r = spark.table(ngrams(tag).name)
      .filter(col("df") > cap)
      .agg(count_distinct(col("g1")).as("n_grams"),
        count(lit(1)).as("n_rows"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Derived bucket count this tag was built with — a report-row
    * metric.
    */
  def buckets(spark: SparkSession, tag: String): Int =
    BucketedTable.bucketsOf(spark, ngrams(tag).name)

  /** Whether the stored index for `tag` is fully cataloged at the
    * current vintage (both tables carry their pb/pd mirrors).
    */
  def exists(spark: SparkSession, tag: String): Boolean =
    ngrams(tag).cataloged(spark) && docs(tag).cataloged(spark)

  /** The probe — ONE definition shared by the declared incremental
    * query and the streaming ingest face, so batch and stream cannot
    * drift. `newG` carries the arriving docs' (doc_id, ng); `postings`
    * / `docArrays` are the stored tables. Returns each arriving doc's
    * best standing match at containment >= tau: (doc_id, match_id,
    * containment, jaccard).
    *
    * Shape: candidates from the df-capped posting join (pushed `df <=
    * cap` predicate, index scan-only), support-prefiltered with the
    * SOUND integer bound (see q_dedup_containment — the emitted set is
    * unchanged by it), exact set-intersection verify against the
    * stored arrays (doc_id-bucketed — scan-only on the verify key),
    * best match by (containment desc, match_id asc). Only the arriving
    * batch shuffles.
    */
  def probe(newG: DataFrame, postings: DataFrame,
            docArrays: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = DedupQueries.ContainDfCap
    val ninv = newG.select(col("doc_id"), size(col("ng")).as("naa"),
      explode(col("ng")).as("g1"))
    // arriving docs' over-cap counts, judged on STANDING df (an n-gram
    // absent from the index has no standing df — it is neither rare
    // nor shared, so it contributes to neither side of the bound)
    val overG = postings.filter(col("df") > cap).select("g1").distinct()
    val nocs = ninv.join(overG, "g1")
      .groupBy("doc_id").agg(count(lit(1)).as("oca"))
    val post = postings.filter(col("df") <= cap)
      .select(col("g1"), col("doc_id").as("match_id"), col("na").as("nab"))
    val pairs = ninv.join(post, "g1")
      .groupBy(col("doc_id"), col("match_id"), col("naa"), col("nab"))
      .agg(count(lit(1)).as("support"))
    val socs = docArrays.select(col("doc_id").as("match_id"),
      col("oc").as("ocb"))
    val cand = pairs
      .join(broadcast(nocs.select(col("doc_id"), col("oca"))), Seq("doc_id"),
        "left")
      .join(socs, "match_id")
      .filter(col("support") >= greatest(lit(1),
        expr(DedupQueries.containSupportBound("least(naa, nab)")) -
          least(coalesce(col("oca"), lit(0L)), col("ocb"))))
      .select("doc_id", "match_id")
    val a = newG.select(col("doc_id"), col("ng").as("nga"))
    val b = docArrays.select(col("doc_id").as("match_id"),
      col("ng").as("ngb"))
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("cont").desc, col("match_id").asc)
    cand.join(a, "doc_id").join(b, "match_id")
      .withColumn("inter", size(array_intersect(col("nga"), col("ngb"))))
      .withColumn("cont", col("inter").cast("double") /
        least(size(col("nga")), size(col("ngb"))))
      .filter(col("cont") >= DedupQueries.ContainTau)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("match_id"),
        round(col("cont"), 6).as("containment"),
        round(col("inter").cast("double") /
          (size(col("nga")) + size(col("ngb")) - col("inter")), 6)
          .as("jaccard"))
      .orderBy("doc_id")
  }
}
