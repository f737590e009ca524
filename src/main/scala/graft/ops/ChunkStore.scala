package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored chunk table: the chunk relation a RAG/embedding store
  * maintains, materialized as a bucketed table instead of re-chunking
  * the corpus per query (an embedding pipeline runs the chunker ONCE
  * per doc, at ingest). Lifecycle and layout rules: [[BucketedTable]].
  *
  *   - `<tag>_chunks` (doc_id, chunk_idx, start_tok, n_chunk_tok,
  *     chunk_fp)  bucketed by chunk_fp
  *
  * Bucketing on the fingerprint makes every fingerprint-keyed consumer
  * exchange-free off the scan: the chunk-store dedup's `groupBy
  * (chunk_fp)` (the pre-embedding maintenance pass), the [[keepers]]
  * relation, and the ingest-time probe join
  * ([[graft.streaming.CorpusStream.embeddedChunkHits]] — only the
  * arriving batch shuffles). At 100 TB the chunk relation is
  * ~n_tokens/stride rows — the table IS the embedding store's key
  * space, and paying its shuffle once at build is the same argument as
  * the span set's.
  *
  * Chunk rows are pure per-doc facts, so this is the one family with NO
  * staleness window: append-then-read and delete-then-read both equal a
  * from-scratch build over the resulting corpus.
  */
object ChunkStore {

  def tag(dir: String): String = BucketedTable.tag(dir, "chunks")

  private def chunks(tag: String) = BucketedTable.Table(s"${tag}_chunks",
    Seq("chunk_fp"),
    Seq("doc_id", "chunk_idx", "start_tok", "n_chunk_tok", "chunk_fp"))

  /** Every table this family stores for `tag` (reset paths reuse this so
    * they cannot drift from the layout).
    */
  def tables(tag: String): Seq[String] = Seq(chunks(tag).name)

  /** Derived bucket count this tag was built with (report-row metric). */
  def buckets(spark: SparkSession, tag: String): Int =
    BucketedTable.bucketsOf(spark, chunks(tag).name)

  /** Whether the stored table for `tag` is cataloged. */
  def exists(spark: SparkSession, tag: String): Boolean =
    chunks(tag).cataloged(spark)

  /** Materialize (or reuse, if already cataloged this session) the
    * chunk table for `docs` (must carry doc_id + text). Returns the
    * stored relation.
    */
  def buildOrLoad(spark: SparkSession, docs: DataFrame, tag: String,
                  log: graft.etl.MigrationLog = graft.etl.MigrationLog.silent,
                  targetRowsPerBucket: Long = BucketedTable.TargetRowsPerBucket
                 ): DataFrame = {
    val cT = chunks(tag).name
    BucketedTable.buildIfAbsent(spark, exists(spark, tag), tables(tag)) {
      // Persist so the sizing count and the write share one chunking
      // pass (the build's only corpus scan).
      val rows = PackingQueries.chunkRowsOf(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = rows.count()
        val bk = BucketedTable.derivedBuckets(n, targetRowsPerBucket)
        BucketedTable.write(rows, chunks(tag), bk)
        // Build-time audit: how much of the chunk space is already
        // duplicated — the fraction of embedding spend dedup will save.
        val dup = spark.table(cT).groupBy("chunk_fp")
          .agg(count(lit(1)).as("nc"))
          .agg(count(lit(1)).as("n_fp"),
            coalesce(sum(when(col("nc") >= 2, col("nc")).otherwise(0L)),
              lit(0L)).as("n_dup_rows"))
          .collect()(0)
        val msg = s"chunks=$n buckets=$bk distinct_fps=${dup.getLong(0)} " +
          s"rows_in_dup_fps=${dup.getLong(1)}"
        if (dup.getLong(0) > 0 && dup.getLong(1) * 2 > n)
          log.warn(cT, "chunk_store_build", msg)
        else log.info(cT, "chunk_store_build", msg)
      } finally rows.unpersist()
    }
    spark.table(cT)
  }

  /** One row per DISTINCT stored fingerprint with its keeper chunk
    * (min (doc, idx)) — the relation the ingest probe joins so an
    * arriving chunk learns which existing embedding to reuse.
    * Bucket-local agg off the stored scan.
    */
  def keepers(spark: SparkSession, tag: String): DataFrame =
    spark.table(chunks(tag).name)
      .groupBy("chunk_fp")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
      .select(col("chunk_fp"), col("k.doc_id").as("keeper_doc"),
        col("k.chunk_idx").as("keeper_idx"))

  /** Daily-ingest maintenance: append `newDocs`' chunk rows. */
  def append(spark: SparkSession, newDocs: DataFrame, tag: String): Unit = {
    BucketedTable.requireBuilt(spark, "append", tag, chunks(tag).name)
    BucketedTable.insert(spark, PackingQueries.chunkRowsOf(newDocs), chunks(tag))
  }

  /** Takedown maintenance: remove every chunk row of `docIds` (a doc_id
    * relation). Post-delete reads equal a from-scratch build over the
    * surviving corpus (ChunkStoreSpec differentials [[keepers]] — a
    * keeper owned by a deleted doc re-elects to the surviving minimum
    * automatically, since keepers is a read-path agg over stored rows).
    * Returns chunk rows removed.
    */
  def delete(spark: SparkSession, docIds: DataFrame, tag: String): Long = {
    BucketedTable.requireBuilt(spark, "delete", tag, chunks(tag).name)
    BucketedTable.deleteKeyed(spark, docIds, "doc_id", Seq(chunks(tag))).head
  }
}
