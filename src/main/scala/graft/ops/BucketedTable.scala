package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The lifecycle every stored artifact family shares (BandIndex,
  * LexIndex, ContainIndex, IvfIndex, PqStore, ChunkStore, MediaSigStore,
  * BpeStore, SpanSet), stated once. A family supplies its row
  * derivation, its [[Table]] layouts, its count reconciliation and its
  * read paths; everything below is common:
  *
  *   - Layout. A stored table is bucketed AND sorted by the key its
  *     consumers join or filter on, so a probe join on that key is
  *     scan-only on the stored side and `key IN (...)` prunes buckets.
  *     The bucket count derives once per family from its primary
  *     relation ([[derivedBuckets]]) and every later rewrite preserves
  *     it ([[bucketsOf]]). A count-bearing table also carries a
  *     partition MIRROR column = pmod(hash(key), nb) — Spark's own
  *     bucket routing — so partition k holds exactly bucket k: a
  *     bucketed table can only be rewritten whole, but partitions can
  *     be overwritten one at a time, and a key's rows are confined to
  *     one partition, so a count recomputed over a partition subset is
  *     exact for every key in it ([[relevelPartitions]]).
  *   - Build-if-absent ([[buildIfAbsent]]). Builds run once per
  *     (session, corpus snapshot), gated on catalog presence of EVERY
  *     table at the current vintage (mirror columns included, see
  *     [[partitionedBy]]), so any partial state — a crash between two
  *     writes, an external drop, a pre-mirror vintage — drops and
  *     rebuilds instead of half-serving. Maintenance verbs refuse a
  *     missing artifact ([[requireBuilt]]).
  *   - One bucketed write ([[write]]). A fresh write — a new
  *     derivation, a refresh, a split/merge re-assignment — is
  *     repartitioned by the bucket key into nb partitions first, so
  *     each write task holds exactly one bucket and the table gets one
  *     file per bucket instead of (write tasks × buckets) fragments.
  *     A rewrite of rows that are already bucket-aligned — survivors
  *     of the table's own bucketed scan in [[deleteKeyed]], or a
  *     bucket-local aggregate of a co-bucketed table
  *     ([[writeAligned]]) — is not: clustering again would add a full
  *     shuffle for nothing. Correctness never depends on the file
  *     layout (bucket ids are per-row hashes; sortBy is per file).
  *   - Appends `insertInto` the stored table, which preserves the
  *     bucket spec; [[insert]] stamps the mirror and the stored column
  *     order (insertInto is positional).
  *   - Count staleness. Appends stamp batch-local counts (lower bounds)
  *     and deletes leave survivors' counts as upper bounds; the
  *     [[Ledger]] records the keys whose counts went stale BEFORE the
  *     table mutates (a crash in between leaves only harmless extra
  *     rows — re-leveling an exact key is idempotent — never a stale
  *     key the ledger missed), and [[relevel]] chooses the bounded
  *     partial re-level or the full one.
  *   - Delete ([[deleteKeyed]]). Survivors are staged through
  *     localCheckpoint before any overwrite: a write plan must never
  *     scan its own target.
  *   - Every overwrite refreshes the catalog entry after it: cached
  *     file listings and persisted reads must not serve the
  *     pre-overwrite files.
  */
object BucketedTable {

  /** A catalog-safe table-name prefix for a corpus snapshot: sf dir +
    * role, lowercased, non-alphanumerics folded to `_`.
    */
  def tag(dir: String, role: String): String =
    ("graft_" + dir + "_" + role).toLowerCase
      .replaceAll("[^a-z0-9]+", "_").replaceAll("^_+", "")

  /** Bucket-count floor for every stored-artifact family. */
  private[graft] val MinBuckets = 8

  /** Default sizing target: rows one bucket should hold. Artifact rows
    * are narrow (a fingerprint + a couple of longs ≈ 50–100 B), so 4M
    * rows/bucket ≈ low hundreds of MB — inside an executor's
    * shuffle-partition budget. Local test corpora stay at the
    * [[MinBuckets]] floor; a 100 TB corpus's ~10^12 span rows derive
    * ~2^18 buckets from the same rule. Every builder takes this as a
    * parameter so tests exercise non-floor derivations.
    */
  private[graft] val TargetRowsPerBucket = 4L * 1024 * 1024

  /** Buckets for a stored relation, derived from its cardinality at
    * build time: ceil(rows / target) rounded UP to a power of two —
    * re-derivations on grown data then yield multiples of the old
    * count, keeping bucket pruning/alignment behavior predictable —
    * floored at [[MinBuckets]]. Each family derives ONCE from its
    * primary relation and applies the count to all of its tables:
    * co-equal bucket counts on a shared key keep the family's internal
    * joins (span rows ⋈ span counts) co-partitioned.
    */
  private[graft] def derivedBuckets(nRows: Long,
                                    targetRows: Long = TargetRowsPerBucket): Int = {
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    val want = math.max(MinBuckets.toLong,
      (math.max(nRows, 1L) + targetRows - 1) / targetRows)
    var b = MinBuckets
    while (b < want && b < (1 << 22)) b <<= 1
    b
  }

  /** The bucket count a stored table was actually written with — for
    * report rows and rewrites, which must preserve, not silently
    * re-spec, the family's bucketing.
    */
  private[graft] def bucketsOf(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.map(_.numBuckets).getOrElse(0)

  /** Whether `table` is partitioned by `colName` — the artifact-vintage
    * half of a family's exists() check: the maintenance verbs need the
    * partition mirror, so a pre-mirror store must read as absent and
    * rebuild through buildOrLoad rather than pass the maintenance gate
    * and fail mid-verb with a missing-column AnalysisException.
    */
  private[ops] def partitionedBy(spark: SparkSession, table: String,
                                 colName: String): Boolean =
    spark.catalog.tableExists(table) &&
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
        .partitionColumnNames.contains(colName)

  /** The default (in-memory) catalog forgets tables across JVMs while
    * their files persist in the warehouse dir; CTAS then refuses the
    * occupied location. Drop stale locations so every fresh session
    * rebuilds from current inputs.
    */
  private[ops] def dropStaleLocations(spark: SparkSession,
                                      tables: Seq[String]): Unit =
    for (t <- tables) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(TableIdentifier(t)))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** One stored bucketed table: its name, bucket (and sort) key, stored
    * column order without the mirror, and partition mirror column.
    */
  final case class Table(name: String, key: Seq[String], columns: Seq[String],
                         mirror: Option[String] = None) {

    private def hashExpr(nb: Int) =
      expr(s"pmod(hash(${key.mkString(", ")}), $nb)").cast("int")

    /** `df` in stored column order, the mirror last — stamped from the
      * key unless `df` already carries it.
      */
    def rows(df: DataFrame, nb: Int): DataFrame = {
      val stamped = mirror.filterNot(df.columns.contains)
        .fold(df)(m => df.withColumn(m, hashExpr(nb)))
      stamped.select((columns ++ mirror).map(col): _*)
    }

    /** Whether the table is cataloged at the current vintage. */
    def cataloged(spark: SparkSession): Boolean =
      mirror.fold(spark.catalog.tableExists(name))(partitionedBy(spark, name, _))

    /** The distinct partitions `keys` hash-confine to. */
    private[ops] def partitionsOf(keys: DataFrame, nb: Int): DataFrame =
      keys.select(hashExpr(nb)).distinct()
  }

  /** Build-if-absent: unless `complete`, drop every table of the family
    * and its stale locations, then `build`. Returns whether it built.
    */
  private[ops] def buildIfAbsent(spark: SparkSession, complete: Boolean,
                                 tables: Seq[String])(build: => Unit): Boolean = {
    if (!complete) {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      dropStaleLocations(spark, tables)
      build
    }
    !complete
  }

  /** The maintenance verbs' guard: `tables` must be cataloged. */
  private[ops] def requireBuilt(spark: SparkSession, verb: String, tag: String,
                                tables: String*): Unit =
    require(tables.forall(spark.catalog.tableExists),
      s"$verb target $tag does not exist — buildOrLoad first")

  /** The fresh bucketed write: clustered by the bucket key into `nb`
    * partitions, then bucketed, sorted and (if mirrored) partitioned.
    */
  private[ops] def write(df: DataFrame, t: Table, nb: Int): Unit =
    writeAligned(t.rows(df, nb).repartition(nb, t.key.map(col): _*), t, nb)

  /** The bucketed write of rows already aligned to `t`'s buckets —
    * survivors of its own bucketed scan, or a bucket-local aggregate of
    * a table co-bucketed on the same key with the same count. No
    * clustering shuffle.
    */
  private[ops] def writeAligned(df: DataFrame, t: Table, nb: Int): Unit = {
    val w = t.rows(df, nb).write.mode(SaveMode.Overwrite)
    t.mirror.fold(w)(w.partitionBy(_))
      .bucketBy(nb, t.key.head, t.key.tail: _*)
      .sortBy(t.key.head, t.key.tail: _*)
      .saveAsTable(t.name)
  }

  /** Append `df` to the stored table (bucket spec preserved). */
  private[ops] def insert(spark: SparkSession, df: DataFrame, t: Table): Unit =
    t.rows(df, bucketsOf(spark, t.name)).write.insertInto(t.name)

  /** The touched-key ledger of a count-bearing table: the keys whose
    * stored counts are stale, recorded by append and delete before the
    * table mutates and consumed by the re-level. Tiny — batch-vocabulary
    * grain.
    */
  final case class Ledger(name: String, schema: StructType) {
    def keys: Seq[String] = schema.fieldNames.toSeq

    private def empty(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

    private[ops] def ensure(spark: SparkSession): Unit =
      if (!spark.catalog.tableExists(name)) {
        dropStaleLocations(spark, Seq(name))
        empty(spark).write.mode(SaveMode.Overwrite).saveAsTable(name)
      }

    /** Record the distinct keys of `rows` (a relation carrying them). */
    private[graft] def record(spark: SparkSession, rows: DataFrame): Unit = {
      ensure(spark)
      rows.select(keys.map(k => col(k).cast(schema(k).dataType)): _*)
        .distinct().write.insertInto(name)
    }

    private[ops] def clear(spark: SparkSession): Unit = {
      empty(spark).write.mode(SaveMode.Overwrite).saveAsTable(name)
      spark.catalog.refreshTable(name)
    }

    /** Partitions of `t` the ledger's keys hash-confine to. */
    private[ops] def touched(spark: SparkSession, t: Table): Seq[Int] = {
      ensure(spark)
      t.partitionsOf(spark.table(name), bucketsOf(spark, t.name))
        .collect().map(_.getInt(0)).sorted.toSeq
    }
  }

  /** Dynamic-partition overwrite of `staged` into `table` — the one
    * place the session-global `spark.sql.sources.partitionOverwriteMode`
    * is flipped: the per-writer `option("partitionOverwriteMode",
    * "dynamic")` is not honored by the `insertInto` catalog-table path
    * in Spark 4.1 (the write ran static and erased every untouched
    * partition). The set/restore window is this one write, so the
    * constraint is single-writer-per-session during maintenance (every
    * family verb is driver-sequenced).
    */
  private[ops] def overwritePartitionsDynamic(spark: SparkSession,
                                              staged: DataFrame,
                                              table: String): Unit = {
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "dynamic")
    try staged.write.mode(SaveMode.Overwrite).insertInto(table)
    finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
    spark.catalog.refreshTable(table)
  }

  /** The bounded re-level: the ledger's touched partitions of `t` are
    * read in ONE partition-pruned scan, re-derived by the family's
    * `stage` (recompute the per-key count column), staged through
    * localCheckpoint, dynamically overwritten — untouched partitions
    * stay byte-identical on disk — and the ledger clears. Exact
    * because a key's rows are confined to its partition: a count
    * recomputed within the touched partitions is exact for every key
    * they hold, including untouched co-partitioned keys, which re-level
    * to the value they already carry. Returns partitions rewritten.
    */
  private[ops] def relevelPartitions(spark: SparkSession, t: Table,
                                     ledger: Ledger,
                                     stage: DataFrame => DataFrame): Long = {
    val parts = ledger.touched(spark, t)
    if (parts.nonEmpty) {
      val nb = bucketsOf(spark, t.name)
      overwritePartitionsDynamic(spark, t.rows(stage(spark.table(t.name)
        .filter(col(t.mirror.get).isin(parts: _*))), nb).localCheckpoint(),
        t.name)
      ledger.clear(spark)
    }
    parts.size.toLong
  }

  /** Partial-vs-full re-level threshold, set from measurement
    * (`RELEVEL_r18.json` — sf0.1, 32 partitions, medians of 3 reps on
    * fresh identical pre-states; SCALE.md §"Pricing the re-level knob"):
    * the partial path beat the full re-level at every measured
    * touched-fraction, including complete cover — 0.51×, 0.50×, 0.58×,
    * 0.63× of full at f ∈ {1/32, 4/32, 16/32, 32/32} — because the
    * dynamic-overwrite writer's cost is proportional to touched
    * partitions while the full path always pays the whole bucketed
    * rewrite. So the threshold sits AT complete cover: partial for any
    * proper subset, full only when the ledger covers every partition —
    * where the two are row-work-equivalent and full avoids the two
    * costs that do grow with cover at a 2^18-partition production
    * layout (the touched-partition `isin` literal list the planner
    * carries, and one commit per partition vs one atomic rewrite).
    * That extrapolation is flagged as such: at sf0.1 those terms are
    * sub-noise (0.72 s vs 1.15 s even at full cover).
    */
  val RelevelPartialMaxFraction = 1.0

  /** Fraction of `t`'s partitions the ledger touches — the re-level
    * policy's input: |distinct pmod(hash(keys), nb)| / nb. Ledger-grain
    * work, no scan of the stored table.
    */
  private[ops] def touchedFractionOf(spark: SparkSession, ledger: Ledger,
                                     t: Table): Double = {
    if (!spark.catalog.tableExists(ledger.name)) return 0.0
    val nb = bucketsOf(spark, t.name)
    if (nb == 0) return 1.0
    t.partitionsOf(spark.table(ledger.name), nb).count().toDouble / nb
  }

  /** The re-level policy verb: the bounded `partial` path below
    * [[RelevelPartialMaxFraction]], the wholesale `full` re-level at or
    * above it. Returns (path, touched fraction, partitions rewritten)
    * for the caller's report row — the decision must be visible.
    */
  private[ops] def relevel(spark: SparkSession, ledger: Ledger, t: Table)
                          (partial: => Long, full: => Unit)
      : (String, Double, Long) = {
    val f = touchedFractionOf(spark, ledger, t)
    if (f < RelevelPartialMaxFraction) ("partial", f, partial)
    else {
      full
      ("full", f, bucketsOf(spark, t.name).toLong)
    }
  }

  /** The id-keyed delete (takedown) skeleton, for a family whose
    * `tables` all carry the `idCol` (doc_id or vec_id) of the rows to
    * remove:
    *
    *   1. the distinct ids broadcast;
    *   2. each table's deleted rows (semi-join) counted — nothing to
    *      delete returns the zero counts untouched. They are persisted
    *      only when a `reconcile` reads them again: a persisted relation
    *      costs its own caching job, a re-read only another scan;
    *   3. the ledger records the deleted rows' keys FIRST (from the
    *      first table carrying them) — those are the keys whose
    *      surviving counts are about to go stale;
    *   4. the family's `reconcile`, if any, sees the deleted rows of
    *      each table and stages whatever it derives from them (stats
    *      deltas, negative count deltas) before any write, returning
    *      the step that writes it after the rewrite;
    *   5. survivors (anti-join) staged through localCheckpoint;
    *   6. the `gate` table — the one written second at build — drops
    *      before any rewrite, so a crash anywhere in between breaks the
    *      build gate into a rebuild, never a cross-table mismatch;
    *   7. each table rewritten from its survivors, already bucket-aligned
    *      (no clustering), then the reconciliation step, then every
    *      rewritten table's catalog entry refreshed.
    *
    * Returns rows removed per table.
    */
  private[ops] def deleteKeyed(spark: SparkSession, ids: DataFrame,
                               idCol: String, tables: Seq[Table],
                               gate: Option[String] = None,
                               ledger: Option[Ledger] = None,
                               reconcile: Option[Seq[DataFrame] => () => Unit] =
                                 None): Seq[Long] = {
    val keys = broadcast(ids.select(col(idCol)).distinct())
    val scans = tables.map(t => spark.table(t.name))
    val gone = scans.map { s =>
      val g = s.join(keys, Seq(idCol), "left_semi")
      if (reconcile.isDefined)
        g.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else g
    }
    try {
      val removed = gone.map(_.count())
      if (removed.forall(_ == 0L)) return removed
      ledger.foreach(l => l.record(spark,
        gone.find(g => l.keys.forall(g.columns.contains)).get))
      val finish = reconcile.fold(() => ())(_(gone))
      val staged = tables.zip(scans).map { case (t, s) =>
        val nb = bucketsOf(spark, t.name)
        val survivors = s.join(keys, Seq(idCol), "left_anti")
        (t.rows(survivors, nb).localCheckpoint(), nb)
      }
      gate.foreach(g => spark.sql(s"DROP TABLE IF EXISTS $g"))
      tables.zip(staged).foreach { case (t, (s, nb)) =>
        writeAligned(s, t, nb)
      }
      finish()
      tables.foreach(t => spark.catalog.refreshTable(t.name))
      removed
    } finally gone.foreach(_.unpersist())
  }
}
