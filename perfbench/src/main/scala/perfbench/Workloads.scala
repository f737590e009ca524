package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.etl.{Constraints, Pipeline, Profiler, Report, SchemaRules}
import graft.ops._
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

object Expected {
  def load(dir: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(s"$dir/expected.json"))
      .get("expected")
}

/** `Pipeline.migrate` over a seeded multi-copy source, then a fixed mix
  * of declared queries over the migrated corpus.
  *
  * The migrate exercises type standardization, skip-empty-column (one
  * planted all-null column), one SchemaRules (rename, retype, delete),
  * one table rename, seven FK edges with planted orphans, and the
  * zOrder + compact layout artifacts. The traced run replays the same
  * migrate phase by phase through the public `etl` functions. */
final class MigrateWorkload(a: Main.Args, r: Record) extends Workload(a, r) {
  private val src = args.data
  private val exp = Expected.load(src)
  private val cfg = Pipeline.SourceConfig(
    dir = src,
    // the FK graph's tables plus the corpus the mix reads
    excludedTables = Seq("events", "embeddings"),
    rules = Map("part" -> SchemaRules(
      renames = Map("p_name" -> "p_title"),
      retypes = Map("p_size" -> org.apache.spark.sql.types.LongType),
      deletes = Seq("p_type"))),
    tableRenames = Map("supplier" -> "vendor"),
    skipColumnIfEmpty = true,
    standardizeTypes = true)
  private val fks = exp.get("orphans").fieldNames.asScala.toSeq.sorted.map {
    e =>
      val Array(c, p) = e.split("->")
      val Array(ct, cc) = c.split("\\.")
      val Array(pt, pc) = p.split("\\.")
      Pipeline.ForeignKey(ct, cc, pt, pc)
  }
  private val layout = Pipeline.ArtifactConfig(
    zOrder = Map("lineitem" -> ("l_orderkey", "l_partkey")),
    compact = Map("orders" -> "o_orderdate"))
  // Every round migrates into the same directory (the pipeline
  // overwrites), so what the mix builds on first touch stays keyed to
  // one corpus directory across rounds.
  private val out = s"${args.runDir}/migrated"
  private val serve = new ServeMix(this, out)

  def setup(): Unit = {
    // the survey a migration starts from: reflect, then profile every
    // source table
    sourceTables().foreach { t =>
      ledger.span("etl.profile", t)(
        Profiler.profile(spark.read.parquet(s"$src/$t.parquet")))
    }
  }

  private def sourceTables(): Seq[String] =
    ledger.span("etl.reflect")(Pipeline.reflectTables(src))
      .filterNot(cfg.excludedTables.contains)

  private def migrateTraced(): Report = {
    val t0 = now()
    val tables = sourceTables()
    tables.foreach { t =>
      ledger.span("etl.profile", t)(
        Profiler.profile(spark.read.parquet(s"$src/$t.parquet")))
    }
    val results = tables.map(t =>
      ledger.span("etl.migrate_table", t)(
        Pipeline.migrateTable(spark, cfg, t, out)))
    def outName(t: String) = cfg.tableRenames.getOrElse(t, t)
    val fkResults = fks.map { fk =>
      val label = s"${fk.childTable}.${fk.childCol}->" +
        s"${fk.parentTable}.${fk.parentCol}"
      Report.FkResult(label, ledger.span("etl.fk", label)(
        Constraints.fkOrphanCount(
          spark.read.parquet(s"$out/${outName(fk.childTable)}.parquet"),
          fk.childCol,
          spark.read.parquet(s"$out/${outName(fk.parentTable)}.parquet"),
          fk.parentCol)))
    }
    val art = ledger.span("etl.layout")(
      Pipeline.artifactPhase(spark, out, layout))
    Report(results, fkResults, (now() - t0) / 1e9, art)
  }

  private def check(rep: Report): Option[String] = {
    val rows = exp.get("rows").fields.asScala
      .filterNot(e => cfg.excludedTables.contains(e.getKey))
      .map(_.getValue.asLong).sum
    val orphans = exp.get("orphans").fields.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    val got = rep.fks.map(f => f.edge -> f.orphanCount).toMap
    val cust = rep.tables.find(_.table == "customer")
    val partCols = spark.read.parquet(s"$out/part.parquet").columns.toSet
    if (rep.rowsMigrated != rows)
      Some(s"rowsMigrated ${rep.rowsMigrated} != expected $rows")
    else if (got != orphans) Some(s"orphans $got != expected $orphans")
    else if (!cust.exists(_.droppedColumns == Seq("c_comment")))
      Some(s"all-null column not dropped: ${cust.map(_.droppedColumns)}")
    else if (!new java.io.File(s"$out/vendor.parquet").isDirectory)
      Some("renamed table vendor not written")
    else if (partCols.contains("p_type") || !partCols.contains("p_title"))
      Some(s"schema rules not applied to part: $partCols")
    else if (rep.artifacts.map(_.kind).sorted != Seq("compaction", "zorder"))
      Some(s"layout artifacts ${rep.artifacts.map(_.kind)}")
    else None
  }

  def round(r: Int): Unit = {
    val ok = op(r, "migrate", "Pipeline.migrate") {
      if (args.trace) migrateTraced()
      else Pipeline.migrate(spark, cfg, out, fks, parallelism = args.cores,
        artifacts = layout)
    }(check)
    if (r == 0) stored = dirBytes(out)
    // round 0 needs two passes only: one dumps for the oracle, one checks
    // the repeat against it
    val passes = if (r == 0) math.min(2, args.passes) else args.passes
    // the mix reads what this round wrote; after a failed migrate it
    // would only repeat the failure
    if (ok) (1 to passes).foreach(serve.pass(r, _))
  }
}

/** A fixed mix of declared queries over a corpus directory, run in
  * sorted order, each materialized in full on the driver. Each shared
  * cache family is released after its last consumer in the mix. Round
  * 0 dumps every result for the DuckDB oracle, which `run.py` checks
  * after the run; every later execution must reproduce round 0's
  * result. */
final class ServeMix(w: Workload, dir: String) {
  val mix: Seq[String] = Workload.ServeMix.sorted
  private val releaseAfter = SharedCaches.releasePoints(mix)
  private val firstHash = scala.collection.mutable.HashMap.empty[String, Int]
  private val dumped = scala.collection.mutable.Set.empty[String]

  private def fn(q: String): (org.apache.spark.sql.SparkSession, String) => DataFrame =
    q match {
      case "planted_throw" => (_, _) => throw new IllegalStateException("planted")
      // three rows where its oracle (Workload.PlantedOracle) has two
      case "planted_wrong" => (s, _) => s.range(3).toDF("id")
      case _ => graft.Registry.queryMap(q)
    }

  private val queries: Seq[String] =
    mix ++ Seq("planted_throw", "planted_wrong").filter(p =>
      w.args.plant.contains(p.stripPrefix("planted_")))

  /** Serve the mix once. The first pass after a migrate re-resolves the
    * rewritten tables, so its executions are named `query#1` and every
    * later pass's `query#2`: two operations, timed apart. */
  def pass(r: Int, pass: Int): Unit = {
    val spark = w.spark
    spark.sharedState.cacheManager.clearCache()
    queries.foreach { q =>
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      w.op(r, "query", s"$q#${math.min(pass, 2)}") {
        val df = w.ledger.span("ops.query.construct", q)(fn(q)(spark, dir))
        schema = df.schema
        w.ledger.span("ops.query.action", q)(df.collect())
      } { got =>
        rows = got
        val h = w.rowsHash(got)
        firstHash.get(q) match {
          case None => firstHash(q) = h; None
          case Some(h0) if h0 == h => None
          case Some(_) => Some("result differs from the first execution")
        }
      }
      if (r == 0 && rows != null && !dumped(q)) {
        dumped += q
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${w.args.runDir}/results/$q")
      }
      releaseAfter.getOrElse(q, Nil).foreach(f =>
        w.ledger.span("ops.SharedCaches.release", f)(SharedCaches.release(f)))
    }
    if (r == 0 && !dumped("oracle_sql.json")) {
      dumped += "oracle_sql.json"
      val oracle = graft.SparkEntry.oracleSql.filter(kv => mix.contains(kv._1)) ++
        Workload.PlantedOracle.filter(kv => queries.contains(kv._1))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${w.args.runDir}/results/oracle_sql.json"),
        new ObjectMapper().writeValueAsString(oracle.asJava))
    }
  }
}

/** The stored families' write path beside their read path: build them
  * over the seeded corpus, then rounds of probe, append, takedown and
  * re-level with the seeded batches. The families index the corpus
  * directory in place: the migrate workload measures the load, this one
  * the index lifecycle. */
final class LifecycleWorkload(a: Main.Args, r: Record) extends Workload(a, r) {
  private val src = args.data
  private val exp = Expected.load(src)
  private val batchIds = exp.get("batch_ids").elements.asScala
    .map(_.elements.asScala.map(_.asLong).toSeq).toSeq
  private val takedownIds = exp.get("takedown_ids").elements.asScala
    .map(_.elements.asScala.map(_.asLong).toSeq).toSeq
  override def maxRounds: Int = batchIds.size
  // the terms bm25ScoreBatch scores (CorpusQueries.Bm25Terms)
  private val Bm25Terms = Seq("spark", "join", "query")
  private val out = src
  private var taken = Set.empty[Long]
  private var files: Map[String, Long] = Map.empty

  private def chunkTag = ChunkStore.tag(out)
  private def lexTag = LexIndex.tag(s"$out/documents")

  def setup(): Unit = {
    val d = Seq("documents")
    val A = Pipeline.ArtifactConfig()
    if (!args.trace)
      Pipeline.artifactPhase(spark, out, A.copy(lexIndexTables = d,
        chunkStoreTables = d))
    else
      // the same artifact phase, one family per call, so each family's
      // build (its buildOrLoad plus the phase's audit) is its own span
      Seq("LexIndex" -> A.copy(lexIndexTables = d),
        "ChunkStore" -> A.copy(chunkStoreTables = d)).foreach { case (f, c) =>
        ledger.span(s"ops.store.$f.build")(Pipeline.artifactPhase(spark, out, c))
      }
  }

  private def batchDocs(r: Int): DataFrame =
    spark.read.parquet(s"$src/batches/docs_$r.parquet")

  /** (table, id) for each of `ids` present in a doc_id column of
    * `tables`, in one job. */
  private def present(tables: Seq[String], ids: Seq[Long]): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.{col, lit}
    tables.map(spark.table).zip(tables)
      .filter(_._1.columns.contains("doc_id"))
      .map { case (df, t) => df.filter(col("doc_id").isin(ids: _*))
        .select(lit(t).as("t"), col("doc_id").cast("long").as("id")) }
      .reduce(_ union _).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  private def familyTables: Seq[String] =
    LexIndex.tables(lexTag) ++ ChunkStore.tables(chunkTag)

  /** One table per family in which every appended doc has rows. */
  private def coveringTables: Seq[String] =
    Seq(LexIndex.tables(lexTag).head, ChunkStore.tables(chunkTag).head)

  def round(r: Int): Unit = {
    val docs = batchDocs(r)
    val appended = batchIds(r)

    // the batch arrives as micro-batches, each probed on arrival
    for (part <- 0 until args.microBatches) {
      val micro = docs.filter(
        org.apache.spark.sql.functions.pmod(docs("doc_id"),
          org.apache.spark.sql.functions.lit(args.microBatches)) === part)
      op(r, "probe", s"CorpusStream.bm25ScoreBatch#$part") {
        ledger.span("streaming.bm25") {
          val (_, stats) = LexIndex.buildOrLoad(spark, micro, lexTag)
          graft.streaming.CorpusStream.bm25ScoreBatch(micro,
            LexIndex.termDf(spark, lexTag, Bm25Terms), stats).collect()
        }
      } { rows =>
        val scored = rows.map(_.getAs[Long]("doc_id")).toSet
        if (scored.subsetOf(appended.toSet)) None
        else Some(s"scored ids outside the batch: ${(scored -- appended).take(5)}")
      }
    }

    op(r, "append", "family appends") {
      def ap(f: String)(body: => Unit): Unit =
        ledger.span(s"ops.store.$f.append")(body)
      ap("LexIndex")(LexIndex.append(spark, docs, lexTag))
      ap("ChunkStore")(ChunkStore.append(spark, docs, chunkTag))
    } { _ =>
      val found = present(coveringTables, appended).groupBy(_._1)
      coveringTables.map(t => t -> (appended.toSet --
        found.getOrElse(t, Nil).map(_._2)))
        .collectFirst { case (t, miss) if miss.nonEmpty =>
          s"appended ids missing from $t: ${miss.take(5)}" }
    }

    val gone = takedownIds(r)
    taken ++= gone
    val session = spark
    import session.implicits._
    val goneDf = gone.toDF("doc_id")
    op(r, "takedown", "Pipeline.deleteDocs") {
      if (!args.trace)
        Pipeline.deleteDocs(spark, out, goneDf, lexTables = Seq("documents"))
      else {
        def d(f: String)(body: => Any): Unit =
          ledger.span(s"ops.store.$f.delete")(body)
        d("LexIndex")(LexIndex.delete(spark, goneDf, lexTag))
        d("ChunkStore")(ChunkStore.delete(spark, goneDf, chunkTag))
      }
    } { _ =>
      val left = present(familyTables, taken.toSeq)
      if (left.isEmpty) None
      else Some(s"taken-down ids still stored: ${left.take(5)}")
    }

    op(r, "relevel", "Pipeline.relevelArtifacts") {
      if (!args.trace)
        Pipeline.relevelArtifacts(spark, out, Seq("documents"))
      else
        ledger.span("ops.store.LexIndex.relevel")(LexIndex.relevel(spark, lexTag))
    } { _ => None }

    // files and stored bytes are read after round 1, once every write
    // verb has run: a fixed point of the seeded batch sequence
    if (r == 1) {
      files = Workload.familyFiles(this)
      stored = dirBytes(warehouse)
    }
  }

  override def extraLayers(): Unit =
    files.foreach { case (f, n) =>
      rec.layer(s"ops.store.$f.files", n.toDouble, "count") }
}
