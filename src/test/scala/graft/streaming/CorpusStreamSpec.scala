package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

class CorpusStreamSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("curate gates quality, scrubs PII, and dedups within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("eventTime", "doc_id", "text")
    val q = CorpusStream.curate(docs)
      .writeStream.queryName("curate_test")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-cur").toString)
      .format("memory")
      .start()
    try {
      val good = "the quick brown fox jumps over the lazy dog again and again tonight"
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, good),
        (ts("2024-01-01 10:00:30"), 2L, good), // dup fingerprint -> dropped
        (ts("2024-01-01 10:01:00"), 3L, "too short"), // fails quality gate
        (ts("2024-01-01 10:02:00"), 4L,
          "dear customer the quick brown fox is writing to bob@example.com about the offer"))
      q.processAllAvailable()
      val out = spark.table("curate_test").orderBy("doc_id").collect()
      assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 4L))
      val pii = out(1)
      assert(pii.getAs[Int]("n_redactions") == 2) // customer + email
      assert(pii.getAs[String]("clean_text").contains("[PII]"))
      assert(!pii.getAs[String]("clean_text").contains("bob@example.com"))
    } finally q.stop()
  }

  test("nearDupCandidates: arriving copy of an indexed doc is flagged (stream-static join)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexed = "the quick brown fox jumps over the lazy dog tonight again"
    val staticIndex = CorpusStream.buildBandIndex(spark,
      Seq((10L, indexed),
        (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), "graft_test_nd_stream")
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = CorpusStream.nearDupCandidates(
      input.toDF().toDF("eventTime", "doc_id", "text"), staticIndex)
      .writeStream.queryName("neardup_test")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-nd").toString)
      .format("memory")
      .start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, indexed), // verbatim copy -> flagged
        (ts("2024-01-01 10:00:10"), 2L, "completely different words entirely unrelated content here"))
      q.processAllAvailable()
      val out = spark.table("neardup_test")
        .orderBy("doc_id", "match_id").collect()
      assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("match_id")))
        .toSeq == Seq((1L, 10L)))
    } finally q.stop()
  }

  test("attributionJoin matches clicks to prior views within 30 minutes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val q = EventStream.attributionJoin(
      views.toDF().toDF("viewTime", "user_id", "view_id"),
      clicks.toDF().toDF("clickTime", "user_id", "click_id"))
      .writeStream.queryName("attr_test")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-attr").toString)
      .format("memory")
      .start()
    try {
      views.addData(
        (ts("2024-01-01 10:00:00"), 1L, 100L), // 20 min before click: match
        (ts("2024-01-01 09:00:00"), 1L, 101L), // 80 min before: outside window
        (ts("2024-01-01 10:05:00"), 2L, 102L)) // other user
      clicks.addData(
        (ts("2024-01-01 10:20:00"), 1L, 900L),
        (ts("2024-01-01 11:00:00"), 2L, 901L)) // 55 min after view: no match
      q.processAllAvailable()
      val out = spark.table("attr_test")
        .orderBy("click_id", "view_id").collect()
      assert(out.length == 1)
      assert(out(0).getAs[Long]("click_id") == 900L)
      assert(out(0).getAs[Long]("view_id") == 100L)
      assert(out(0).getAs[Long]("lag_sec") == 1200L)
    } finally q.stop()
  }

  test("heavyHitterSketch: state bounded by buckets*k under eviction; " +
    "the hot term survives with an upper-bound estimate") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val k = 4
    val buckets = 2
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = CorpusStream.heavyHitterSketch(docs, k = k, buckets = buckets)
      .writeStream.queryName("hh_sketch_test")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-hh").toString)
      .format("memory")
      .start()
    try {
      // per doc: "hot hot" x3 plus 4 unique tail bigrams -> tail
      // vocabulary >> buckets*k, so the sketches must evict
      def doc(i: Int) = s"hot hot hot hot u${i}a u${i}b u${i}c u${i}d"
      input.addData((1 to 5).map(i => (i.toLong, doc(i))): _*)
      q.processAllAvailable()
      val afterB1 = spark.table("hh_sketch_test").collect()
      // Update-mode emission per trigger = the surviving counters only
      assert(afterB1.length <= buckets * k,
        s"batch-1 emitted ${afterB1.length} rows > state bound ${buckets * k}")
      input.addData((6 to 10).map(i => (i.toLong, doc(i))): _*)
      q.processAllAvailable()
      val all = spark.table("hh_sketch_test").collect()
      assert(all.length - afterB1.length <= buckets * k)
      // "hot hot" true count = 30 of 70 bigrams: far above its bucket's
      // len/k, so the superset guarantee keeps it tracked; its counter
      // is an upper bound on the true count
      val hotEsts = all.filter(_.getAs[String]("term") == "hot hot")
        .map(_.getAs[Long]("est"))
      assert(hotEsts.nonEmpty, "hot term evicted from the sketch")
      assert(hotEsts.max >= 30 && hotEsts.max < 70,
        s"hot-term estimate ${hotEsts.max} outside [30, 70)")
    } finally q.stop()
  }

  test("lmScoreBatch scores arriving docs against the frozen reference " +
    "LM and matches the batch scorer on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val train = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val (c2, c1, v) = graft.ops.CorpusQueries.lmTrainCounts(train)
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = input.toDF().toDF("eventTime", "doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-lm").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        results ++= CorpusStream.lmScoreBatch(batch, c2, c1, v)
          .collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Long]("n_bigrams"), r.getAs[Double]("xent")))
        ()
      }
      .start()
    try {
      val arriving = Seq(
        (ts("2024-01-01 10:00:00"), 1L,
          "the quick brown fox jumps over the lazy dog"), // = train
        (ts("2024-01-01 10:00:05"), 2L, "zz yy xx ww vv"), // all unseen
        (ts("2024-01-01 10:00:09"), 3L, "one"))            // no bigrams
      input.addData(arriving: _*)
      q.processAllAvailable()
      val got = results.sortBy(_._1).toList
      // doc 3 has <2 tokens -> absent; train copy scores below unseen
      assert(got.map(_._1) == List(1L, 2L))
      assert(got(0)._3 < got(1)._3)
      // stream == batch differential (one lmScore definition)
      val batchGot = graft.ops.CorpusQueries.lmScore(
        arriving.toDF("eventTime", "doc_id", "text"), c2, c1, v)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_bigrams"), r.getAs[Double]("xent")))
        .sortBy(_._1).toList
      assert(got == batchGot)
    } finally q.stop()
  }

  test("containmentProbe: arriving quote matches its standing book via " +
    "the stored ContainIndex; stream == batch differential (one probe " +
    "definition)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tag = "graft_test_ci_stream"
    Seq(s"${tag}_cngrams", s"${tag}_cdocs").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val words = (1 to 30).map(i => s"w$i")
    val standing = Seq((1L, words.mkString(" ")),
      (2L, "completely different standing content lives here okay fine"))
    graft.ops.ContainIndex.buildOrLoad(spark,
      standing.toDF("doc_id", "text"), tag)
    val arriving = Seq(
      (100L, words.slice(4, 13).mkString(" ")), // 9-word verbatim quote
      (101L, "zz yy xx ww vv uu tt"))           // unrelated
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-contain").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.streaming.CorpusStream
          .containmentProbe(b.sparkSession, b, tag)
          .select("doc_id", "match_id", "containment")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        sink.synchronized { sink ++= out }
        ()
      }
      .start()
    try {
      input.addData(arriving: _*)
      q.processAllAvailable()
      val streamed = sink.synchronized(sink.toSeq).sortBy(_._1)
      assert(streamed == Seq((100L, 1L, 1.0)), streamed)
      val batch = graft.streaming.CorpusStream.containmentProbe(spark,
        arriving.toDF("doc_id", "text"), tag)
        .select("doc_id", "match_id", "containment")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sortBy(_._1)
      assert(streamed == batch)
    } finally {
      q.stop()
      Seq(s"${tag}_cngrams", s"${tag}_cdocs").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("entropyBatch: stream union == batch across three micro-batch " +
    "splits (the signal is stateless per doc, so equality is exact)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (0L, "x x x x"), (1L, "a a b b"), (2L, "a b c d"),
      (3L, "spark data table row row row"), (4L, "w"),
      (5L, "q r q r q r s"))
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-entropy").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.streaming.CorpusStream.entropyBatch(b)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        sink.synchronized { sink ++= out }
        ()
      }
      .start()
    try {
      docs.grouped(2).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
      val streamed = sink.synchronized(sink.toSeq).sortBy(_._1)
      val batch = graft.ops.CorpusQueries
        .docEntropy(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(_._1)
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      val ent = streamed.map(x => (x._1, x._4)).toMap
      assert(ent(0L) == 0.0 && ent(1L) == 1.0 && ent(2L) == 2.0 &&
        ent(4L) == 0.0)
    } finally q.stop()
  }

  test("rulesBatch: stream union == batch across micro-batch splits " +
    "(rule flags are stateless per doc)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (0L, "the and " + (1 to 28).map(i => f"duck$i%03d").mkString(" ")),
      (1L, "zz yy"), // short, no stopwords
      (2L, Seq.fill(15)("the and").mkString(" ")), // dup-token spam
      (3L, "the and " + (1 to 88).map(i => f"gull$i%03d").mkString(" ")))
    val sink = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-rules").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.streaming.CorpusStream.rulesBatch(b)
          .collect().map(_.toString)
        sink.synchronized { sink ++= out }
        ()
      }
      .start()
    try {
      docs.grouped(2).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
      val streamed = sink.synchronized(sink.toSeq).sorted
      val batch = graft.ops.GovernanceQueries
        .docRuleFlags(docs.toDF("doc_id", "text"))
        .collect().map(_.toString).toSeq.sorted
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("manifestBatch: merging streamed per-batch partials == the " +
    "direct batch manifest (every receipt column is a semilattice)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = (1L to 30L).map(i =>
      (i, s"doc $i body", s"L${i % 4}", s"src${i % 2}"))
    // partial manifests accumulate as ROWS (what a standing receipt
    // table would store between ingests)
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var schema: org.apache.spark.sql.types.StructType = null
    val input = MemoryStream[(Long, String, String, String)]
    val q = input.toDF().toDF("doc_id", "text", "lang", "source")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-manifest").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val part = graft.streaming.CorpusStream.manifestBatch(b)
        sink.synchronized {
          sink ++= part.collect(); schema = part.schema
        }
        ()
      }
      .start()
    try {
      docs.grouped(7).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
      val parts = spark.createDataFrame(
        spark.sparkContext.parallelize(sink.synchronized(sink.toList)),
        schema)
      val merged = graft.ops.GovernanceQueries
        .manifestFinalize(graft.ops.GovernanceQueries.manifestMerge(parts))
        .collect().map(_.toString).toSeq
      val direct = graft.ops.GovernanceQueries
        .manifestFinalize(graft.ops.GovernanceQueries.manifestPartial(
          docs.toDF("doc_id", "text", "lang", "source")))
        .collect().map(_.toString).toSeq
      assert(merged == direct, s"stream=$merged batch=$direct")
    } finally q.stop()
  }

  test("bpeEncodeBatch: stream union == batch against the FROZEN stored " +
    "segmentation map across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // learn + store the tokenizer on a standing corpus, then stream new
    // docs of the SAME vocabulary through the encode face
    val standing = Seq((1L, "ab ab ab abab cd")).toDF("doc_id", "text")
    val tag = graft.ops.BucketedTable.tag(
      s"/tmp/bpestream_${System.nanoTime()}", "bpe")
    val (_, segs) = graft.ops.BpeStore.buildOrLoad(spark, standing, tag)
    val docs = Seq(
      (10L, "ab abab ab"), (11L, "cd cd"), (12L, "abab abab abab"),
      (13L, "ab cd abab"))
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Double)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-bpe").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.streaming.CorpusStream.bpeEncodeBatch(b, segs)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getDouble(4)))
        sink.synchronized { sink ++= out }
        ()
      }
      .start()
    try {
      docs.grouped(2).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
      val streamed = sink.synchronized(sink.toSeq).sortBy(_._1)
      val batch = graft.streaming.CorpusStream
        .bpeEncodeBatch(docs.toDF("doc_id", "text"), segs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
        .toSeq.sortBy(_._1)
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // spot-pin: "abab" segments to ONE symbol under the learned
      // merges ((a,b) then (ab,ab)), so doc 12 (3 x abab) counts
      // 3 words / 12 chars / 3 BPE tokens
      val d12 = streamed.find(_._1 == 12L).get
      assert((d12._2, d12._3, d12._4) == ((3L, 12L, 3L)), d12)
    } finally q.stop()
  }

  test("bm25ScoreBatch: stream union == batch against the FROZEN " +
    "LexIndex stats; an arriving copy of a standing doc scores exactly " +
    "what the stored read path scored the standing doc") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, round}
    val standing = Seq(
      (1L, "spark join query spark fast engine the and"),
      (2L, "spark is the engine we use for big data work"),
      (3L, "join me tomorrow for the query tuning session ok"),
      (4L, "totally unrelated words live here peacefully forever"))
      .toDF("doc_id", "text")
    val tag = graft.ops.BucketedTable.tag(
      s"/tmp/lexstream_${System.nanoTime()}", "lex")
    val (post, stats) = graft.ops.LexIndex.buildOrLoad(spark, standing, tag)
    val terms = graft.ops.CorpusQueries.Bm25Terms
    val tdf = graft.ops.LexIndex.termDf(spark, tag, terms)
      .persist()
    val stored = graft.ops.LexIndex.scoreTerms(post, stats, terms)
      .select(col("doc_id"), round(col("score"), 6))
      .as[(Long, Double)].collect().toMap
    // arriving docs: verbatim copies of standing 1 and 3 (new ids) + a
    // no-term doc that must NOT be scored + a fresh matching doc
    val docs = Seq(
      (101L, "spark join query spark fast engine the and"),
      (103L, "join me tomorrow for the query tuning session ok"),
      (104L, "nothing relevant in this arriving one"),
      (105L, "query speed matters most here"))
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-bm25").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.streaming.CorpusStream
          .bm25ScoreBatch(b, tdf, stats)
          .select(col("doc_id"), round(col("score"), 6))
          .as[(Long, Double)](org.apache.spark.sql.Encoders
            .tuple(org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.scalaDouble))
          .collect()
        sink.synchronized { sink ++= out }
        ()
      }
      .start()
    try {
      docs.grouped(2).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
      val streamed = sink.synchronized(sink.toSeq).sortBy(_._1)
      val batch = graft.streaming.CorpusStream
        .bm25ScoreBatch(docs.toDF("doc_id", "text"), tdf, stats)
        .select(col("doc_id"), round(col("score"), 6))
        .as[(Long, Double)].collect().toSeq.sortBy(_._1)
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      val m = streamed.toMap
      assert(m(101L) == stored(1L) && m(103L) == stored(3L),
        s"copies must score the standing values: $m vs $stored")
      assert(!m.contains(104L), "a no-term doc is not retrieved")
      assert(m.contains(105L) && m(105L) > 0.0)
    } finally { q.stop(); tdf.unpersist() }
  }

  test("capHashBatch (r18): stream union == batch against FROZEN taus " +
    "under any micro-batch split; keep-set equals the declared " +
    "query's kept counts on the standing corpus; unseen sources pass") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val standing = ((1L to 60L).map(i => (i, doc(10), "mega")) ++
      (200L to 204L).map(i => (i, doc(10), "small")))
      .toDF("doc_id", "text", "source")
    val base = standing.select(col("doc_id"), col("source"),
      size(graft.functions.TextFunctions.tokens(col("text")))
        .cast("long").as("n_tok"))
    val taus = graft.ops.CorpusQueries.hashCapTaus(base).persist()
    // keep-set totals over the standing corpus == the declared query
    val d = Files.createTempDirectory("caphashstream").toString
    standing.write.parquet(s"$d/documents.parquet")
    val declared = graft.Registry.queryMap("q_domain_cap_hash")(spark, d)
      .select(col("source"), col("n_kept"))
      .as[(String, Long)].collect().toMap
    val keptBatch = graft.ops.CorpusQueries.hashCapApply(base, taus)
      .groupBy("source").agg(count(lit(1)).as("k"))
      .as[(String, Long)].collect().toMap
    assert(keptBatch == declared,
      s"apply=$keptBatch declared=$declared")
    // arriving batch: standing sources + an unseen one (kept whole)
    val arriving = ((301L to 320L).map(i => (i, "mega")) ++
      (401L to 405L).map(i => (i, "fresh"))).map {
      case (id, src) => (id, src, 10L)
    }
    val sink = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, String, Long)]
    val q = input.toDF().toDF("doc_id", "source", "n_tok")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-caphash").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.streaming.CorpusStream.capHashBatch(b, taus)
          .select("doc_id").as[Long](
            org.apache.spark.sql.Encoders.scalaLong).collect()
        sink.synchronized { sink ++= out }
        ()
      }
      .start()
    try {
      arriving.grouped(7).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
      val streamed = sink.synchronized(sink.toSeq).sorted
      val batch = graft.streaming.CorpusStream
        .capHashBatch(arriving.toDF("doc_id", "source", "n_tok"), taus)
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // every unseen-source doc survives (tau defaults to 1)
      assert((401L to 405L).forall(streamed.contains),
        s"unseen source must pass wholesale: $streamed")
      // the capped source's arriving docs are a strict subset
      assert(streamed.count(_ < 400L) < 20,
        s"capped source must drop some arrivals: $streamed")
    } finally q.stop()
  }

  test("qlScoreBatch: stream union == batch against FROZEN collection " +
    "stats; an arriving copy scores the stored q_ql_dirichlet value; " +
    "unseen query terms leave the effective query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, round}
    val standing = Seq(
      (1L, "spark join query spark fast engine the and"),
      (2L, "spark is the engine we use for big data work"),
      (3L, "join me tomorrow for the query tuning session ok"),
      (4L, "totally unrelated words live here peacefully forever"))
      .toDF("doc_id", "text")
    val tag = graft.ops.BucketedTable.tag(
      s"/tmp/qlstream_${System.nanoTime()}", "lex")
    graft.ops.LexIndex.buildOrLoad(spark, standing, tag)
    val terms = graft.ops.CorpusQueries.Bm25Terms
    val (_, stats) = graft.ops.LexIndex.buildOrLoad(spark, standing, tag)
    val tcs = graft.ops.LexIndex.termCorpusStats(spark, tag, terms)
      .persist()
    // the stored read path's scores for the standing docs (same tag,
    // same frozen stats)
    val stored = graft.ops.CorpusQueries
      .qlDirichlet(spark, standing, tag, terms)
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().toMap
    val docs = Seq(
      (101L, "spark join query spark fast engine the and"),
      (103L, "join me tomorrow for the query tuning session ok"),
      (104L, "nothing relevant in this arriving one"),
      (105L, "query speed matters most here"))
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-ql").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.streaming.CorpusStream
          .qlScoreBatch(b, tcs, stats)
          .select(col("doc_id"), round(col("score"), 6))
          .as[(Long, Double)](org.apache.spark.sql.Encoders
            .tuple(org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.scalaDouble))
          .collect()
        sink.synchronized { sink ++= out }
        ()
      }
      .start()
    try {
      docs.grouped(2).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
      val streamed = sink.synchronized(sink.toSeq).sortBy(_._1)
      val batch = graft.streaming.CorpusStream
        .qlScoreBatch(docs.toDF("doc_id", "text"), tcs, stats)
        .select(col("doc_id"), round(col("score"), 6))
        .as[(Long, Double)].collect().toSeq.sortBy(_._1)
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      val m = streamed.toMap
      assert(m(101L) == stored(1L) && m(103L) == stored(3L),
        s"copies must score the standing values: $m vs $stored")
      assert(!m.contains(104L), "a no-term doc is not retrieved")
      assert(m.contains(105L), "a matching arriving doc is scored")
      // unseen-term rule: an arriving doc whose only query-term match
      // is a term the index knows scores the SAME whether or not the
      // frozen panel carries additional unseen terms — the unseen term
      // contributes to neither leg
      val tcsWide = graft.ops.LexIndex.termCorpusStats(spark, tag,
        terms :+ "neverseenterm")
      val wide = graft.ops.LexIndex.scoreArrivingQl(
          docs.toDF("doc_id", "text"), tcsWide, stats,
          terms :+ "neverseenterm", graft.ops.CorpusQueries.QlMu)
        .select(col("doc_id"), round(col("score"), 6))
        .as[(Long, Double)].collect().toSeq.sortBy(_._1)
      assert(wide == batch,
        s"an unseen query term must change nothing: $wide vs $batch")
    } finally { q.stop(); tcs.unpersist() }
  }

  test("lexAppendBatch closes the lexical ingest loop: streamed " +
    "micro-batch appends == one batch append on postings/tf/dl and " +
    "the stats fold (df is the documented batch-LOCAL lower bound), " +
    "and refreshCounts converges both to the exact rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val standing = Seq(
      (1L, "spark join query spark fast engine the and"),
      (2L, "spark is the engine we use for big data work"))
    val arriving = Seq(
      (11L, "spark query spark again here"),
      (12L, "join the fast query crowd now"),
      (13L, "fresh words only in this one"),
      (14L, "spark and join appear together finally"))
    val n = System.nanoTime()
    val tagS = graft.ops.BucketedTable.tag(s"/tmp/lexapp_s$n", "lex")
    val tagB = graft.ops.BucketedTable.tag(s"/tmp/lexapp_b$n", "lex")
    graft.ops.LexIndex.buildOrLoad(spark, standing.toDF("doc_id", "text"), tagS)
    graft.ops.LexIndex.buildOrLoad(spark, standing.toDF("doc_id", "text"), tagB)
    // reference: ONE batch append of all four arriving docs
    graft.ops.LexIndex.append(spark, arriving.toDF("doc_id", "text"), tagB)
    // streamed: the same docs in 2-doc micro-batches through the sink
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-lexapp").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.CorpusStream.lexAppendBatch(spark, b, tagS)
        ()
      }
      .start()
    try {
      arriving.grouped(2).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def postings(tag: String) = spark.table(s"${tag}_lpost")
      .select("term", "doc_id", "tf", "dl")
      .as[(String, Long, Long, Long)].collect().toSet
    def full(tag: String) = spark.table(s"${tag}_lpost")
      .select("term", "doc_id", "tf", "dl", "df")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    def statsRow(tag: String) = spark.table(s"${tag}_lstats")
      .as[(Long, Long)].collect().head
    // postings modulo df and the exact stats fold agree under any split
    assert(postings(tagS) == postings(tagB))
    assert(statsRow(tagS) == statsRow(tagB))
    assert(statsRow(tagS)._1 == standing.size + arriving.size)
    // a term split ACROSS micro-batches ('spark' in batch 1 and 2)
    // carries a smaller per-batch df bound than the one-batch append —
    // the finer trigger is more conservative, never less
    val dfOf = (tag: String) => spark.table(s"${tag}_lpost")
      .filter(col("term") === "spark" && col("doc_id") >= 11L)
      .select("doc_id", "df").as[(Long, Long)].collect().toMap
    assert(dfOf(tagS).values.forall(d => d <= dfOf(tagB).values.max))
    // refreshCounts converges both to the exact same rebuilt rows
    graft.ops.LexIndex.refreshCounts(spark, tagS)
    graft.ops.LexIndex.refreshCounts(spark, tagB)
    assert(full(tagS) == full(tagB))
    Seq(tagS, tagB).foreach(t => Seq(s"${t}_lpost", s"${t}_lstats")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x")))
  }

  test("lexDeleteBatch / bandDeleteBatch close the takedown loop in " +
    "streaming (r16): streamed micro-batch deletes == one batch delete " +
    "on every table under any split — deletion is idempotent and " +
    "exact, so the streaming face carries no exactly-once caveat") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark join query spark fast engine the and"),
      (2L, "spark is the engine we use for big data work"),
      (3L, "join me tomorrow for the query tuning session ok"),
      (4L, "totally unrelated words live here peacefully forever"),
      (5L, "spark query spark again here"),
      (6L, "fresh words only in this one"))
    val victims = Seq(2L, 3L, 5L, 6L)
    val n = System.nanoTime()
    val tagS = graft.ops.BucketedTable.tag(s"/tmp/lexdel_s$n", "lex")
    val tagB = graft.ops.BucketedTable.tag(s"/tmp/lexdel_b$n", "lex")
    graft.ops.LexIndex.buildOrLoad(spark, corpus.toDF("doc_id", "text"), tagS)
    graft.ops.LexIndex.buildOrLoad(spark, corpus.toDF("doc_id", "text"), tagB)
    val bTagS = graft.ops.BucketedTable.tag(s"/tmp/banddel_s$n", "full")
    val bTagB = graft.ops.BucketedTable.tag(s"/tmp/banddel_b$n", "full")
    graft.ops.BandIndex.buildOrLoad(spark, corpus.toDF("doc_id", "text"), bTagS)
    graft.ops.BandIndex.buildOrLoad(spark, corpus.toDF("doc_id", "text"), bTagB)
    // reference: ONE batch delete of all four ids on both families
    graft.ops.LexIndex.delete(spark, victims.toDF("doc_id"), tagB)
    graft.ops.BandIndex.delete(spark, victims.toDF("doc_id"), bTagB)
    // streamed: the same ids in 2-id micro-batches through the sinks
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("doc_id")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-lexdel").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.CorpusStream.lexDeleteBatch(spark, b, tagS)
        graft.streaming.CorpusStream.bandDeleteBatch(spark, b, bTagS)
        ()
      }
      .start()
    try {
      victims.grouped(2).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // FULL equality including df: deletes never restamp survivor
    // counts, so stream == batch holds with no refresh step at all
    def full(tag: String) = spark.table(s"${tag}_lpost")
      .select("term", "doc_id", "tf", "dl", "df")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    def statsRow(tag: String) = spark.table(s"${tag}_lstats")
      .as[(Long, Long)].collect().head
    assert(full(tagS) == full(tagB))
    assert(statsRow(tagS) == statsRow(tagB))
    assert(statsRow(tagS)._1 == 2L)
    for (t <- Seq("shingles", "bands")) {
      val a = spark.table(s"${bTagS}_$t")
      val b = spark.table(s"${bTagB}_$t")
      assert(a.except(b).isEmpty && b.except(a).isEmpty,
        s"band-family $t must agree stream vs batch")
    }
    (Seq(tagS, tagB).flatMap(t =>
      Seq(s"${t}_lpost", s"${t}_lstats", s"${t}_ltouched")) ++
      Seq(bTagS, bTagB).flatMap(t =>
        Seq(s"${t}_shingles", s"${t}_bands")))
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("passageScoreBatch: stream union == batch against the FROZEN " +
    "chunk-grain index, and an arriving copy of a standing doc elects " +
    "EXACTLY the stored read path's best passage and score") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val junk = (1 to 100).map(i => s"p$i").mkString(" ")
    val terms = Seq("spark", "join", "query")
    val corpus = Seq(
      (1L, junk + " spark join query spark join query sharp passage"),
      (2L, "spark join query on one short doc right here"),
      (3L, (1 to 40).map(i => s"zz$i").mkString(" ")))
    val n = System.nanoTime()
    val tagC = graft.ops.BucketedTable.tag(s"/tmp/passb$n", "chunks")
    val tagP = graft.ops.BucketedTable.tag(s"/tmp/passb$n", "plex")
    val stored = graft.ops.CorpusQueries.passageRetrieval(spark,
        corpus.toDF("doc_id", "text"), tagC, tagP, terms)
      .select("doc_id", "chunk_idx", "score")
      .as[(Long, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stored.keySet == Set(1L, 2L))
    // arriving copies of docs 1 and 2 under fresh ids, streamed in two
    // micro-batches through the frozen-stats scorer
    val arriving = Seq((101L, corpus(0)._2), (102L, corpus(1)._2))
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Int)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-passb").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.streaming.CorpusStream
          .passageScoreBatch(spark, b, tagP, terms)
          .as[(Long, Double, Int)].collect()
        sink.synchronized { sink ++= out }
        ()
      }
      .start()
    try {
      arriving.foreach { d =>
        input.addData(d)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = sink.map(r => r._1 -> ((r._3,
      BigDecimal(r._2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble))).toMap
    assert(streamed.keySet == Set(101L, 102L))
    // copy == standing: same elected chunk, same 6dp score
    assert(streamed(101L) == stored(1L),
      s"copy of doc 1: ${streamed(101L)} vs ${stored(1L)}")
    assert(streamed(102L) == stored(2L),
      s"copy of doc 2: ${streamed(102L)} vs ${stored(2L)}")
    // stream union (two micro-batches) == one direct batch call
    val direct = graft.streaming.CorpusStream.passageScoreBatch(spark,
        arriving.toDF("doc_id", "text"), tagP, terms)
      .as[(Long, Double, Int)].collect().toSet
    assert(direct == sink.toSet, "streamed union must equal one batch")
    (graft.ops.ChunkStore.tables(tagC) ++ graft.ops.LexIndex.tables(tagP))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("containDeleteBatch / chunkDeleteBatch / spanDeleteBatch extend " +
    "the streaming takedown loop to the remaining doc-grain families " +
    "(r17, r16 missing #2): streamed micro-batch deletes == one batch " +
    "delete on every table under any split, and the bounded partial " +
    "re-level converges both") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark join query spark fast engine the and more words"),
      (2L, "spark is the engine we use for big data work"),
      (3L, "join me tomorrow for the query tuning session ok"),
      (4L, "totally unrelated words live here peacefully forever today"),
      (5L, "spark is the engine we use for big data work"),
      (6L, "fresh words only in this one document right now"))
    val victims = Seq(2L, 3L, 6L)
    val n = System.nanoTime()
    val (cTagS, cTagB) = (graft.ops.BucketedTable.tag(s"/tmp/cdel_s$n", "c"),
      graft.ops.BucketedTable.tag(s"/tmp/cdel_b$n", "c"))
    val (kTagS, kTagB) = (graft.ops.BucketedTable.tag(s"/tmp/kdel_s$n", "chunks"),
      graft.ops.BucketedTable.tag(s"/tmp/kdel_b$n", "chunks"))
    val (sTagS, sTagB) = (graft.ops.BucketedTable.tag(s"/tmp/sdel_s$n", "spans"),
      graft.ops.BucketedTable.tag(s"/tmp/sdel_b$n", "spans"))
    val docs = corpus.map { case (id, t) => (id, t, s"s${id % 2}") }
      .toDF("doc_id", "text", "source")
    for (t <- Seq(cTagS, cTagB)) graft.ops.ContainIndex.buildOrLoad(spark, docs, t)
    for (t <- Seq(kTagS, kTagB)) graft.ops.ChunkStore.buildOrLoad(spark, docs, t)
    for (t <- Seq(sTagS, sTagB)) graft.ops.SpanSet.buildOrLoad(spark, docs, t)
    // reference: ONE batch delete on the B twins
    graft.ops.ContainIndex.delete(spark, victims.toDF("doc_id"), cTagB)
    graft.ops.ChunkStore.delete(spark, victims.toDF("doc_id"), kTagB)
    graft.ops.SpanSet.delete(spark, victims.toDF("doc_id"), sTagB)
    // streamed: the same ids in 2-id micro-batches through the faces
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("doc_id")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-cdel").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.CorpusStream.containDeleteBatch(spark, b, cTagS)
        graft.streaming.CorpusStream.chunkDeleteBatch(spark, b, kTagS)
        graft.streaming.CorpusStream.spanDeleteBatch(spark, b, sTagS)
        ()
      }
      .start()
    try {
      victims.grouped(2).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // containment: postings AND doc arrays equal (deletes never restamp
    // survivor counts, so stream == batch with no refresh at all)
    def cNg(t: String) = spark.table(s"${t}_cngrams")
      .select("g1", "doc_id", "na", "df")
      .as[(String, Long, Int, Long)].collect().toSet
    def cDc(t: String) = spark.table(s"${t}_cdocs")
      .select("doc_id", "na", "oc")
      .as[(Long, Int, Long)].collect().toSet
    assert(cNg(cTagS) == cNg(cTagB) && cDc(cTagS) == cDc(cTagB))
    // ... and the bounded partial re-level converges both twins
    graft.ops.ContainIndex.refreshCountsPartial(spark, cTagS)
    graft.ops.ContainIndex.refreshCountsPartial(spark, cTagB)
    assert(cNg(cTagS) == cNg(cTagB) && cDc(cTagS) == cDc(cTagB))
    // chunk store: rows and the re-elected keeper relation equal
    def kRows(t: String) = spark.table(s"${t}_chunks")
      .select("doc_id", "chunk_idx", "chunk_fp")
      .as[(Long, Int, String)].collect().toSet
    assert(kRows(kTagS) == kRows(kTagB))
    assert(graft.ops.ChunkStore.keepers(spark, kTagS).collect().toSet ==
      graft.ops.ChunkStore.keepers(spark, kTagB).collect().toSet)
    // span set: surviving rows equal; the SERVED duplicated-span set
    // equal (the delta lattice may hold different row splits — two
    // micro-batch deltas vs one — but sums on read are exact)
    def sRows(t: String) = spark.table(s"${t}_spanrows")
      .select("doc_id", "sh").as[(Long, String)].collect().toSet
    assert(sRows(sTagS) == sRows(sTagB))
    assert(graft.ops.SpanSet.duplicatedSpans(spark, sTagS)
        .collect().toSet ==
      graft.ops.SpanSet.duplicatedSpans(spark, sTagB).collect().toSet)
    // idempotent: replaying a micro-batch removes nothing
    assert(graft.streaming.CorpusStream.containDeleteBatch(spark,
      victims.take(2).toDF("doc_id"), cTagS) == ((0L, 0L)))
    (graft.ops.ContainIndex.tables(cTagS) ++
      graft.ops.ContainIndex.tables(cTagB) ++
      graft.ops.ChunkStore.tables(kTagS) ++
      graft.ops.ChunkStore.tables(kTagB) ++
      graft.ops.SpanSet.tables(sTagS) ++ graft.ops.SpanSet.tables(sTagB))
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("qualityClassifyBatch: stream union == batch against a FROZEN " +
    "naive-Bayes model across micro-batch splits; lexical labels " +
    "predicted correctly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // frozen model: good docs speak gw*, bad docs speak zq* (the
    // GovernanceSpec separable construction)
    val goodText = (Seq("the", "and") ++
      (1 to 23).map(i => f"gw$i%02d")).mkString(" ")
    val labeled = Seq(
      (1L, goodText, "good"), (2L, goodText, "good"),
      (11L, "zq wq vq", "bad"), (12L, "zq wq vq", "bad"))
      .toDF("doc_id", "text", "label")
    val (tg, li, _) = graft.ops.GovernanceQueries.nbTrain(labeled)
    val tgP = tg.persist(); val liP = li.persist()
    tgP.count(); liP.count() // freeze the model before streaming
    val docs = Seq(
      (20L, "gw01 gw02 the gw03"), (21L, "zq zq wq"),
      (22L, "gw05 and gw07"), (23L, "vq wq zq"))
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-qc").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.streaming.CorpusStream
          .qualityClassifyBatch(b, tgP, liP)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        sink.synchronized { sink ++= out }
        ()
      }
      .start()
    try {
      docs.grouped(2).foreach { g =>
        input.addData(g: _*)
        q.processAllAvailable()
      }
      val streamed = sink.synchronized(sink.toSeq).sortBy(_._1)
      val batch = graft.streaming.CorpusStream
        .qualityClassifyBatch(docs.toDF("doc_id", "text"), tgP, liP)
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .toSeq.sortBy(_._1)
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed == Seq((20L, "good"), (21L, "bad"),
        (22L, "good"), (23L, "bad")), streamed)
    } finally {
      q.stop(); tgP.unpersist(); liP.unpersist()
    }
  }
}
