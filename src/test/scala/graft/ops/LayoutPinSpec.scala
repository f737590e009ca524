package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** Layout pin for all nine stored families: after build and after a
  * maintenance sequence (append, delete, and the family's re-level or
  * refresh verbs), every stored table keeps its column schema, bucket
  * spec (count, bucket columns, sort columns) and partition columns.
  * Table names are pinned by suffix — the tag is per-run.
  *
  * The expected strings are the layouts the families wrote before the
  * shared lifecycle module existed: a drift here is a storage-format
  * change, which a refactor must not make.
  */
class LayoutPinSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** `<suffix> | <schema> | <buckets> by <cols> sort <cols> | part <cols>`
    * for one cataloged table; the suffix is the name after `tag`.
    */
  private def layout(tag: String, table: String): String = {
    val m = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    val bucket = m.bucketSpec.fold("plain")(b =>
      s"${b.numBuckets} by ${b.bucketColumnNames.mkString(",")} " +
        s"sort ${b.sortColumnNames.mkString(",")}")
    s"${table.stripPrefix(tag)} | ${m.schema.simpleString} | $bucket | " +
      s"part ${m.partitionColumnNames.mkString(",")}"
  }

  private def pin(tag: String, tables: Seq[String],
                  expected: Seq[String]): Unit =
    assert(tables.map(layout(tag, _)) == expected)

  private def drop(tables: Seq[String]): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def freshTag(role: String) =
    BucketedTable.tag(s"/tmp/layoutpin${System.nanoTime()}", role)

  /** A small deterministic corpus with near-duplicates, so every family
    * derives non-trivial rows (shared shingles, n-grams, spans, merges).
    */
  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
  private def text(seed: Int, n: Int = 40): String =
    (0 until n).map(i => words((seed * 7 + i * (seed % 5 + 1)) % words.size))
      .mkString(" ")
  private def corpus(ids: Seq[Long]) =
    ids.map(i => (i, s"src${i % 3}", text((i % 4).toInt + 1)))
      .toDF("doc_id", "source", "text")
  private val standing = corpus(1L to 12L)
  private val batch = corpus(Seq(101L, 102L, 103L))
  private val gone = Seq(2L, 101L).toDF("doc_id")

  test("BandIndex layout survives build, append, delete and relevel") {
    val tag = freshTag("minhash")
    val tables = BandIndex.tables(tag)
    val expected = Seq(
      "_shingles | struct<doc_id:bigint,sh:array<string>> | 8 by doc_id sort doc_id | " +
        "part ",
      "_bands | struct<doc_id:bigint,band:int,bh:string,bsz:bigint,pbk:int> | " +
        "8 by band,bh sort band,bh | part pbk",
      "_btouched | struct<band:int,bh:string> | plain | part ")
    BandIndex.buildOrLoad(spark, standing, tag)
    pin(tag, tables, expected)
    BandIndex.append(spark, batch, tag)
    BandIndex.delete(spark, gone, tag)
    pin(tag, tables, expected)
    assert(BandIndex.relevel(spark, tag)._1 == "partial")
    BandIndex.refreshBucketSizes(spark, tag)
    pin(tag, tables, expected)
    drop(tables)
  }

  test("LexIndex layout survives build, append, delete and relevel") {
    val tag = freshTag("lex")
    val tables = LexIndex.tables(tag)
    val expected = Seq(
      "_lpost | struct<term:string,doc_id:bigint,tf:bigint,dl:bigint," +
        "df:bigint,pb:int> | 8 by term sort term | part pb",
      "_lstats | struct<n_docs:bigint,sum_dl:bigint> | plain | part ",
      "_ltouched | struct<term:string> | plain | part ")
    LexIndex.buildOrLoad(spark, standing, tag)
    pin(tag, tables, expected)
    LexIndex.append(spark, batch, tag)
    LexIndex.delete(spark, gone, tag)
    pin(tag, tables, expected)
    assert(LexIndex.relevel(spark, tag)._1 == "partial")
    LexIndex.refreshCounts(spark, tag)
    pin(tag, tables, expected)
    drop(tables)
  }

  test("ContainIndex layout survives build, append, delete and relevel") {
    val tag = freshTag("contain")
    val tables = ContainIndex.tables(tag)
    val expected = Seq(
      "_cngrams | struct<g1:string,doc_id:bigint,na:int,df:bigint,pb:int> | " +
        "8 by g1 sort g1 | part pb",
      "_cdocs | struct<doc_id:bigint,ng:array<string>,na:int,oc:bigint," +
        "pd:int> | 8 by doc_id sort doc_id | part pd",
      "_ctouched | struct<g1:string> | plain | part ")
    ContainIndex.buildOrLoad(spark, standing, tag)
    pin(tag, tables, expected)
    ContainIndex.append(spark, batch, tag)
    ContainIndex.delete(spark, gone, tag)
    pin(tag, tables, expected)
    assert(ContainIndex.relevel(spark, tag)._1 == "partial")
    ContainIndex.refreshCounts(spark, tag)
    pin(tag, tables, expected)
    drop(tables)
  }

  test("IvfIndex layout survives build, append, delete, split, merge " +
    "and refresh, and append still works after a split") {
    val tag = freshTag("ivf")
    val tables = IvfIndex.tables(tag)
    val expected = Seq(
      "_ivfcells | struct<vec_id:bigint,v:array<double>,nrm:double," +
        "cell:bigint> | 8 by cell sort cell | part ",
      "_ivfcentroids | struct<cell:bigint,cv:array<double>,cn:double> | " +
        "plain | part ")
    val vecs = SimilarityQueries.normalizedCorpus(spark, dir)
    IvfIndex.buildOrLoadVectors(spark, vecs.filter(col("vec_id") <= 60), tag, 4)
    pin(tag, tables, expected)
    IvfIndex.append(spark, vecs.filter(col("vec_id").between(61, 70)), tag)
    IvfIndex.delete(spark, Seq(1L, 65L).toDF("vec_id"), tag)
    pin(tag, tables, expected)
    IvfIndex.splitHotCells(spark, tag, factor = 1.01)
    IvfIndex.mergeColdCells(spark, tag, factor = 1.5)
    IvfIndex.refreshCentroids(spark, tag)
    pin(tag, tables, expected)
    // append inserts by position, so it needs the build's column order
    IvfIndex.append(spark, vecs.filter(col("vec_id").between(71, 75)), tag)
    assert(spark.table(tables.head).filter(col("vec_id") > 70).count() == 5)
    drop(tables)
  }

  test("PqStore layout survives build, append and delete") {
    val t = PqStore.tag(dir, 4)
    val tables = PqStore.tables(t)
    drop(tables)
    val expected = Seq(
      "_pqcodebook | struct<sub:int,code:int,cv:array<double>> | plain | part ",
      "_pqcodes | struct<vec_id:bigint,nrm:double,codes:array<int>> | " +
        "8 by vec_id sort vec_id | part ")
    PqStore.buildOrLoad(spark, dir, k = 4)
    pin(t, tables, expected)
    val vecs = SimilarityQueries.normalizedCorpus(spark, dir)
    PqStore.append(spark, vecs.filter(col("vec_id") <= 3)
      .withColumn("vec_id", col("vec_id") + 900000L), t)
    PqStore.delete(spark, Seq(1L, 900001L).toDF("vec_id"), t)
    pin(t, tables, expected)
    drop(tables)
  }

  test("ChunkStore layout survives build, append and delete") {
    val tag = freshTag("chunks")
    val tables = ChunkStore.tables(tag)
    val expected = Seq(
      "_chunks | struct<doc_id:bigint,chunk_idx:int,start_tok:int," +
        "n_chunk_tok:int,chunk_fp:string> | 8 by chunk_fp sort chunk_fp | part ")
    ChunkStore.buildOrLoad(spark, standing, tag)
    pin(tag, tables, expected)
    ChunkStore.append(spark, batch, tag)
    ChunkStore.delete(spark, gone, tag)
    pin(tag, tables, expected)
    drop(tables)
  }

  test("MediaSigStore layout survives build, append, delete and relevel") {
    val tag = freshTag("imgsig")
    val tables = MediaSigStore.tables(tag)
    val expected = Seq(
      "_msig | struct<doc_id:bigint,b0:int,b1:int,b2:int,b3:int> | " +
        "8 by doc_id sort doc_id | part ",
      "_mband | struct<bk:int,doc_id:bigint,bsz:bigint,pbk:int> | " +
        "8 by bk sort bk | part pbk",
      "_mtouched | struct<bk:int> | plain | part ")
    val ids = (ids: Seq[Long]) => ids.toDF("doc_id")
    MediaSigStore.buildOrLoad(spark, ids(Seq(3L, 7L, 100L, 197L)), tag,
      ImageDedup.dhashSigs)
    pin(tag, tables, expected)
    MediaSigStore.append(spark, ids(Seq(50L, 147L)), tag, ImageDedup.dhashSigs)
    MediaSigStore.delete(spark, ids(Seq(7L, 50L)), tag)
    pin(tag, tables, expected)
    assert(MediaSigStore.relevel(spark, tag)._1 == "partial")
    MediaSigStore.refreshBucketSizes(spark, tag)
    pin(tag, tables, expected)
    drop(tables)
  }

  test("BpeStore layout survives build and append") {
    val tag = freshTag("bpe")
    val tables = BpeStore.tables(tag)
    val expected = Seq(
      "_bpemerges | struct<merge_rank:int,lhs:string,rhs:string," +
        "pair_count:bigint> | plain | part ",
      "_bpesegs | struct<word:string,cnt:bigint,syms:array<string>> | " +
        "8 by word sort word | part ")
    BpeStore.buildOrLoad(spark, standing, tag, numMerges = 4)
    pin(tag, tables, expected)
    BpeStore.append(spark, Seq((200L, "zulu yankee alpha")).toDF("doc_id", "text"),
      tag)
    pin(tag, tables, expected)
    drop(tables)
  }

  test("SpanSet layout survives build, append, delete and refresh " +
    "(word and char families)") {
    val expected = Seq(
      "_spanrows | struct<doc_id:bigint,source:string,n_spans:int," +
        "sh:string> | 8 by sh sort sh | part ",
      "_spanset | struct<sh:string,nd:bigint> | 8 by sh sort sh | part ")
    val tag = freshTag("spans")
    val tables = SpanSet.tables(tag)
    SpanSet.buildOrLoad(spark, standing, tag)
    pin(tag, tables, expected)
    SpanSet.append(spark, batch, tag)
    SpanSet.delete(spark, gone, tag)
    pin(tag, tables, expected)
    SpanSet.refreshSpanCounts(spark, tag)
    pin(tag, tables, expected)
    drop(tables)
    val cTag = freshTag("charspans")
    SpanSet.buildOrLoadChar(spark, standing, cTag)
    SpanSet.appendChar(spark, batch, cTag)
    SpanSet.delete(spark, gone, cTag)
    pin(cTag, SpanSet.tables(cTag), expected)
    drop(SpanSet.tables(cTag))
  }
}
