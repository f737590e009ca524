package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The stored chunk table's lifecycle: build (bucketed on chunk_fp,
  * derived buckets), append (pure per-doc facts — append-then-read
  * equals rebuild with NO refresh step), keepers (min (doc, idx) per
  * stored fingerprint).
  */
class ChunkStoreSpec extends SparkSpec {
  import spark.implicits._

  // 40 tokens -> chunks at W=32/stride=24: starts 0 and 8 (full tail
  // coverage keeps start 8 < 40-8); doc 2 repeats doc 1's text so every
  // chunk fingerprint duplicates
  private val a = (1 to 40).map(i => s"w$i").mkString(" ")
  private val b = (101 to 140).map(i => s"w$i").mkString(" ")

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  private def drop(tag: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${tag}_chunks")

  test("buildOrLoad materializes the bucketed chunk table; rows equal " +
    "the direct chunker output") {
    val tag = "graft_test_cs_build"
    drop(tag)
    val corpus = docs(1L -> a, 2L -> a, 3L -> b)
    val stored = ChunkStore.buildOrLoad(spark, corpus, tag)
    val direct = PackingQueries.chunkRowsOf(corpus)
    assert(stored.count() == 6) // 2 chunks per doc
    assert(stored.except(direct).isEmpty && direct.except(stored).isEmpty,
      "stored table must equal the direct chunker output row for row")
    // keepers: one row per distinct fp; doc 1 wins the shared fps
    val k = ChunkStore.keepers(spark, tag)
    assert(k.count() == 4) // 2 shared fps + doc 3's 2 unique
    assert(k.filter(col("keeper_doc") === 2L).count() == 0,
      "doc 1 must keep the fps it shares with doc 2")
    // a second call is a catalog hit: no rebuild, same data
    assert(ChunkStore.buildOrLoad(spark, spark.emptyDataFrame, tag)
      .count() == 6)
    drop(tag)
  }

  test("append-then-read equals rebuild-from-scratch (no refresh step " +
    "exists or is needed), and derived buckets honor the target") {
    val tagI = "graft_test_cs_inc"
    val tagF = "graft_test_cs_full"
    drop(tagI); drop(tagF)
    ChunkStore.buildOrLoad(spark, docs(1L -> a), tagI,
      targetRowsPerBucket = 1L)
    // 2 chunk rows at 1/bucket -> floor 8 still wins... build the full
    // corpus store at the same target for the bucket assertion below
    ChunkStore.append(spark, docs(2L -> a, 3L -> b), tagI)
    spark.catalog.refreshTable(s"${tagI}_chunks")
    ChunkStore.buildOrLoad(spark, docs(1L -> a, 2L -> a, 3L -> b), tagF,
      targetRowsPerBucket = 1L)
    val inc = spark.table(s"${tagI}_chunks")
    val full = spark.table(s"${tagF}_chunks")
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty,
      "append-then-read must equal rebuild-from-scratch")
    // keepers agree too (the probe relation the stream joins)
    assert(ChunkStore.keepers(spark, tagI)
      .except(ChunkStore.keepers(spark, tagF)).isEmpty)
    // 6 rows at 1/bucket -> floor 8; at the default target also 8 — pin
    // the derivation with a direct call instead of a giant corpus
    assert(ChunkStore.buckets(spark, tagF) == 8)
    assert(BucketedTable.derivedBuckets(6L, 1L) == 8)
    assert(BucketedTable.derivedBuckets(600L, 1L) == 1024)
    drop(tagI); drop(tagF)
  }

  test("delete (r15 verdict #1): per-doc facts make the delete exact " +
    "with NO staleness window — post-delete table == rebuild over the " +
    "survivors, and a keeper owned by the deleted doc re-elects to the " +
    "surviving minimum automatically") {
    val tagA = "graft_test_cs_del"
    val tagB = "graft_test_cs_del_ref"
    drop(tagA); drop(tagB)
    // docs 1 and 3 share all fingerprints; doc 1 is the build-time keeper
    ChunkStore.buildOrLoad(spark, docs(1L -> a, 2L -> b, 3L -> a), tagA)
    assert(ChunkStore.keepers(spark, tagA)
      .filter(col("keeper_doc") === 3L).count() == 0)
    val removed = ChunkStore.delete(spark,
      Seq(1L, 99L).toDF("doc_id"), tagA)
    assert(removed == 2L, s"got $removed")
    // keepers re-elect: doc 3 now owns the shared fingerprints
    val k = ChunkStore.keepers(spark, tagA)
      .select("keeper_doc").distinct().as[Long].collect().toSet
    assert(k == Set(2L, 3L), s"keeper must re-elect to the survivor: $k")
    // delete == rebuild-minus exactly (no refresh step exists or is
    // needed — the family's no-staleness contract covers delete too)
    ChunkStore.buildOrLoad(spark, docs(2L -> b, 3L -> a), tagB)
    val da = spark.table(s"${tagA}_chunks")
    val db = spark.table(s"${tagB}_chunks")
    assert(da.except(db).isEmpty && db.except(da).isEmpty,
      "post-delete table must equal the rebuild over survivors")
    assert(ChunkStore.delete(spark, Seq(1L).toDF("doc_id"), tagA) == 0L)
    drop(tagA); drop(tagB)
  }
}
