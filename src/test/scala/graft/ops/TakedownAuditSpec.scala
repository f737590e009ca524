package graft.ops

import graft.{Registry, Tables}
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q_takedown_audit receipts beyond the oracle compare: the query is
  * idempotent across executions (it manufactures determinism by
  * rebuilding its takedown-tagged artifacts each run — the one family
  * face where that must be explicit, since delete is inherently
  * stateful), every family actually removes rows, and the post-delete
  * SERVING face never returns a deleted doc (the takedown guarantee
  * itself, checked on the scoring path, not the raw tables).
  */
class TakedownAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("audit is idempotent, removes rows per family, and the served " +
    "index forgets deleted docs") {
    val fn = Registry.queryMap("q_takedown_audit")
    val first = fn(spark, dir).collect()
    assert(first.length == 5)
    for (r <- first) {
      val (fam, before, removed, after) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(removed > 0L, s"$fam removed no rows")
      assert(after == before - removed, s"$fam counts inconsistent")
      assert(after > 0L, s"$fam must keep survivor rows")
    }
    // serving-face receipt: the takedown-tagged LexIndex, as left on
    // disk by the audit run, scores NO deleted doc for any term panel
    // (deleted postings are gone from the only table the scorer scans)
    val sub = Tables.t(spark, dir, "documents")
      .filter(col("doc_id") % 5 === 0)
    val tagL = BucketedTable.tag(dir, "tdlex")
    val (post, stats) = LexIndex.buildOrLoad(spark, sub, tagL)
    val served = LexIndex.scoreTerms(post, stats, CorpusQueries.Bm25Terms)
      .filter(col("doc_id") % 20 === 0)
    assert(served.count() == 0L,
      "served index must not retrieve a deleted doc")
    // idempotence: a second execution rebuilds and reports identically
    val second = fn(spark, dir).collect()
    assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq)
  }
}
