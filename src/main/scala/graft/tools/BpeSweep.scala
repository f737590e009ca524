package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{BpeStore, BucketedTable}

/** The PRODUCTION merge-budget point, measured THROUGH THE STORE (r13
  * verdict #7): [[BpeScale]] already proves the 500-merge learn curve
  * offline via the raw loop; this main PROMOTES it — it builds two
  * geometry-tagged [[BpeStore]] artifacts (the shipped 10-merge default
  * and a ~500-merge production budget) over the same synth vocabulary
  * corpus with the exact `buildOrLoad` path the pipeline and the
  * declared queries use, then reports each store's compression and
  * corpus fertility side by side — the q_bpe_merge_sweep table at the
  * budget the testdata corpus cannot host (its vocabulary exhausts at
  * ~89 merges; the synth corpus carries the measurement, the declared
  * sweep carries the oracle).
  *
  * Tag isolation is exercised for real: both stores build in one
  * session under budget-embedding tags; each row's stats read ONLY its
  * own tables (BpeStoreSpec pins the no-cross-tag-reads contract on a
  * controlled corpus).
  *
  * Usage: runMain graft.tools.BpeSweep [synth:N|sfDir] [budgets,csv] [outFile]
  * Writes BPE_SWEEP.json (committed; summarized in SURVEY H4+'s row).
  */
object BpeSweep {

  def main(args: Array[String]): Unit = {
    val srcArg = if (args.length > 0) args(0) else "synth:2000"
    val budgets = (if (args.length > 1) args(1) else "10,500")
      .split(",").map(_.trim.toInt).toSeq
    val outFile = if (args.length > 2) args(2) else "BPE_SWEEP.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir =
      if (srcArg.startsWith("synth:"))
        BpeScale.synthCorpusFor(spark, srcArg.stripPrefix("synth:").toInt)
      else srcArg
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    def f6(d: Double) =
      String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    val rows = budgets.map { b =>
      val tag = BucketedTable.tag(s"$dir#sweep", s"bpe$b")
      val t0 = System.nanoTime()
      val (merges, segs) = BpeStore.buildOrLoad(spark, docs, tag,
        numMerges = b)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val nM = merges.count()
      val (w, ch, sy) = BpeStore.segStats(spark, tag)
      // corpus fertility under this store: tokens per word, weighted by
      // word frequency — sum(cnt*|syms|)/sum(cnt) off the stored map
      val f = segs.agg(
        (sum(col("cnt") * size(col("syms"))).cast("double") /
          sum(col("cnt"))).as("fert")).head().getDouble(0)
      System.err.println(f"[bpe-sweep] budget $b%4d learned $nM " +
        f"compression ${ch.toDouble / sy}%.4f fertility $f%.4f " +
        f"(${buildSec}%.1f s)")
      s"""{"merge_budget":$b,"merges_learned":$nM,"vocab_words":$w,""" +
        s""""chars_total":$ch,"syms_total":$sy,""" +
        s""""compression_x":${f6(ch.toDouble / sy)},""" +
        s""""fertility_tokens_per_word":${f6(f)},""" +
        s""""build_sec":${f6(buildSec)}}"""
    }
    val json = s"""{"corpus":"$srcArg","rows":[${rows.mkString(",")}]}"""
    Files.write(Paths.get(outFile),
      (json + "\n").getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
