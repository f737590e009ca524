package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The shared stored-table lifecycle, tested directly on a synthetic
  * table: the clustered fresh write, the id-keyed delete skeleton
  * (layout kept, no-op on no match, ledger written before the rewrite)
  * and the re-level policy.
  */
class BucketedTableSpec extends SparkSpec {
  import BucketedTable.{Ledger, Table}

  private val nb = 8

  private def fresh(role: String, mirror: Option[String] = Some("pk")) = {
    val name = BucketedTable.tag(s"/tmp/btspec${System.nanoTime()}", role)
    (Table(name, Seq("k"), Seq("id", "k", "n"), mirror),
      Ledger(s"${name}_touched", new StructType().add("k", LongType)))
  }

  /** 1000 rows over 50 keys, `n` = the key's population, spread over 7
    * input partitions so an unclustered write would fragment.
    */
  private def source: DataFrame =
    BandIndex.withKeyCount(spark.range(0, 1000, 1, 7)
      .select(col("id"), (col("id") % 50).as("k")), Seq("k"), "n")

  private def files(t: Table): Seq[String] =
    spark.table(t.name).inputFiles.toSeq.sorted

  private def modTimes(paths: Seq[String]): Seq[Long] = paths.map { p =>
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(path).getModificationTime
  }

  private def spec(t: Table) = {
    val m = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t.name))
    (m.bucketSpec, m.partitionColumnNames)
  }

  private def drop(t: Table, l: Ledger): Unit =
    Seq(t.name, l.name).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))

  test("a fresh write leaves exactly one file per bucket") {
    for (mirror <- Seq(None, Some("pk"))) {
      val (t, l) = fresh("files", mirror)
      BucketedTable.write(source, t, nb)
      assert(files(t).size == nb, files(t).mkString("\n"))
      assert(spark.table(t.name).count() == 1000L)
      drop(t, l)
    }
  }

  test("a survivor rewrite keeps the bucket count, bucket and sort " +
    "columns, and the partition column") {
    val (t, l) = fresh("keep")
    BucketedTable.write(source, t, nb)
    val before = spec(t)
    assert(before._1.map(_.numBuckets).contains(nb) &&
      before._1.map(_.bucketColumnNames).contains(Seq("k")) &&
      before._1.map(_.sortColumnNames).contains(Seq("k")) &&
      before._2 == Seq("pk"))
    val removed = BucketedTable.deleteKeyed(spark,
      spark.range(0, 100).toDF("id"), "id", Seq(t))
    assert(removed == Seq(100L))
    assert(spec(t) == before)
    assert(spark.table(t.name).count() == 900L)
    assert(spark.table(t.name).filter(col("id") < 100).isEmpty)
    assert(spark.table(t.name).columns.toSeq == Seq("id", "k", "n", "pk"))
    drop(t, l)
  }

  test("a delete that matches no ids returns 0 and leaves the files " +
    "untouched") {
    val (t, l) = fresh("noop")
    BucketedTable.write(source, t, nb)
    val (before, times) = (files(t), modTimes(files(t)))
    val removed = BucketedTable.deleteKeyed(spark,
      spark.range(5000, 5010).toDF("id"), "id", Seq(t),
      gate = Some(t.name), ledger = Some(l))
    assert(removed == Seq(0L))
    assert(files(t) == before && modTimes(files(t)) == times)
    assert(spark.catalog.tableExists(t.name), "the gate is not dropped")
    assert(!spark.catalog.tableExists(l.name), "nothing recorded")
    drop(t, l)
  }

  test("a failure after the ledger write but before the rewrite leaves " +
    "the deleted keys in the ledger") {
    val (t, l) = fresh("crash")
    BucketedTable.write(source, t, nb)
    l.ensure(spark)
    val before = files(t)
    val err = intercept[IllegalStateException] {
      BucketedTable.deleteKeyed(spark, spark.range(0, 3).toDF("id"), "id",
        Seq(t), ledger = Some(l),
        reconcile = Some(_ => throw new IllegalStateException("injected")))
    }
    assert(err.getMessage == "injected")
    // ids 0, 1, 2 carry keys 0, 1, 2
    assert(spark.table(l.name).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L))
    assert(files(t) == before && spark.table(t.name).count() == 1000L,
      "the table is untouched")
    drop(t, l)
  }

  test("relevel takes the partial path below full cover and the full " +
    "path at full cover") {
    val (t, l) = fresh("relevel")
    BucketedTable.write(source, t, nb)
    import spark.implicits._
    val stage = (scan: DataFrame) => BandIndex.withKeyCount(
      scan.select(col("id"), col("k")), Seq("k"), "n")
    // delete key 7's rows except one: its n goes stale at 20
    BucketedTable.deleteKeyed(spark,
      spark.range(0, 1000).filter(col("id") % 50 === 7 && col("id") > 7)
        .toDF("id"), "id", Seq(t), ledger = Some(l))
    val untouched = files(t).filterNot(_.contains(s"pk=${
      spark.table(t.name).filter(col("k") === 7).select("pk").as[Int]
        .head()}/"))
    val untouchedTimes = modTimes(untouched)
    var fullRan = false
    val (path, f, parts) = BucketedTable.relevel(spark, l, t)(
      BucketedTable.relevelPartitions(spark, t, l, stage), { fullRan = true })
    assert(path == "partial" && f == 1.0 / nb && parts == 1L && !fullRan)
    assert(spark.table(t.name).filter(col("k") === 7).select("n").as[Long]
      .collect().toSeq == Seq(1L), "the stale count is exact again")
    assert(modTimes(untouched) == untouchedTimes,
      "untouched partitions are not rewritten")
    assert(spark.table(l.name).isEmpty, "the partial path clears the ledger")
    // every key touched: every partition covered
    l.record(spark, spark.range(0, 50).toDF("k"))
    var partialRan = false
    val (path2, f2, parts2) = BucketedTable.relevel(spark, l, t)(
      { partialRan = true; 0L }, ())
    assert(path2 == "full" && f2 == 1.0 && parts2 == nb.toLong && !partialRan)
    drop(t, l)
  }
}
