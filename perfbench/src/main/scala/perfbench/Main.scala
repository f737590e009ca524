package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark harness. One JVM runs one workload: it sets up once on
  * a fresh session over a fresh warehouse, runs an untimed warm-up round
  * and then timed rounds, at least `--rounds` rounds in all and for at
  * least the given number of seconds,
  * checks every operation's output, and writes its raw samples as JSON
  * for `run.py` to reduce.
  *
  *   Main --workload W --data DIR --run-dir DIR --seconds N --trace 0|1
  *        --cores N --out FILE --rounds N --passes N --micro-batches N
  *        [--plant throw,wrong]
  *
  * An operation that throws or fails its check is recorded as failed
  * and never enters a timing.
  */
object Main {
  final case class Args(workload: String, data: String, runDir: String,
                        seconds: Int, trace: Boolean, cores: Int,
                        out: String, rounds: Int, passes: Int,
                        microBatches: Int, plant: Set[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Args(m("--workload"), m("--data"), m("--run-dir"), m("--seconds").toInt,
      m("--trace") == "1", m("--cores").toInt, m("--out"),
      m("--rounds").toInt, m("--passes").toInt, m("--micro-batches").toInt,
      m.get("--plant").map(_.split(",").filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val rec = new Record
    val w: Workload = args.workload match {
      case "migrate" => new MigrateWorkload(args, rec)
      case "lifecycle" => new LifecycleWorkload(args, rec)
      case other => sys.error(s"unknown workload $other")
    }
    w.run()
    rec.write(Paths.get(args.out))
  }
}

/** One timed operation's sample. */
final case class Op(round: Int, kind: String, name: String, seconds: Double,
                    ok: Boolean, error: String)

/** Raw samples of one run. */
final class Record {
  val setup = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val spans = mutable.ArrayBuffer.empty[String]

  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def write(p: Path): Unit = {
    val opsJ = ops.map(o =>
      s"""{"round":${o.round},"kind":${q(o.kind)},"name":${q(o.name)},""" +
        s""""s":${num(o.seconds)},"ok":${o.ok},"error":${q(o.error)}}""")
    val layJ = layers.map { case (k, (v, u)) =>
      s"""${q(k)}:{"value":${num(v)},"unit":${q(u)}}""" }
    val infoJ = info.map { case (k, v) => s"${q(k)}:$v" }
    Files.writeString(p,
      s"""{"setup_s":${setup.map(num).mkString("[", ",", "]")},""" +
        s""""ops":${opsJ.mkString("[", ",\n", "]")},""" +
        s""""layers":${layJ.mkString("{", ",\n", "}")},""" +
        s""""info":${infoJ.mkString("{", ",", "}")},""" +
        s""""spans":${spans.mkString("[", ",\n", "]")}}""" + "\n")
  }
  def str(s: String): String = q(s)
}

/** Shared machinery: sessions, timing, checks, the ledger and
  * per-layer reduction. */
abstract class Workload(val args: Main.Args, val rec: Record) {
  var spark: SparkSession = _
  var ledger: Ledger = _
  def warehouse: String = s"${args.runDir}/warehouse"

  /** A fresh session over a fresh, empty warehouse. */
  def freshSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", s"${args.runDir}/local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ledger = new Ledger(spark, args.trace)
  }

  def now(): Long = System.nanoTime()

  /** Run one timed operation; a throw is recorded as a failure. The
    * check runs after the clock stops. */
  def op[T](round: Int, kind: String, name: String)(f: => T)(
      check: T => Option[String]): Boolean = {
    val t0 = now()
    val r = try Right(f) catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val secs = (now() - t0) / 1e9
    val err = r match {
      case Left(e) => Some(e)
      case Right(v) =>
        try check(v) catch {
          case e: Exception => Some(s"check threw ${e.getMessage}")
        }
    }
    rec.ops += Op(round, kind, name, secs, err.isEmpty, err.getOrElse(""))
    if (err.nonEmpty) System.err.println(s"[perfbench] FAILED $kind $name: ${err.get}")
    err.isEmpty
  }

  def setup(): Unit
  def round(r: Int): Unit
  /** Rounds available (lifecycle has a finite batch supply). */
  def maxRounds: Int = Int.MaxValue
  /** Rounds run whatever the time: the warm-up round and the timed
    * rounds every run measures. */
  def minRounds: Int = args.rounds
  /** Per-layer metrics that are not span sums (files, caches). */
  def extraLayers(): Unit = ()
  /** Bytes the workload stored, for stored_bytes_ratio; each workload
    * measures it at a point its seed fixes, never at the end of a
    * time-bounded loop. */
  var stored = 0L

  def run(): Unit = {
    val h0 = Telemetry.hostBusy(); val s0 = Telemetry.selfTicks()
    val w0 = now()
    // one cold set-up: a run's time budget holds no second one
    freshSession()
    ledger.startRound(-1)
    setup()
    rec.setup += (now() - w0) / 1e9
    val deadline = now() + args.seconds * 1000000000L
    var r = 0
    while (r < maxRounds && (r < minRounds || now() < deadline)) {
      ledger.drain()
      // every round starts on a collected heap, so no round inherits
      // another's garbage (or a full collection it would pay for)
      System.gc()
      ledger.startRound(r)
      round(r)
      r += 1
    }
    ledger.drain()
    val wall = (now() - w0) / 1e9
    rec.info("rounds") = r.toString
    rec.info("stored_bytes") = stored.toString
    rec.info("cores") = args.cores.toString
    rec.info("ext_load_cores") = f"${Telemetry.extLoad(h0, s0, wall)}%.3f"
    rec.info("peak_rss_kb") = Telemetry.vmHwmKb().toString
    if (args.trace) reduceTrace(r)
    spark.stop()
  }

  // ---- per-layer reduction (traced runs) ----

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Per-round medians over the timed rounds (round >= 1: round 0 pays
    * first-touch costs), or the setup's value for setup-only spans. */
  def perRound(rounds: Int)(f: Int => Double): Double = {
    val steady = (1 until rounds).map(f)
    if (steady.nonEmpty) median(steady) else f(0)
  }

  def spanSeconds(r: Int, name: String, subject: String = null): Double =
    ledger.spans.filter(s => s.round == r && s.name == name &&
      (subject == null || s.subject == subject)).map(_.seconds).sum

  def spanJobs(r: Int, name: String, subject: String = null): Double =
    ledger.spans.filter(s => s.round == r && s.name == name &&
      (subject == null || s.subject == subject))
      .map(ledger.spanCounts(_).jobs.toDouble).sum

  def spanTasks(r: Int, name: String, subject: String): Double =
    ledger.spans.filter(s => s.round == r && s.name == name &&
      s.subject == subject).map(ledger.spanCounts(_).tasks.toDouble).sum

  private def reduceTrace(rounds: Int): Unit = {
    val pr = perRound(rounds) _
    for (ph <- Seq("reflect", "profile", "migrate_table", "fk", "layout")) {
      rec.layer(s"etl.${ph}_s", pr(spanSeconds(_, s"etl.$ph")), "s")
      rec.layer(s"etl.${ph}_jobs", pr(spanJobs(_, s"etl.$ph")), "count")
    }
    rec.layer("ops.query.construct_s", pr(spanSeconds(_, "ops.query.construct")), "s")
    rec.layer("ops.query.action_s", pr(spanSeconds(_, "ops.query.action")), "s")
    rec.layer("ops.SharedCaches.release_s",
      pr(spanSeconds(_, "ops.SharedCaches.release")), "s")
    rec.layer("cache.blocks_stored",
      pr(r => ledger.blocksStored.getOrElse(r, 0L).toDouble), "count")
    rec.layer("cache.bytes_stored",
      pr(r => ledger.bytesStored.getOrElse(r, 0L).toDouble), "bytes")
    for (q <- Workload.CountedQueries) {
      rec.layer(s"ops.query.$q.jobs", pr(r =>
        spanJobs(r, "ops.query.construct", q) +
          spanJobs(r, "ops.query.action", q)), "count")
      rec.layer(s"ops.query.$q.tasks", pr(r =>
        spanTasks(r, "ops.query.construct", q) +
          spanTasks(r, "ops.query.action", q)), "count")
    }
    // builds happen once, in set-up (round -1)
    for (f <- Workload.Families) {
      rec.layer(s"ops.store.$f.build_s", spanSeconds(-1, s"ops.store.$f.build"), "s")
      rec.layer(s"ops.store.$f.build_jobs", spanJobs(-1, s"ops.store.$f.build"), "count")
      for (v <- Seq("append", "delete")) {
        rec.layer(s"ops.store.$f.${v}_s", pr(spanSeconds(_, s"ops.store.$f.$v")), "s")
        rec.layer(s"ops.store.$f.${v}_jobs", pr(spanJobs(_, s"ops.store.$f.$v")), "count")
      }
    }
    for (f <- Workload.RelevelFamilies)
      rec.layer(s"ops.store.$f.relevel_s",
        pr(spanSeconds(_, s"ops.store.$f.relevel")), "s")
    for (p <- Seq("bm25"))
      rec.layer(s"streaming.${p}_s", pr(spanSeconds(_, s"streaming.$p")), "s")
    rec.layer("catalog.ddl_ops", pr(ledger.roundCounts(_).ddlOps.toDouble), "count")
    rec.layer("catalog.ddl_s", pr(ledger.roundCounts(_).ddlNs / 1e9), "s")
    val rc = ledger.roundCounts _
    rec.layer("spark.jobs", pr(rc(_).jobs.toDouble), "count")
    rec.layer("spark.tasks", pr(rc(_).tasks.toDouble), "count")
    rec.layer("spark.executor_cpu_s", pr(rc(_).cpuNs / 1e9), "s")
    rec.layer("spark.gc_s", pr(rc(_).gcMs / 1e3), "s")
    rec.layer("spark.input_bytes", pr(rc(_).inBytes.toDouble), "bytes")
    rec.layer("spark.output_bytes", pr(rc(_).outBytes.toDouble), "bytes")
    rec.layer("spark.shuffle_bytes", pr(rc(_).shuffleBytes.toDouble), "bytes")
    // records, unlike compressed bytes, do not depend on row order
    rec.layer("spark.shuffle_records", pr(rc(_).shuffleRecords.toDouble), "count")
    rec.layer("spark.spill_bytes", pr(rc(_).spillBytes.toDouble), "bytes")
    rec.layer("spark.driver_gap_s", pr(ledger.driverGapSeconds), "s")
    for (f <- Workload.Families) rec.layer(s"ops.store.$f.files", 0.0, "count")
    extraLayers()
    rec.spans ++= ledger.spans.map(s =>
      s"""{"id":${s.id},"name":${rec.str(s.name)},"subject":${rec.str(s.subject)},""" +
        s""""parent":${s.parent},"round":${s.round},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"jobs":${ledger.spanCounts(s).jobs}}""")
  }

  // ---- helpers ----

  def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).getOrElse(Array.empty)
      .map(c => dirBytes(c.getPath)).sum
  }

  /** Data files of a stored table under the current warehouse. */
  def tableFiles(table: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
      else Option(f.listFiles).getOrElse(Array.empty).map(walk).sum
    walk(new java.io.File(s"$warehouse/$table"))
  }

  def rowsHash(rows: Array[org.apache.spark.sql.Row]): Int =
    rows.map(_.toString).sorted.toSeq.hashCode
}

object Workload {
  /** The stored families the lifecycle workload maintains. */
  val Families = Seq("LexIndex", "ChunkStore")
  val RelevelFamilies = Seq("LexIndex")
  /** Queries whose jobs and tasks per execution the ledger reports:
    * q_doc_dedup consumes the shared minhash cache family, and its jobs
    * per query is the count a dispatch-trimming change moves. */
  val CountedQueries = Seq("q_doc_dedup")

  /** Self-test only: the answer a planted wrong query is checked
    * against. */
  val PlantedOracle = Map("planted_wrong" -> "SELECT range AS id FROM range(2)")

  /** The declared queries served over the migrated corpus. */
  val ServeMix: Seq[String] = CountedQueries

  /** Table-name suffix of each stored family, from the families' own
    * `tables` lists. */
  private def suffixes: Seq[(String, String)] = {
    val t = "x"
    Seq("LexIndex" -> graft.ops.LexIndex.tables(t),
      "ChunkStore" -> graft.ops.ChunkStore.tables(t))
      .flatMap { case (f, ts) => ts.map(n => f -> n.stripPrefix(t)) }
  }

  /** Data files per family in the current warehouse listing. */
  def familyFiles(w: Workload): Map[String, Long] = {
    val dirs = Option(new java.io.File(w.warehouse).listFiles)
      .getOrElse(Array.empty).map(_.getName)
    Families.map { f =>
      f -> dirs.filter(d => suffixes.exists { case (g, sfx) =>
        g == f && d.endsWith(sfx) }).map(w.tableFiles).sum
    }.toMap
  }
}

object Telemetry {
  private val Hz = 100.0
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)))

  /** Whole-host busy ticks: every /proc/stat cpu column but idle and
    * iowait. */
  def hostBusy(): Long = {
    val cols = read("/proc/stat").linesIterator.next().trim.split("\\s+")
      .drop(1).map(_.toLong)
    cols.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
  }

  def selfTicks(): Long = {
    val s = read("/proc/self/stat")
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong
  }

  /** Cores' worth of CPU other processes used over `wall` seconds. */
  def extLoad(h0: Long, s0: Long, wall: Double): Double =
    math.max(0L, (hostBusy() - h0) - (selfTicks() - s0)) / (wall * Hz)

  def vmHwmKb(): Long =
    read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(0L)
}
