package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog._
import scala.collection.mutable

/** One timed call into the program: a name (the layer metric it feeds,
  * e.g. `etl.migrate_table` or `ops.store.BandIndex.append`), an
  * optional subject (the query or table), start and end in nanoseconds,
  * and the span that caused it.
  */
final class Span(val id: Int, val name: String, val subject: String,
                 val parent: Int, val round: Int) {
  val start: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var end: Long = -1L
  var endMs: Long = -1L
  def seconds: Double = (end - start) / 1e9
}

/** Spark counts attributed to one span. */
final class Counts {
  var jobs, tasks, ddlOps = 0L
  var cpuNs, gcMs, inBytes, outBytes, shuffleBytes, spillBytes = 0L
  var shuffleRecords = 0L
  var ddlNs = 0L
}

/** The traced run's record: spans kept in memory and written out at the
  * end, plus the listeners that attribute Spark jobs, tasks and catalog
  * DDL to them.
  *
  * Attribution rule: every job carries the `perfbench.span` local
  * property of the thread that submitted it. Threads the program starts
  * inherit it from the harness thread, so jobs run by the program's
  * own pools count against the span that caused them. A job submitted
  * with no span (none is open) counts only in the per-round totals.
  *
  * With tracing off, [[span]] is a plain call: no listener is
  * registered and nothing is recorded.
  */
final class Ledger(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile var round: Int = -1
  @volatile private var current: Int = -1

  val bySpan = mutable.HashMap.empty[Int, Counts]
  val byRound = mutable.HashMap.empty[Int, Counts]
  /** (round, job start ms, job end ms) — for driver_gap_s. */
  val jobIntervals = mutable.HashMap.empty[Int, (Int, Long, Long)]
  val blocksStored = mutable.HashMap.empty[Int, Long]
  val bytesStored = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Int)]

  private def counts(m: mutable.HashMap[Int, Counts], k: Int) =
    m.getOrElseUpdate(k, new Counts)

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Ledger.this.synchronized {
      val sp = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Ledger.SpanKey))).map(_.toInt).getOrElse(-1)
      val rd = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Ledger.RoundKey))).map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = (sp, rd)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobIntervals(e.jobId) = (rd, e.time, -1L)
      if (sp >= 0) counts(bySpan, sp).jobs += 1
      counts(byRound, rd).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Ledger.this.synchronized {
      jobIntervals.get(e.jobId).foreach { case (rd, t0, _) =>
        jobIntervals(e.jobId) = (rd, t0, e.time)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Ledger.this.synchronized {
      val (sp, rd) = stageJob.get(e.stageId).flatMap(jobSpan.get)
        .getOrElse((-1, -1))
      val targets = (if (sp >= 0) Seq(counts(bySpan, sp)) else Nil) :+
        counts(byRound, rd)
      val m = e.taskMetrics
      targets.foreach { c =>
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inBytes += m.inputMetrics.bytesRead
          c.outBytes += m.outputMetrics.bytesWritten
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Ledger.this.synchronized {
        val i = e.blockUpdatedInfo
        if (i.blockId.isRDD && i.storageLevel.isValid) {
          blocksStored(round) = blocksStored.getOrElse(round, 0L) + 1
          bytesStored(round) = bytesStored.getOrElse(round, 0L) +
            i.memSize + i.diskSize
        }
      }
  }

  /** Catalog DDL is posted synchronously on the calling thread as a
    * pre-event / post-event pair; the pair's distance is the DDL time. */
  private object catalogListener extends ExternalCatalogEventListener {
    private val pre = new ThreadLocal[List[Long]] {
      override def initialValue(): List[Long] = Nil
    }
    private def isPre(e: ExternalCatalogEvent): Boolean =
      e.getClass.getSimpleName.endsWith("PreEvent")
    override def onEvent(e: ExternalCatalogEvent): Unit =
      if (isPre(e)) pre.set(System.nanoTime() :: pre.get())
      else pre.get() match {
        case t0 :: rest =>
          pre.set(rest)
          val dt = System.nanoTime() - t0
          Ledger.this.synchronized {
            Seq(current).filter(_ >= 0).map(counts(bySpan, _))
              .:+(counts(byRound, round)).foreach { c =>
                c.ddlOps += 1
                c.ddlNs += dt
              }
          }
        case Nil => ()
      }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.sharedState.externalCatalog.addListener(catalogListener)
  }

  def startRound(r: Int): Unit = {
    round = r
    if (enabled) sc.setLocalProperty(Ledger.RoundKey, r.toString)
  }

  /** Time `f` as a span named `name`; with tracing on, its jobs carry
    * the span id and a job group of the same name. */
  def span[T](name: String, subject: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, name, subject, parent, round)
      spans += s
      stack = s :: stack
      current = s.id
      sc.setLocalProperty(Ledger.SpanKey, s.id.toString)
      sc.setJobGroup(s"perfbench-${s.id}", s"$name $subject".trim,
        interruptOnCancel = false)
      try f
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        current = stack.headOption.map(_.id).getOrElse(-1)
        sc.setLocalProperty(Ledger.SpanKey,
          stack.headOption.map(_.id.toString).orNull)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-${p.id}",
            s"${p.name} ${p.subject}".trim, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Block until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def spanCounts(s: Span): Counts = synchronized(counts(bySpan, s.id))
  def roundCounts(r: Int): Counts = synchronized(counts(byRound, r))

  /** Span time of round `r`'s top-level spans not covered by any job
    * of that round: the driver-side share (planning, dispatch, result
    * handling, catalog work between jobs). */
  def driverGapSeconds(r: Int): Double = synchronized {
    val tops = spans.filter(s => s.round == r && s.parent < 0)
    val jobs = jobIntervals.values.collect {
      case (rd, a, b) if rd == r && b >= a => (a, b)
    }.toSeq.sortBy(_._1)
    // union of job intervals, in ms
    val merged = jobs.foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, b0 max b) :: rest
      case (acc, iv) => iv :: acc
    }
    tops.map { s =>
      val (wa, wb) = (s.startMs, s.endMs)
      val covered = merged.map { case (x, y) =>
        math.max(0L, math.min(y, wb) - math.max(x, wa))
      }.sum
      math.max(0L, (wb - wa) - covered) / 1000.0
    }.sum
  }
}

object Ledger {
  val SpanKey = "perfbench.span"
  val RoundKey = "perfbench.round"
}
