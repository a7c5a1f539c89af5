package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.app.LiveIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import Main.{Run, median, timed}

/** live_tail — open loop at a fixed rate. A generator thread publishes one
  * page per series every `PeriodMs` by atomic rename while
  * `LiveIngest.start` tails the tree with a ProcessingTime trigger. A
  * page's lag runs from when it was due until the first micro-batch whose
  * end offset covers it commits, so a stall also delays every page queued
  * behind it.
  */
object LiveTail {
  val Series = 64
  val PeriodMs = 1000L
  /** Longer than a warm micro-batch (about 1 s), so the stream is not
    * saturated and a page's lag is its wait for the next trigger plus one
    * batch.
    */
  val TriggerMs = 1500L
  /** A page's wait for the next trigger depends on its due time modulo
    * `TriggerMs`, and that pattern repeats every `CycleMs` (the least
    * common multiple of period and trigger). A ProcessingTime trigger
    * fires on multiples of its interval since the epoch, so the schedule
    * starts on such a multiple and measures whole cycles: every run sees
    * the same mix of waits, and the lag moves only with the batches.
    */
  val CycleMs = 3000L
  val PagesPerCycle = (CycleMs / PeriodMs).toInt
  /** Cycles before the measured ones: the first micro-batches run cold
    * code and take several times as long as later ones.
    */
  val WarmupCycles = 4

  /** One committed micro-batch: end time (epoch ms), end offset per
    * series, and its progress figures.
    */
  final case class Batch(endMs: Long, pages: Map[String, Int],
                         durations: Map[String, Long], rows: Long,
                         stateRows: Long)

  private val OffsetEntry = "\"([^\"]+)\":(\\d+)".r

  def run(r: Run): Unit = {
    val spark = r.spark
    // set-up: publish page 0 of every series (three times, median
    // reported); the stream discovers its series from the last tree
    val series = r.size(Series, 4)
    val warmupPages = PagesPerCycle * r.size(WarmupCycles, 1)
    val reps = (0 until 3).map { i =>
      timed {
        val t = new Gen.LiveTree(r.work.resolve(s"setup$i/pages"), r.seed, series)
        t.publishPage(0)
        t
      }
    }
    r.setupS = reps.map(_._2)
    val tree = reps.last._1
    val wh = r.work.resolve("wh").toString
    val measured = PagesPerCycle *
      r.size(math.max(2, math.ceil(r.seconds * 1000.0 / CycleMs).toInt), 1)
    val lastPage = warmupPages + measured

    val batches = new ConcurrentLinkedQueue[Batch]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0 || p.sources.exists(s => s.startOffset != s.endOffset)) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
            d.getOrElse("triggerExecution", 0L)
          val pages = p.sources.headOption.map(s => OffsetEntry.findAllMatchIn(s.endOffset)
            .map(m => m.group(1) -> m.group(2).toInt).toMap).getOrElse(Map.empty)
          batches.add(Batch(end, pages, d, p.numInputRows,
            p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)))
        }
      }
    }
    spark.streams.addListener(listener)
    val q = LiveIngest.start(spark, tree.root.toString, wh,
      Trigger.ProcessingTime(TriggerMs))

    // open-loop generator: page p of series s is due at
    // start + (p - 1) * period + s * period / series — the series publish
    // staggered across the period, as independent feeds do — whatever the
    // stream is doing; start is the first trigger time at least one
    // interval away, so the first batch over page 0 has started
    val start = (System.currentTimeMillis() / TriggerMs + 2) * TriggerMs
    def dueMs(s: Int, p: Int): Long =
      start + (p - 1) * PeriodMs + s * PeriodMs / series
    val lateMs = Array.ofDim[Double](series, lastPage + 1)
    // whole cycles alternate untraced, traced, ... in a traced run, so both
    // sides see the same mix of waits
    val tracedPage = (p: Int) => r.trace.enabled && ((p - 1) / PagesPerCycle) % 2 == 1
    val gen = new Thread(() => {
      for (p <- 1 to lastPage; s <- 0 until series) {
        val wait = dueMs(s, p) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (s == 0) r.trace.setActive(tracedPage(p) && p > warmupPages)
        tree.publish(s, p)
        lateMs(s)(p) = (System.currentTimeMillis() - dueMs(s, p)).toDouble
      }
    }, "perfbench-live-generator")
    gen.start()
    gen.join()
    val keys = (0 until series).map(s => s"${tree.ticker(s)}|second|1|adjusted")
    // drain: wait until a batch covers every page of every series
    val drainDeadline = System.currentTimeMillis() + 60000
    def drained = batches.asScala.exists(b => keys.forall(k => b.pages.getOrElse(k, 0) > lastPage))
    while (!drained && System.currentTimeMillis() < drainDeadline) Thread.sleep(50)
    r.trace.setActive(false)
    q.stop()
    spark.streams.removeListener(listener)

    val bs = batches.asScala.toSeq.sortBy(_.endMs)
    // per-page lag: due time to the end of the first batch whose end offset
    // covers page p of series s
    val measuredPages = (warmupPages + 1) to lastPage
    val commits = Seq.newBuilder[(Int, Int, Long)] // (series, page, commit ms)
    var missing = 0
    for ((k, s) <- keys.zipWithIndex; p <- measuredPages) {
      bs.find(_.pages.getOrElse(k, 0) > p) match {
        case Some(b) => commits += ((s, p, b.endMs))
        case None => missing += 1
      }
    }
    val committed = commits.result()
    val lag = committed.map { case (s, p, c) => (p, (c - dueMs(s, p)).toDouble) }
    r.attempted += lag.size + missing
    r.failed += missing
    if (missing > 0) System.err.println(s"[perfbench] $missing pages never committed")
    r.op("every bar in silver/bars_live exactly once") {
      val agg = spark.read.parquet(s"$wh/silver/bars_live")
        .agg(count(lit(1)), countDistinct(col("ticker"), col("t"))).head()
      val want = tree.rows(lastPage + 1)
      val ok = agg.getLong(0) == want && agg.getLong(1) == want
      if (!ok) System.err.println(s"[perfbench] bars_live holds ${agg.getLong(0)} rows, " +
        s"${agg.getLong(1)} distinct; generated $want")
      ok
    }

    val lagMs = lag.map(_._2)
    val firstDue = dueMs(0, measuredPages.head)
    val lastDue = dueMs(series - 1, lastPage)
    val window = bs.filter(b => b.endMs >= firstDue)
    // rows delivered per second: the measured pages' rows over the time
    // from the first one falling due to the last one committing
    val delivered =
      if (committed.isEmpty) 0.0
      else tree.barsPerPage.toDouble * committed.size /
        (committed.map(_._3).max - firstDue) * 1000
    // backlog: pages due but not yet committed, averaged over the measured
    // schedule (sampled every 50 ms)
    val samples = firstDue to lastDue by 50L
    val backlog = samples.map(at => committed.count { case (s, p, c) =>
      dueMs(s, p) <= at && c > at } + missing).sum.toDouble / samples.size
    r.opMs = lagMs
    r.rowsPerS = delivered
    if (r.trace.enabled) {
      r.tracedOps = lag.filter(x => tracedPage(x._1)).map(_._2)
      r.untracedOps = lag.filterNot(x => tracedPage(x._1)).map(_._2)
    }
    r.named("live_lag_p50_ms") = (median(lagMs), "ms")
    Main.tail(lagMs).foreach { case (p, v) =>
      r.named("live_lag_tail_ms") = (v, "ms")
      r.detail("live_lag_tail_pct") = p.toString
    }
    r.named("live_rows_per_s") = (delivered, "1/s")
    r.named("live_backlog_pages") = (backlog, "count")
    r.detail("offered_rows_per_s") = (series * tree.barsPerPage * 1000.0 / PeriodMs).toString
    r.detail("pages_measured") = lag.size.toString
    val late = lateMs.toSeq.flatMap(_.toSeq.drop(1))
    r.detail("generator_late_p50_ms") = median(late).toString
    r.detail("generator_late_max_ms") = late.max.toString
    r.detail("batches") = window.size.toString
    r.detail("batch_ms") =
      window.map(_.durations.getOrElse("triggerExecution", 0L)).mkString(",")

    if (r.trace.enabled) {
      def dur(k: String) = window.map(_.durations.getOrElse(k, 0L).toDouble)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      r.layer("stream.batch_ms_p50") = (median(dur("triggerExecution")), "ms")
      r.layer("stream.add_batch_ms") = (mean(dur("addBatch")), "ms")
      r.layer("stream.query_planning_ms") = (mean(dur("queryPlanning")), "ms")
      r.layer("stream.wal_commit_ms") = (mean(dur("walCommit")), "ms")
      r.layer("stream.latest_offset_ms") = (mean(dur("latestOffset")), "ms")
      r.layer("stream.rows_per_batch") = (mean(window.map(_.rows.toDouble)), "count")
      r.layer("stream.state_rows") = (mean(window.map(_.stateRows.toDouble)), "count")
      val tracedWall = r.tracedOps.size.toDouble / series * PeriodMs / 1000
      r.trace.engineMetrics(math.max(1, r.tracedOps.size / series), tracedWall)
        .foreach { case (k, v, u) => r.layer(k) = (v, u) }
    }
  }
}
