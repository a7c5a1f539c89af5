package perfbench

import graft.app.Backfill
import graft.core.{Sinks, WarehouseLease}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Main.{Run, median, timed}

/** backfill_reads — closed loop, one driver then one client, over one
  * market warehouse. Set-up generates the page tree and lands it with one
  * `Backfill.run` into an empty warehouse (the initial backfill). A traced
  * run then appends one new trading day of pages to every series and runs
  * the incremental sweep. Every run sends a seeded sequence of research
  * requests (ResearchReads) against the warehouse: warm-up requests, two
  * per operator, then the measured ones.
  */
object Market {
  val Tickers = 6
  val InitialDays = 4
  val PageBars = 200
  /** Warm-up requests per operator before the measured ones. */
  val WarmupRounds = 2
  /** Nominal seconds one research request takes; sizes the request count. */
  private val RequestCostS = 1.2

  def silver(wh: String) = s"$wh/silver/bars"

  /** Every generated (series, t) is in silver exactly once. */
  def silverExact(spark: SparkSession, wh: String, rows: Long): Boolean = {
    val r = spark.read.parquet(silver(wh))
      .agg(count(lit(1)), countDistinct(col("ticker"), col("t"))).head()
    val ok = r.getLong(0) == rows && r.getLong(1) == rows
    if (!ok) System.err.println(s"[perfbench] silver holds ${r.getLong(0)} rows, " +
      s"${r.getLong(1)} distinct; generated $rows")
    ok
  }

  def fsckClean(spark: SparkSession, wh: String): Boolean =
    Backfill.fsck(spark, wh).filter(col("severity") === "error" &&
      col("violations") > 0).count() == 0

  def gold1dExact(spark: SparkSession, wh: String, series: Int, days: Int): Boolean =
    spark.read.parquet(s"$wh/gold/bars_1d").count() == series.toLong * days

  /** Median of `n` empty write-lease round trips on `wh`, in ms. */
  def leaseRoundtripMs(spark: SparkSession, wh: String, n: Int = 15): Double =
    median((0 until n).map(_ =>
      timed(WarehouseLease.withWriteLease(spark, wh)(()))._2 * 1000))

  /** Standalone source measurements over a page tree: a noop scan through
    * the polygon format (median of 3), pages in the tree, rows the scan
    * yields, and rows beyond distinct (series, t).
    */
  def sourceLayer(r: Run, pages: String): Unit = {
    val spark = r.spark
    def scan() = spark.read.format("polygon").option("path", pages).load()
    val scanS = median((0 until 3).map(_ =>
      timed(scan().write.format("noop").mode("overwrite").save())._2))
    val agg = scan().agg(count(lit(1)),
      countDistinct(col("ticker"), col("timespan"), col("multiplier"),
        col("adjusted"), col("t"))).head()
    val pageFiles = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(pages))
      try s.filter(p => p.getFileName.toString.matches("page-\\d+\\.json") &&
        !p.toString.contains("/_ref/")).count()
      finally s.close()
    }
    r.layer("sources.scan_s") = (scanS, "s")
    r.layer("sources.pages_read") = (pageFiles.toDouble, "count")
    r.layer("sources.rows_read") = (agg.getLong(0).toDouble, "count")
    r.layer("sources.dup_rows") = ((agg.getLong(0) - agg.getLong(1)).toDouble, "count")
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val t = r.trace
    // set-up: generate the initial tree (three times, median reported; the
    // last copy is used), then build the warehouse with the initial
    // backfill — once, since one build costs 10-25 s
    val tickers = r.size(Tickers, 2)
    val reps = (0 until 3).map(i => timed(Gen.marketTree(
      r.work.resolve(s"setup$i/pages"), r.seed, tickers, InitialDays, PageBars)))
    val tree = reps.last._1
    val pages = tree.root.toString
    val wh = r.work.resolve("wh").toString
    t.setActive(t.enabled)
    val (_, initialS) = timed(t.span("app", "Backfill.run")(Backfill.run(spark, pages, wh)))
    r.setupS = reps.map(_._2 + initialS)
    Main.log(f"setup: generation ${reps.map(_._2)}, initial backfill $initialS%.3f s")

    // incremental sweep, in a traced run only (one sweep is a single
    // 10-15 s sample, too few to bound): one new trading day on every
    // series
    var incrementalS = 0.0
    if (t.enabled) {
      tree.appendDay()
      r.op("incremental backfill sweep") {
        incrementalS = timed(t.span("app", "Backfill.run")(Backfill.run(spark, pages, wh)))._2
        spark.read.parquet(silver(wh)).count() == tree.rowsWritten
      }
    }
    t.setActive(false)
    val sweepS = initialS + incrementalS
    val silverFiles = Sinks.dataFileCount(spark, silver(wh)).toDouble

    // research requests: the seeded sequence, every other one traced in a
    // traced run
    def request(q: ResearchReads.Request, traced: Boolean) = {
      val ((ok, boxS, indS, files), s) = timed(t.span("app", "request") {
        val (box, boxS) = timed(t.span("core", "Backfill.readBarsBox")(
          Backfill.readBarsBox(spark, wh, Gen.ticker(q.k), q.tFrom, q.tTo)))
        val events = box.select(lit(q.k.toLong).as("user_id"),
          col("datetime").as("ts"), col("t").as("event_id"), col("c").as("value"))
        val (rows, indS) = timed(t.span("operators", "MarketOps." + q.op)(
          ResearchReads.indicator(spark, events, q.op).collect()))
        val files = if (traced) box.inputFiles.length else 0
        (ResearchReads.same(ResearchReads.answer(rows, q.op),
          ResearchReads.reference(r.seed, tree.days, q)), boxS, indS, files)
      })
      (ok, s, boxS, indS, files)
    }
    val n = r.size(math.max(8, math.round(r.seconds / RequestCostS).toInt), 2)
    val lat = Array.fill(n)(0.0)
    var rowsServed = 0L
    val box, ind, ratio = Seq.newBuilder[Double]
    // warm-up requests, each operator twice: the read path and each
    // operator's generated code run cold at first, and requests keep
    // getting faster over the first few of each kind; they are checked but
    // not timed
    val warmupOps = Seq.fill(r.size(WarmupRounds, 1))(ResearchReads.Ops).flatten
    ResearchReads.requests(r.seed, 1, warmupOps.size, tickers, tree.days)
      .zip(warmupOps).foreach { case (q, op) =>
        val w = q.copy(op = op)
        r.op(s"warm-up request $w") { request(w, traced = false)._1 }
      }
    val qs = ResearchReads.requests(r.seed, 0, n, tickers, tree.days)
    qs.zipWithIndex.foreach { case (q, i) =>
      val traced = r.traced(i)
      t.setActive(traced)
      r.op(s"request $i $q") {
        val (ok, s, boxS, indS, files) = request(q, traced)
        lat(i) = s * 1000
        rowsServed += ResearchReads.reference(r.seed, tree.days, q)._1
        if (traced) {
          r.tracedOps :+= s * 1000
          box += boxS * 1000; ind += indS * 1000; ratio += files / silverFiles
        } else r.untracedOps :+= s * 1000
        ok
      }
    }
    t.setActive(false)

    r.op("silver exactly once") { silverExact(spark, wh, tree.rowsWritten) }
    r.op("fsck clean") { fsckClean(spark, wh) }
    r.op("gold 1d = series x days") { gold1dExact(spark, wh, tickers, tree.days) }

    r.opMs = lat.toSeq
    r.rowsPerS = rowsServed / (lat.sum / 1000)
    r.named("backfill_initial_s") = (initialS, "s")
    if (t.enabled) r.named("backfill_incremental_s") = (incrementalS, "s")
    r.named("backfill_rows_per_s") = (tree.rowsWritten / sweepS, "1/s")
    r.named("read_p50_ms") = (median(lat.toSeq), "ms")
    r.named("read_rows_per_s") = (r.rowsPerS, "1/s")
    Main.tail(lat.toSeq).foreach { case (p, v) =>
      r.named("read_tail_ms") = (v, "ms")
      r.detail("read_tail_pct") = p.toString
    }
    r.detail("series") = tickers.toString
    r.detail("days") = tree.days.toString
    r.detail("rows") = tree.rowsWritten.toString
    r.detail("pages") = tree.pagesWritten.toString
    r.detail("requests") = n.toString
    r.detail("rows_served") = rowsServed.toString
    r.detail("silver_files") = silverFiles.toLong.toString

    if (t.enabled) {
      t.drain()
      // both sweeps are traced; per-sweep means
      r.layer("sinks.silver_append_s") = (t.get("sinks.silver_write_s") / 2, "s")
      r.layer("sinks.compact_s") = (t.get("sinks.compact_write_s") / 2, "s")
      r.layer("layout.index_update_s") = (t.get("layout.index_write_s") / 2, "s")
      r.layer("market.gold_ladder_s") = (t.get("market.gold_write_s") / 2, "s")
      r.layer("sinks.bytes_written") =
        (t.get("sinks.silver_write_bytes") / tree.rowsWritten, "B/row")
      r.layer("sinks.files_after") = (silverFiles, "count")
      r.layer("layout.box_open_ms") = (median(box.result()), "ms")
      r.layer("market.indicator_ms") = (median(ind.result()), "ms")
      val rs = ratio.result()
      r.layer("layout.files_selected_ratio") = (rs.sum / rs.size, "ratio")
      t.engineMetrics(2 + r.tracedOps.size, sweepS + r.tracedOps.sum / 1000)
        .foreach { case (k, v, u) => r.layer(k) = (v, u) }
      r.layer("lease.roundtrip_ms") = (leaseRoundtripMs(spark, wh), "ms")
      sourceLayer(r, pages)
    }
  }
}
