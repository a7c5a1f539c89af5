package graft.app

import graft.core.Sinks
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Batch backfill driver — the E2 sweep of the reference
  * (polygon-etl-container/src/main.py traced in SURVEY.md §3-E2) as one
  * lineage graph: polygon source scan → keyed dedup → silver bars
  * partitioned by (ticker, adjusted) → 5-minute OHLC resample → gold.
  * The reference's per-ticker driver loop is the source's partition planning;
  * its drop_duplicates is the keyed dropDuplicates; its CSV landing is
  * partitioned parquet.
  *
  * Usage: runMain graft.app.Backfill <pagesDir> <warehouseDir> [asOfTs]
  * With asOfTs ("yyyy-mm-dd hh:mm:ss"), runs a forensic REPLAY: the bar
  * sweep is restricted by the tickers dimension as it was KNOWN at that
  * instant (Sinks.snapshotAsOf over dims/tickers_history — the reference's
  * "stale" live-data reads, README.md:8) and dimensions are not refreshed.
  */
object Backfill {
  def main(args: Array[String]): Unit = {
    val Array(pagesDir, warehouse) = args.take(2)
    val asOf = args.lift(2).map(java.sql.Timestamp.valueOf)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-backfill")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, pagesDir, warehouse, asOf)
    spark.stop()
  }

  /** The full series key the reference encodes in its storage paths
    * (old_source/old_source_op.py:146: ticker--timespan--multiplier--variant).
    */
  private val seriesKey = Seq("ticker", "timespan", "multiplier", "adjusted")

  /** The E2 sweep's first phase (polygon-etl-container/src/main.py:31-33):
    * full refresh of each dimension endpoint present under {pagesDir}/_ref —
    * current view overwritten, timestamped snapshot appended ("what was
    * known when", README.md:8). Returns the refreshed tickers dim, if any.
    */
  def refreshDims(spark: SparkSession, pagesDir: String,
                  warehouse: String): Option[org.apache.spark.sql.DataFrame] = {
    val runTs = new java.sql.Timestamp(System.currentTimeMillis())
    Seq("tickers", "splits", "dividends").flatMap { ep =>
      // Hadoop-FS probe like the rest of the sink layer: a java.io.File
      // check would silently skip dim refresh on any non-local pagesDir URI
      if (!Sinks.pathExists(spark, s"$pagesDir/_ref/$ep")) None
      else {
        val scan = spark.read.format("polygon")
          .option("path", pagesDir).option("endpoint", ep).load()
        // shared dedup + current/history sink shape (O-A1 + O-SNK1/O-SNK2)
        val dim = Sinks.refreshDimSinks(scan, warehouse, ep, runTs)
        if (ep == "tickers") Some(dim) else None
      }
    }.headOption
  }

  def run(spark: SparkSession, pagesDir: String, warehouse: String,
          asOf: Option[java.sql.Timestamp] = None): Unit =
      // the market warehouse is single-writer like the corpus one: two
      // concurrent sweeps would race the compaction and gold swaps and
      // double-land bars between each other's existence scans — the lease
      // turns that into a fail-fast (see core.WarehouseLease)
      graft.core.WarehouseLease.withWriteLease(spark, warehouse) {
    // phase 1: dimension refresh (reference does dims before the bar sweep).
    // A forensic replay (asOf set) instead reads the tickers dim AS IT WAS
    // KNOWN at that instant and must NOT refresh — overwriting current views
    // with present-day state would defeat the point of the replay.
    val tickersDim = asOf match {
      case Some(ts) => Some(Sinks.snapshotAsOf(
        spark, s"$warehouse/dims/tickers_history", ts))
      case None => refreshDims(spark, pagesDir, warehouse)
    }

    // bronze→silver: at-least-once pages, exactly-once visible rows; a
    // mixed-granularity tree lands as one table keyed+partitioned by the
    // full series identity, so a 1-minute and a 1-hour series of the same
    // ticker never collide. When a tickers dim exists, the bar sweep is
    // restricted to market='stocks' tickers (main.py:34-44's semi-join,
    // broadcast because dims are <20 MB)
    val scanned = spark.read.format("polygon").option("path", pagesDir).load()
    val restricted = tickersDim match {
      case Some(dim) => scanned.join(
        broadcast(dim.filter(col("market") === "stocks").select("ticker")),
        Seq("ticker"), "left_semi")
      case None => scanned
    }
    val bars = restricted
      .dropDuplicates(seriesKey :+ "t")
      .withColumn("datetime", timestamp_millis(col("t")))
    Sinks.idempotentAppend(bars, s"$warehouse/silver/bars",
      keys = seriesKey :+ "t",
      partitionCols = seriesKey)

    // silver→gold: granularity ladder of the finest granularity (O-A7) via
    // the shared OHLC refold — 5m, then 1h refolded FROM the 5m bars, then
    // 1d from the 1h (the reference's period ladder,
    // old_source/old_source_op.py:18). Refolding each rung from the previous
    // one instead of from silver reads 12×/24× fewer input rows per rung;
    // OHLC refold is associative on aligned buckets (MarketSpec locks
    // 1d-from-1h == 1d-from-minute), and vw re-derives exactly because the
    // volume-weighted sum vwv is carried through every rung and only divided
    // at the sink.
    // Coarser source granularities are already bars — resampling them into
    // 5m buckets would double-count, so gold reads ONE granularity: the
    // finest actually present in silver (not a hardcoded minute--1, which
    // would yield a silently empty gold table on e.g. a 5-minute-only tree).
    // Finest = smallest bar span in seconds; the tiny distinct set is a
    // driver-side scalar, same as latestSnapshot's max.
    val silverAll = spark.read.parquet(s"$warehouse/silver/bars")
    val unitSec = typedLit(Map("second" -> 1L, "minute" -> 60L,
      "hour" -> 3600L, "day" -> 86400L, "week" -> 604800L,
      "month" -> 2592000L, "quarter" -> 7776000L, "year" -> 31536000L))
    // multiply BEFORE the unknown-timespan fallback (null propagates through
    // *), so an unrecognized timespan coalesces to MaxValue and sorts LAST —
    // coalescing first would overflow MaxValue * multiplier negative and
    // make the unknown series win; (timespan, multiplier) tie-break keeps
    // the pick deterministic between equal spans (minute--60 vs hour--1)
    val finest = silverAll.select("timespan", "multiplier").distinct()
      .withColumn("span",
        coalesce(element_at(unitSec, col("timespan")) * col("multiplier"),
          lit(Long.MaxValue)))
      .orderBy(col("span"), col("timespan"), col("multiplier"))
      .limit(1).collect()
    require(finest.nonEmpty, s"no bar series in $warehouse/silver/bars")
    val (fTs, fMul) = (finest(0).getString(0), finest(0).getInt(1))
    val silver = silverAll
      .filter(col("timespan") === fTs && col("multiplier") === fMul)
      .withColumn("vwv", col("vw") * col("v"))
    val keys = Seq("ticker", "adjusted")
    val sums = Seq("v", "n", "vwv")
    def rung(src: org.apache.spark.sql.DataFrame, timeCol: String,
             gran: String) =
      graft.operators.MarketOps.refoldBars(src, gran, keys, timeCol, sums)
    def sink(bars: org.apache.spark.sql.DataFrame, name: String): Unit =
      Sinks.writeCurrent(
        bars.withColumn("vw", col("vwv") / col("v")).drop("vwv"),
        s"$warehouse/gold/$name")
    val bars5m = rung(silver, "datetime", "5 minutes")
    sink(bars5m, "bars_5m")
    // each rung refolds the PREVIOUS rung's buckets, not silver
    val bars1h = rung(bars5m, "bucket", "1 hour")
    sink(bars1h, "bars_1h")
    sink(rung(bars1h, "bucket", "1 day"), "bars_1d")

    // maintenance: repeated incremental backfills leave one file set per
    // run in silver; compact once fragmentation passes ~4 files per
    // series partition (cheap count, atomic swap, scan-identical data).
    // The rewrite range-clusters each partition's rows by t so every
    // compacted file covers a contiguous time slice of its series — an
    // incremental append is naturally time-local (each run lands the
    // [watermark, now) slice) and a hash-clustered compaction would smear
    // the full history across every file and row group, leaving parquet's
    // t statistics nothing to skip.
    val nSeries = math.max(1L, silverAll.select(seriesKey.map(col): _*).distinct().count())
    Sinks.compactIfFragmented(spark, s"$warehouse/silver/bars",
      targetFiles = nSeries.toInt, seriesKey, clusterCols = Seq("t"))
  }

  /** BOX READ over silver: all bars of `ticker` with t in [tFrom, tTo].
    * A plain filtered parquet read: the ticker equality prunes to the
    * ticker's partition directories at planning time, and the t range is
    * pushed to the parquet reader, whose row-group min/max statistics skip
    * what the request does not cover (time-local by construction: append
    * slices and t-clustered compaction).
    */
  def readBarsBox(spark: SparkSession, warehouse: String, ticker: String,
                  tFrom: Long, tTo: Long): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$warehouse/silver/bars")
      .filter(col("ticker") === ticker && col("t").between(tFrom, tTo))

  /** MARKET-warehouse integrity check — `CorpusIngest.fsck`'s silver-side
    * twin: one read-only audit of the invariants the backfill write paths
    * maintain, as (check, table, violations, severity).
    *
    *   - `parked_swap` (warn): a table parked mid-rename by a crashed
    *     rewrite swap — data complete at ._compact_old, live path absent;
    *     `Sinks.recoverSwap` (or the table's next write) heals.
    *   - `silver_duplicate_keys` (error): duplicate (series key, t) rows
    *     in silver — impossible under the idempotent-append contract;
    *     any non-zero count is corruption (replay bronze).
    *   - `watermark_behind_data` (warn): rows landed but the watermark
    *     advance was preempted (crash between append and advance) — the
    *     next run's strict filter re-admits nothing and the advance
    *     catches up; heals on the next sweep.
    *   - `watermark_missing_series` (warn): a series with silver rows
    *     but no watermark row at all — a first-sweep crash (advance
    *     preempted before the series' first row), or a series managed
    *     by the page-frontier protocol in a mixed warehouse; review.
    *   - `watermark_ahead_of_data` (warn): the watermark clears t values
    *     silver no longer holds — legal after a governance delete of
    *     silver rows (re-submission stays blocked, which a takedown
    *     wants), otherwise data loss; review.
    */
  def fsck(spark: SparkSession, warehouse: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // same one-job shape as the corpus fsck: distributed checks are 1-row
    // aggregate frames unioned with the driver-side literal rows into a
    // single lazy plan — and the three watermark checks share ONE
    // full-outer join (the eager shape executed that join three times)
    val frames =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val local =
      scala.collection.mutable.ArrayBuffer[(String, String, Long, String)]()
    def countRow(check: String, table: String, sev: String)
                (df: org.apache.spark.sql.DataFrame): Unit =
      frames += df.agg(count(lit(1)).as("violations"))
        .select(lit(check).as("check"), lit(table).as("table"),
          col("violations"), lit(sev).as("severity"))
    Sinks.parkedSwapTables(spark, warehouse).foreach { case (_, rel) =>
      local += (("parked_swap", rel, 1L, "warn"))
    }
    val silverPath = s"$warehouse/silver/bars"
    if (Sinks.pathExists(spark, silverPath)) {
      val silver = spark.read.parquet(silverPath)
      val seriesKey = Seq("ticker", "timespan", "multiplier", "adjusted")
        .filter(silver.columns.contains)
      countRow("silver_duplicate_keys", "silver/bars", "error")(
        silver.groupBy((seriesKey :+ "t").map(col): _*)
          .agg(count(lit(1)).as("n")).filter(col("n") > 1))
      // audited only when the warehouse OPTED INTO the explicit watermark
      // protocol — the TABLE exists (even empty: a first sweep that
      // crashed before its first advance is exactly a state to audit).
      // Backfill's own page-frontier sweep keeps no watermark table, and
      // counting its series "unwatermarked" would alarm on every healthy
      // warehouse. FULL outer join, with the two directions of absence
      // reported under DISTINCT names: a series with data but no
      // watermark row may be a first-sweep crash (advance preempted;
      // filterNew passes watermark-less series whole) or a series
      // legitimately managed by the page frontier in a mixed warehouse —
      // `watermark_missing_series` says review, while
      // `watermark_behind_data` (row present, stale) is unambiguous
      // crash residue that heals on the next sweep.
      val wmTableExists =
        Sinks.pathExists(spark, graft.core.Watermarks.path(warehouse)) ||
        Sinks.pathExists(spark, graft.core.Watermarks.path(warehouse) + "_bak")
      val wm = graft.core.Watermarks.read(spark, warehouse)
      val wmKeys = graft.core.Watermarks.keyCols
      if (wmTableExists) {
        val dataMax = silver.groupBy(wmKeys.map(col): _*)
          .agg(max(col("t")).as("data_t"))
        def hit(c: org.apache.spark.sql.Column) =
          sum(when(c, lit(1L)).otherwise(lit(0L)))
        frames += wm.join(dataMax, wmKeys, "full_outer").agg(
          coalesce(hit(col("data_t").isNotNull && col("max_t").isNotNull &&
            col("max_t") < col("data_t")), lit(0L)).as("behind"),
          coalesce(hit(col("data_t").isNotNull && col("max_t").isNull),
            lit(0L)).as("missing"),
          coalesce(hit(col("max_t").isNotNull &&
            (col("data_t").isNull || col("max_t") > col("data_t"))),
            lit(0L)).as("ahead"))
          .selectExpr("""stack(3,
            'watermark_behind_data', '_watermarks', behind, 'warn',
            'watermark_missing_series', '_watermarks', missing, 'warn',
            'watermark_ahead_of_data', '_watermarks', ahead, 'warn')
            AS (check, table, violations, severity)""")
      }
    }
    val localDf = local.toSeq.toDF("check", "table", "violations", "severity")
    (frames :+ localDf).reduce(_ unionByName _)
      .orderBy(col("severity"), col("check"), col("table"))
  }
}
