package graft

import java.nio.file.Files

import graft.core.Watermarks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WatermarkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One-minute adjusted series: the full series key around (ticker, t). */
  private def minuteSeries(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("timespan", lit("minute")).withColumn("multiplier", lit(1))

  test("batch incremental protocol: filterNew + advance, idempotent, monotone") {
    val wh = Files.createTempDirectory("wm").toString
    val b1 = minuteSeries(Seq(("AAPL", true, 100L, 1.0), ("AAPL", true, 200L, 2.0),
                 ("MSFT", true, 150L, 3.0))
      .toDF("ticker", "adjusted", "t", "c"))
    // first batch: no watermarks yet → everything passes
    val wm0 = Watermarks.read(spark, wh)
    assert(Watermarks.filterNew(b1, wm0).count() == 3)
    Watermarks.advance(spark, wh, b1)
    val wm1 = Watermarks.read(spark, wh)
    assert(wm1.filter(col("ticker") === "AAPL").select("max_t").as[Long].head() == 200L)

    // replayed batch (at-least-once): fully filtered
    assert(Watermarks.filterNew(b1, wm1).count() == 0, "replay must be invisible")

    // overlapping next batch: only strictly-new rows pass
    val b2 = minuteSeries(Seq(("AAPL", true, 200L, 2.0), ("AAPL", true, 300L, 4.0),
                 ("GOOG", true, 50L, 5.0))
      .toDF("ticker", "adjusted", "t", "c"))
    val fresh = Watermarks.filterNew(b2, wm1)
    assert(fresh.select("t").as[Long].collect().sorted.toSeq == Seq(50L, 300L))
    Watermarks.advance(spark, wh, fresh)
    val wm2 = Watermarks.read(spark, wh)
    assert(wm2.filter(col("ticker") === "AAPL").select("max_t").as[Long].head() == 300L)
    assert(wm2.filter(col("ticker") === "MSFT").select("max_t").as[Long].head() == 150L,
      "untouched series must keep its watermark (monotone merge)")
    assert(wm2.count() == 3)
  }

  test("multi-granularity series watermark independently per full series key") {
    val wh = Files.createTempDirectory("wm-gran").toString
    val b = Seq(
      ("AAPL", "minute", 1, true, 500L, 1.0),
      ("AAPL", "hour", 1, true, 100L, 2.0))
      .toDF("ticker", "timespan", "multiplier", "adjusted", "t", "c")
    Watermarks.advance(spark, wh, b)
    val wm = Watermarks.read(spark, wh)
    assert(wm.count() == 2, "one watermark per series, not per ticker")
    // the minute watermark (500) must NOT filter the hour series at t=200
    val incoming = Seq(
      ("AAPL", "minute", 1, true, 400L, 3.0), // behind minute wm → dropped
      ("AAPL", "hour", 1, true, 200L, 4.0))   // past hour wm → passes
      .toDF("ticker", "timespan", "multiplier", "adjusted", "t", "c")
    val fresh = Watermarks.filterNew(incoming, wm)
    assert(fresh.select("t").as[Long].collect().toSeq == Seq(200L),
      "watermarks must be per (ticker, timespan, multiplier, adjusted)")
  }

  test("filterNew refuses a batch missing part of the table's series key") {
    val wh = Files.createTempDirectory("wm-strict").toString
    val full = Seq(("AAPL", "minute", 1, true, 500L))
      .toDF("ticker", "timespan", "multiplier", "adjusted", "t")
    Watermarks.advance(spark, wh, full)
    val wm = Watermarks.read(spark, wh)
    val legacy = Seq(("AAPL", true, 600L)).toDF("ticker", "adjusted", "t")
    val e = intercept[IllegalArgumentException] {
      Watermarks.filterNew(legacy, wm)
    }
    assert(e.getMessage.contains("timespan"),
      s"mismatch must name the missing key columns: ${e.getMessage}")
  }

  test("advance refuses a batch missing a series-key column") {
    // the watermark key is fixed at (ticker, timespan, multiplier, adjusted):
    // grouping a (ticker, adjusted) batch would collapse per-granularity
    // watermarks to the cross-series max, after which filterNew would drop
    // rows of slower-ingesting granularities as already seen
    val wh = Files.createTempDirectory("wm-narrow").toString
    val narrow = Seq(("AAPL", true, 500L)).toDF("ticker", "adjusted", "t")
    val e = intercept[IllegalArgumentException] { Watermarks.advance(spark, wh, narrow) }
    assert(e.getMessage.contains("timespan") && e.getMessage.contains("multiplier"),
      s"advance must name the missing key columns: ${e.getMessage}")
    assert(!new java.io.File(Watermarks.path(wh)).exists(),
      "a refused advance must write nothing")
  }

  test("cold start: full-key batch passes filterNew against a fresh warehouse") {
    // the empty fallback table carries the full series key and constrains
    // nothing, so a multi-granularity pipeline bootstraps on it
    val wh = Files.createTempDirectory("wm-cold").toString
    val wm0 = Watermarks.read(spark, wh)
    val wide = Seq(("AAPL", "minute", 1, true, 600L))
      .toDF("ticker", "timespan", "multiplier", "adjusted", "t")
    assert(Watermarks.filterNew(wide, wm0).count() == 1,
      "fresh warehouse must admit the whole first batch")
    Watermarks.advance(spark, wh, wide)
    assert(Watermarks.read(spark, wh).columns.contains("timespan"),
      "first advance pins the full key shape")
  }

  test("advance leaves exactly one _watermarks dir: no _tmp/_bak survivors") {
    val wh = Files.createTempDirectory("wm-clean").toString
    val b = minuteSeries(Seq(("AAPL", true, 100L)).toDF("ticker", "adjusted", "t"))
    Watermarks.advance(spark, wh, b)
    Watermarks.advance(spark, wh, b.withColumn("t", col("t") + 1))
    val survivors = new java.io.File(wh).listFiles().map(_.getName).toSet
    assert(survivors == Set("_watermarks"),
      s"advance must clean its swap dirs, found: $survivors")
    assert(Watermarks.read(spark, wh)
      .select("max_t").as[Long].head() == 101L)
  }

  test("read falls back to _bak when a swap crashed mid-rename") {
    val wh = Files.createTempDirectory("wm-bak").toString
    val b = minuteSeries(Seq(("AAPL", true, 100L)).toDF("ticker", "adjusted", "t"))
    Watermarks.advance(spark, wh, b)
    // simulate a crash between rename(main, bak) and rename(tmp, main)
    val main = new java.io.File(Watermarks.path(wh))
    assert(main.renameTo(new java.io.File(Watermarks.path(wh) + "_bak")))
    assert(Watermarks.read(spark, wh)
      .select("max_t").as[Long].head() == 100L)
    // and the next advance heals back to a single main dir
    Watermarks.advance(spark, wh, b.withColumn("t", col("t") + 5))
    val survivors = new java.io.File(wh).listFiles().map(_.getName).toSet
    assert(survivors == Set("_watermarks"))
  }

  test("LiveIngest gold: streaming 5m OHLC appends closed windows only") {
    val pages = Files.createTempDirectory("lg-pages")
    val wh = Files.createTempDirectory("lg-wh").toString
    val dir = pages.resolve("AAPL/adjusted")
    Files.createDirectories(dir)
    // ticks at 0s, 60s, 400s: first 5-min window [0,300) closes once the
    // watermark (delay 0) passes 300s; window [300,600) stays open
    Files.writeString(dir.resolve("page-0000.json"),
      """{"results":[{"t":0,"o":1,"h":1,"l":1,"c":10,"v":1,"vw":1,"n":1},
        |{"t":60000,"o":1,"h":1,"l":1,"c":20,"v":1,"vw":1,"n":1},
        |{"t":400000,"o":1,"h":1,"l":1,"c":30,"v":1,"vw":1,"n":1}],
        |"next_url":null}""".stripMargin)
    val q = graft.app.LiveIngest.startGold(spark, pages.toString, wh, delay = "0 seconds")
    q.awaitTermination()
    // AvailableNow runs a watermark-flushing batch before stopping: the
    // [0,300) window (end 300s <= watermark 400s) closes within run 1;
    // [300,600) stays open (end 600s > 400s)
    def goldBuckets(): Map[Long, Double] =
      try spark.read.parquet(s"$wh/gold/bars_5m_live").collect()
        .map(r => r.getAs[java.sql.Timestamp]("bucket").getTime ->
          r.getAs[Double]("c")).toMap
      catch { case _: Throwable => Map.empty }
    val run1 = goldBuckets()
    assert(run1.keySet == Set(0L), s"only [0,300) may close in run 1: $run1")
    assert(run1(0L) == 20.0, "close of the first bar must be the 60s tick")
    // a t=700s page advances the watermark → run 2 closes [300,600)
    Files.writeString(dir.resolve("page-0000.json"),
      """{"results":[{"t":0,"o":1,"h":1,"l":1,"c":10,"v":1,"vw":1,"n":1},
        |{"t":60000,"o":1,"h":1,"l":1,"c":20,"v":1,"vw":1,"n":1},
        |{"t":400000,"o":1,"h":1,"l":1,"c":30,"v":1,"vw":1,"n":1}],
        |"next_url":"page-0001.json"}""".stripMargin)
    Files.writeString(dir.resolve("page-0001.json"),
      """{"results":[{"t":700000,"o":1,"h":1,"l":1,"c":40,"v":1,"vw":1,"n":1}],
        |"next_url":null}""".stripMargin)
    val q2 = graft.app.LiveIngest.startGold(spark, pages.toString, wh, delay = "0 seconds")
    q2.awaitTermination()
    val run2 = goldBuckets()
    assert(run2.keySet == Set(0L, 300000L), s"run 2 should close [300,600): $run2")
    assert(run2(300000L) == 30.0, "close of the second bar must be the 400s tick")
  }

  test("LiveIngest: streaming pages → deduped silver parquet, restart-safe") {
    val pages = Files.createTempDirectory("li-pages")
    val wh = Files.createTempDirectory("li-wh").toString
    val dir = pages.resolve("AAPL/adjusted")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("page-0000.json"),
      """{"results":[{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2},
        |{"t":120000,"o":2,"h":3,"l":2,"c":3,"v":20,"vw":2.5,"n":2}],
        |"next_url":null}""".stripMargin)
    val q1 = graft.app.LiveIngest.start(spark, pages.toString, wh)
    q1.awaitTermination()
    val silver = spark.read.parquet(s"$wh/silver/bars_live")
    assert(silver.count() == 2)
    // restart with a new page chained on: only the new rows append
    Files.writeString(dir.resolve("page-0000.json"),
      """{"results":[{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2},
        |{"t":120000,"o":2,"h":3,"l":2,"c":3,"v":20,"vw":2.5,"n":2}],
        |"next_url":"page-0001.json"}""".stripMargin)
    Files.writeString(dir.resolve("page-0001.json"),
      """{"results":[{"t":180000,"o":3,"h":4,"l":3,"c":4,"v":30,"vw":3.5,"n":2}],
        |"next_url":null}""".stripMargin)
    val q2 = graft.app.LiveIngest.start(spark, pages.toString, wh)
    q2.awaitTermination()
    val after = spark.read.parquet(s"$wh/silver/bars_live")
    assert(after.select("t").as[Long].collect().sorted.toSeq ==
      Seq(60000L, 120000L, 180000L), "restart must resume from checkpoint")
  }
}
