package graft.app

import graft.streaming.LiveBars
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming ingest driver — the E1 daily pipeline of the reference
  * (airflow-dags/dag_aggregates_etl.py traced in SURVEY.md §3-E1) as one
  * Structured Streaming query: polygon micro-batch source → watermarked
  * dedup → silver append + 5-minute OHLC gold, exactly-once via checkpoint.
  *
  * Trigger.AvailableNow() == the reference's daily catch-up run (process
  * everything new, then stop); swap for ProcessingTime for true live.
  *
  * Usage: runMain graft.app.LiveIngest <pagesDir> <warehouseDir>
  */
object LiveIngest {
  def main(args: Array[String]): Unit = {
    val Array(pagesDir, warehouse) = args.take(2)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-live-ingest")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val q = start(spark, pagesDir, warehouse)
    q.awaitTermination()
    spark.stop()
  }

  /** @param trigger AvailableNow = the reference's daily catch-up run;
    *                 ProcessingTime = true live tailing of the page chains
    */
  def start(spark: SparkSession, pagesDir: String, warehouse: String,
            trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    sinkBars(spark.readStream.format("polygon")
      .option("path", pagesDir).load(), warehouse, trigger)

  /** The one live sink chain both transports share: watermarked dedup on
    * the series key, then the exactly-once parquet append to
    * `silver/bars_live` under the warehouse's checkpoint.
    */
  private def sinkBars(bars: DataFrame, warehouse: String, trigger: Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    LiveBars.dedupStream(bars.withColumn("datetime", timestamp_millis(col("t"))),
        "datetime", "1 hour",
        keys = Seq("ticker", "timespan", "multiplier", "t", "adjusted"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$warehouse/silver/bars_live")
      .option("checkpointLocation", s"$warehouse/_checkpoints/bars_live")
      .trigger(trigger)
      .start()

  /** Live ingest over the HTTP cursor transport — the reference's actual
    * live protocol (README.md:7; requests.get + next_url cursors,
    * polygon-etl-container/src/aggregates_stocks_etl.py:44-84) — with the
    * same dedup and silver sink as the file path. The series universe is
    * declared (`tickers` × `series` dirs): http has no listing, exactly as
    * the reference's universe comes from its tickers dim + period config.
    * ProcessingTime + the source's frontier probing = true live tailing
    * (one 404 per idle series per trigger); AvailableNow = bounded catch-up.
    */
  def startHttp(spark: SparkSession, baseUrl: String, tickers: Seq[String],
                warehouse: String,
                trigger: Trigger = Trigger.AvailableNow(),
                series: Seq[String] = Seq("minute--1--adjusted"),
                maxPagesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.format("polygon")
      .option("baseUrl", baseUrl)
      .option("tickers", tickers.mkString(","))
      .option("series", series.mkString(","))
    maxPagesPerTrigger.foreach(c => reader.option("maxPagesPerTrigger", c))
    sinkBars(reader.load(), warehouse, trigger)
  }

  /** Streaming dimension refresh — the reference refreshes dims daily while
    * bars stream (polygon-etl-container/src/main.py:31-33 + README.md:7).
    * The dim source's micro-batch face has snapshot semantics (each batch is
    * the FULL chain, fired only when it grew), so an AvailableNow run with a
    * persistent checkpoint is exactly "refresh if anything changed": the
    * current view is overwritten and a timestamped snapshot appended
    * ("what was known when", README.md:8). Re-running against an unchanged
    * chain writes nothing.
    */
  def startDimRefresh(spark: SparkSession, pagesDir: String, warehouse: String,
                      endpoint: String = "tickers")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream.format("polygon")
      .option("path", pagesDir).option("endpoint", endpoint).load()
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // the shared dedup + current/history sink shape (Sinks
        // .refreshDimSinks, same as the batch Backfill.refreshDims); the
        // ledger pins each batchId to one snapshot_ts so an at-least-once
        // batch replay rewrites its own snapshot partition instead of
        // appending a duplicate snapshot under a new wall-clock time
        val ts = graft.core.Sinks.stableBatchTs(batch.sparkSession,
          s"$warehouse/_checkpoints/dim_$endpoint/_graft_ts_ledger", batchId)
        graft.core.Sinks.refreshDimSinks(batch, warehouse, endpoint, ts)
        ()
      }
      .option("checkpointLocation", s"$warehouse/_checkpoints/dim_$endpoint")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Continuous gold: 5-minute OHLC bars aggregated on the live stream
    * itself (same operator as the batch gold, windows emitted once closed
    * past the watermark) appended to a separate gold table.
    */
  def startGold(spark: SparkSession, pagesDir: String, warehouse: String,
                delay: String = "1 hour")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // group key = the full series identity: a 1m and a 1h series of the
    // same ticker must fold into separate gold bars
    val ticks = spark.readStream.format("polygon")
      .option("path", pagesDir).load()
      .select(concat_ws("|", col("ticker"), col("timespan"),
          col("multiplier"), col("adjusted")).as("user_id"),
        timestamp_millis(col("t")).as("ts"), col("c").as("value"))
    LiveBars.ohlcStream(ticks, "ts", delay, "5 minutes")
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$warehouse/gold/bars_5m_live")
      .option("checkpointLocation", s"$warehouse/_checkpoints/bars_5m_live")
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
