package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The batch half of the incremental protocol (SURVEY.md §3-E3, §4): an
  * explicit `_watermarks` table — (ticker, timespan, multiplier, adjusted)
  * → max ingested event time — replacing the reference's sink-scraping watermark discovery
  * (airflow-dags/dag_aggregates_etl.py:128-150 re-downloads the latest S3
  * object and maxes over its rows on every run).
  *
  * Protocol per batch: read watermarks → fetch/scan with from = watermark
  * (at-least-once, the source refetches the boundary) → keep rows strictly
  * past the watermark → append → advance watermarks. Idempotent under
  * replay; FIXTURES.md §_watermarks is this table's schema.
  */
object Watermarks {

  def path(warehouse: String): String = s"$warehouse/_watermarks"

  def read(spark: SparkSession, warehouse: String): DataFrame = {
    val p = path(warehouse)
    // crash recovery: if a swap died between rename(main, bak) and
    // rename(tmp, main), the previous table survives at _bak
    val src =
      if (Sinks.pathExists(spark, p)) Some(p)
      else if (Sinks.pathExists(spark, p + "_bak")) Some(p + "_bak")
      else None
    src.map(spark.read.parquet(_)).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "ticker STRING, timespan STRING, multiplier INT, adjusted BOOLEAN, " +
            "max_t BIGINT, updated_at TIMESTAMP")))
  }

  /** The series key: a multi-granularity pipeline watermarks each series
    * independently (a 1-minute watermark must never filter a 1-hour series
    * of the same ticker).
    */
  val keyCols: Seq[String] = Seq("ticker", "timespan", "multiplier", "adjusted")

  /** Every batch must carry the full series key: joining or grouping on a
    * narrower one would match one row against several series' watermarks
    * (duplicating it) or collapse them to their max (dropping rows of
    * slower-ingesting granularities as "already seen").
    */
  private def requireSeriesKey(batch: DataFrame): Unit = {
    val missing = keyCols.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"batch lacks series-key column(s) ${missing.mkString(", ")}; the " +
        s"watermark key is (${keyCols.mkString(", ")})")
  }

  /** New-rows-only filter for an incoming batch: strict t > watermark per
    * series; series without a watermark pass whole.
    */
  def filterNew(incoming: DataFrame, wm: DataFrame): DataFrame = {
    requireSeriesKey(incoming)
    incoming.join(broadcast(wm.select((keyCols :+ "max_t").map(col): _*)),
        keyCols, "left")
      .filter(col("max_t").isNull || col("t") > col("max_t"))
      .drop("max_t")
  }

  /** Advance watermarks with the batch's per-series max t (full-outer merge,
    * monotone: never moves backward).
    */
  def advance(spark: SparkSession, warehouse: String, batch: DataFrame): Unit = {
    requireSeriesKey(batch)
    val newWm = batch.groupBy(keyCols.map(col): _*)
      .agg(max(col("t")).as("batch_max"))
    // a fresh warehouse merges against read()'s empty frame
    val merged = read(spark, warehouse).as("old")
      .join(newWm.as("new"), keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        greatest(coalesce(col("old.max_t"), lit(Long.MinValue)),
                 coalesce(col("new.batch_max"), lit(Long.MinValue))).as("max_t"),
        current_timestamp().as("updated_at")): _*)
    // tiny dim table: rewrite whole via write-tmp + rename swap. Hadoop
    // FileSystem (not java.io.File) so the same code works on hdfs/s3a, and
    // rename (not read-back + overwrite) so a crash window never leaves the
    // table half-written: at every instant the full merged data exists in
    // at least one of _tmp/_bak/main. If a crash strands a _bak, the next
    // advance clears it; the merge is monotone so replay is idempotent.
    val tmp = new org.apache.hadoop.fs.Path(path(warehouse) + "_tmp")
    val main = new org.apache.hadoop.fs.Path(path(warehouse))
    val bak = new org.apache.hadoop.fs.Path(path(warehouse) + "_bak")
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // a readable copy (main or _bak) must exist until the instant tmp is
    // promoted: _bak is only displaced when main is present to displace it,
    // and only deleted after the promotion — so a crash recovering FROM a
    // stranded _bak (main absent) cannot drop the last readable copy
    // Hadoop FileSystem.rename signals failure by RETURNING FALSE (common on
    // object stores) — every step checks the result and aborts loudly, so a
    // failed promotion can never reach the _bak cleanup and destroy the last
    // readable copy (read() would then see an empty table and filterNew would
    // re-admit already-ingested rows).
    if (fs.exists(main)) {
      if (fs.exists(bak) && !fs.delete(bak, true))
        throw new java.io.IOException(s"watermark swap: failed to clear stale $bak")
      if (!fs.rename(main, bak))
        throw new java.io.IOException(s"watermark swap: rename($main, $bak) returned false")
    }
    if (!fs.rename(tmp, main))
      throw new java.io.IOException(
        s"watermark swap: rename($tmp, $main) returned false; previous table intact at $bak")
    // only drop _bak once the promoted main is verifiably in place
    if (fs.exists(main) && fs.exists(bak) && !fs.delete(bak, true))
      throw new java.io.IOException(s"watermark swap: failed to delete $bak after promotion")
  }
}
