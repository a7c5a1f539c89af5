package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver. One process runs one workload once:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --results <dir>
  *
  * prints `# metrics`, `# env` and `# detail` lines, then one JSON result
  * line (see perfbench/README.md). `--check-gen` instead checks that the
  * generator is a pure function of its seed.
  */
object Main {

  /** State of one run: the session, the tracer, the seeded shape, and the
    * operation tally every output check feeds.
    */
  final class Run(val spark: SparkSession, val trace: Trace, val work: Path,
                  val seed: Long, val seconds: Int, val cores: Int,
                  val train: Boolean = false) {
    var attempted = 0L
    var failed = 0L
    /** The workload's named end-to-end figures (printed on `# metrics`). */
    val named = mutable.LinkedHashMap.empty[String, (Double, String)]
    /** Per-layer figures, reported by the traced run. */
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, String]
    var setupS: Seq[Double] = Nil
    var opMs: Seq[Double] = Nil
    var rowsPerS: Double = 0.0
    var tracedOps: Seq[Double] = Nil
    var untracedOps: Seq[Double] = Nil

    /** One operation with an output check: counts toward `attempted`, and
      * toward `failed` when it throws or its check is false.
      */
    def op(what: String)(body: => Boolean): Unit = {
      attempted += 1
      val (ok, s) = timed(try body catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $what threw: $e")
          e.printStackTrace()
          false
      })
      log(f"$what: ${if (ok) "ok" else "FAILED"} in $s%.3f s")
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] check failed: $what")
      }
    }

    /** Which operations the traced run counts: every other one, so the
      * untraced ones in between give the tracing overhead.
      */
    def traced(i: Int): Boolean = trace.enabled && i % 2 == 0

    /** A workload size: `full` in a measured run, `tiny` in the training
      * run that records the class-data archive at build time.
      */
    def size(full: Int, tiny: Int): Int = if (train) tiny else full
  }

  private val startNs = System.nanoTime()

  /** Progress line on standard error, with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - startNs) / 1e9}%8.2f s] $msg")

  def timed[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - s) / 1e9)
  }

  // ----------------------------------------------------------------- stats

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile of {50, 75, 90, 95, 99, 99.9} that has at
    * least ten samples beyond it, with its value; None below 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)
      .find(p => xs.size * (1 - p) >= 10 - 1e-9)
      .map(p => (p * 100, quantile(xs, p)))

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Peak heap use over the run, in MB (sum of the heap pools' peaks). */
  private def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  // ---------------------------------------------------------------- output

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def metricsJson(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")

  /** Every per-layer metric the traced run reports, with its unit, in the
    * order BENCHMARK.json lists them. A layer a workload does not run
    * reports 0: it did no work there.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.pages_read" -> "count",
    "sources.rows_read" -> "count", "sources.dup_rows" -> "count",
    "stream.latest_offset_ms" -> "ms",
    "sinks.silver_append_s" -> "s", "sinks.compact_s" -> "s",
    "sinks.files_after" -> "count", "sinks.bytes_written" -> "B/row",
    "corpus.store_write_s" -> "s", "corpus.store_files" -> "count",
    "layout.index_update_s" -> "s", "layout.box_open_ms" -> "ms",
    "layout.files_selected_ratio" -> "ratio",
    "lease.roundtrip_ms" -> "ms",
    "market.gold_ladder_s" -> "s", "market.indicator_ms" -> "ms",
    "corpus.jobs_per_drop" -> "count",
    "corpus.shuffle_bytes_per_drop" -> "bytes",
    "corpus.new_pairs" -> "count",
    "stream.batch_ms_p50" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.rows_per_batch" -> "count", "stream.state_rows" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s", "spark.busy_share" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s", "spark.plan_s" -> "s",
    "trace.op_p50_traced_ms" -> "ms", "trace.op_p50_untraced_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")

  private val Workloads: Map[String, Run => Unit] = Map(
    "backfill_reads" -> Market.run,
    "corpus_drops" -> CorpusDrops.run,
    "live_tail" -> LiveTail.run)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(opts("--work")).toAbsolutePath
    val results = Paths.get(opts("--results")).toAbsolutePath
    val cores = opts.get("--cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    if (opts.contains("--check-gen")) {
      sys.exit(if (GenCheck.run(work, opts("--check-gen").toLong)) 0 else 1)
    }
    if (opts.contains("--train")) {
      // one tiny pass over every workload, so the JVM that runs this can
      // archive the classes all of them load (see perfbench/build.py)
      val spark = session(cores, work)
      Workloads.toSeq.sortBy(_._1).foreach { case (name, body) =>
        log(s"training pass: $name")
        body(new Run(spark, new Trace(spark, false, cores),
          work.resolve(name), 1L, 1, cores, train = true))
      }
      spark.stop()
      sys.exit(0)
    }
    val workload = opts("--workload")
    val body = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload $workload; known: " +
        Workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val traceOn = opts.getOrElse("--trace", "0") == "1"

    // any failure ends the JVM with a non-zero code and no result line;
    // Spark's non-daemon threads would otherwise keep it alive
    try measure(workload, body, seed, seconds, traceOn, cores, work, results, opts)
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  private def measure(workload: String, body: Run => Unit, seed: Long,
                      seconds: Int, traceOn: Boolean, cores: Int, work: Path,
                      results: Path, opts: Map[String, String]): Unit = {
    val (spark, sessionS) = timed(session(cores, work))
    val trace = new Trace(spark, traceOn, cores)
    val run = new Run(spark, trace, work, seed, seconds, cores)
    heapPools.foreach(_.resetPeakUsage())
    val (_, totalS) = timed(body(run))
    val peakMb = heapPeakMb()
    val setupS = sessionS + median(run.setupS)
    trace.dump(results.resolve(s"trace-$workload-$seed.jsonl"))

    run.named("setup_s") = (setupS, "s")
    run.named("ops_failed_ratio") =
      (run.failed.toDouble / math.max(1L, run.attempted), "ratio")
    run.named("peak_heap_mb") = (peakMb, "MB")
    println("# metrics " + metricsJson(run.named.toSeq))

    val env = Seq(
      "workload" -> str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> traceOn.toString,
      "nproc" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> str(org.apache.spark.SPARK_VERSION),
      "jdk" -> str(System.getProperty("java.version")),
      "commit" -> str(opts.getOrElse("--commit", "unknown")),
      "source_digest" -> str(opts.getOrElse("--source-digest", "unknown")),
      "session_s" -> num(sessionS),
      "setup_reps_s" -> run.setupS.map(num).mkString("[", ",", "]"),
      "measured_total_s" -> num(totalS))
    println("# env " + env.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
    println("# detail " + run.detail.map { case (k, v) => s"${str(k)}:${str(v)}" }
      .mkString("{", ",", "}"))

    val metrics =
      if (!traceOn) Seq(
        "setup_s" -> (setupS, "s"),
        "op_p50_ms" -> (median(run.opMs), "ms"),
        "rows_per_s" -> (run.rowsPerS, "1/s"))
      else {
        val tr = if (run.tracedOps.nonEmpty) median(run.tracedOps) else 0.0
        val un = if (run.untracedOps.nonEmpty) median(run.untracedOps) else 0.0
        run.layer("trace.op_p50_traced_ms") = (tr, "ms")
        run.layer("trace.op_p50_untraced_ms") = (un, "ms")
        run.layer("trace.overhead_ms") = (tr - un, "ms")
        run.layer("trace.overhead_pct") =
          (if (un > 0) (tr - un) / un * 100 else 0.0, "%")
        LayerMetrics.map { case (k, u) =>
          k -> (run.layer.get(k).map(_._1).getOrElse(0.0), u)
        }
      }
    val correct = run.failed == 0 && run.attempted > 0
    println(s"""{"correct":$correct,"attempted":${run.attempted},""" +
      s""""failed":${run.failed},"metrics":${metricsJson(metrics)}}""")
    spark.stop()
  }
}
