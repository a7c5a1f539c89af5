package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.core.SwapProtocol
import org.apache.spark.sql.SparkSession

/** Forked-JVM body for the CROSS-PROCESS swap-protocol race — the
  * discrimination the token actually defends (a reader on one driver
  * resolving another driver's rename window), which in-JVM thread races
  * can never exercise: a separate restamp pool, a separate clock source
  * process, and REAL process death (destroyForcibly kills the beat with
  * the writer, exactly like a crashed driver — no in-JVM simulation of
  * "the beat stopped" can prove that).
  *
  * Mode `swap <table> <ttlMs> <holdMs> <eventsFile>`: run one rewrite
  * swap of `<table>` (parent pre-stages `<table>._compact_tmp`) under
  * [[SwapProtocol.withSwapToken]], holding the rename window open for
  * `holdMs`. Events are single O_APPEND line writes on a local posix fs,
  * so the parent can poll them for the window edges:
  *   `window-open`  — stage-out rename done, live path now ABSENT
  *   `swap-done`    — swap-in rename done, table live again
  *
  * Mode `read <table> <ttlMs> <eventsFile>`: resolve `<table>` through
  * the lease-free [[graft.core.Sinks.storePresent]] gate ONCE and log
  * the verdict (`verdict-present` / `verdict-absent` /
  * `verdict-inflight` / `verdict-parked`) — the cross-process half of
  * the token format contract: a reader process with its own clock
  * resolving token residue another writer process left behind.
  */
object SwapRaceMain {

  private def logEvent(eventsFile: String, line: String): Unit =
    Files.write(Paths.get(eventsFile), (line + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.APPEND)

  def main(args: Array[String]): Unit = args(0) match {
    case "swap" =>
      val Array(_, table, ttlMs, holdMs, eventsFile) = args
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("swap-race-writer")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config(SwapProtocol.SwapInflightTtlKey, ttlMs)
        .getOrCreate()
      try {
        val live = new org.apache.hadoop.fs.Path(table)
        val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val old = new org.apache.hadoop.fs.Path(table + "._compact_old")
        val tmp = new org.apache.hadoop.fs.Path(table + "._compact_tmp")
        SwapProtocol.withSwapToken(spark, fs, table) {
          require(fs.rename(live, old), "stage-out rename failed")
          logEvent(eventsFile, "window-open")
          Thread.sleep(holdMs.toLong) // the rename window, held open
          require(fs.rename(tmp, live), "swap-in rename failed")
        }
        fs.delete(old, true)
        logEvent(eventsFile, "swap-done")
      } finally spark.stop()
      sys.exit(0)

    case "read" =>
      val Array(_, table, ttlMs, eventsFile) = args
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("swap-race-reader")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config(SwapProtocol.SwapInflightTtlKey, ttlMs)
        .getOrCreate()
      try {
        val verdict =
          try { if (graft.core.Sinks.storePresent(spark, table))
            "verdict-present" else "verdict-absent" }
          catch {
            case e: IllegalStateException if e.getMessage.contains("mid-swap") =>
              "verdict-inflight"
            case e: IllegalStateException
              if e.getMessage.contains("crash-parked") => "verdict-parked"
          }
        logEvent(eventsFile, verdict)
      } finally spark.stop()
      sys.exit(0)

    case other =>
      System.err.println(s"unknown mode $other")
      sys.exit(3)
  }
}
