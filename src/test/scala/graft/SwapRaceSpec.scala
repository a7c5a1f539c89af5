package graft

import java.nio.file.Files

import graft.core.SwapProtocol
import org.scalatest.funsuite.AnyFunSuite

/** CROSS-PROCESS races of the rewrite-swap protocol (SwapRaceMain body).
  * The in-JVM SinksSpec cases prove the token mechanics (re-stamp, nonce,
  * skew allowance); these prove the deployment-shaped claim — a READER
  * DRIVER resolving a WRITER DRIVER's rename window across real process
  * boundaries, including real process death: destroyForcibly kills the
  * re-stamp beat exactly the way a crashed driver does, which no in-JVM
  * "stop the beat" simulation can.
  *
  * Wall-clock margins (the r16 ADVICE lesson): the writer JVM is
  * DEDICATED — its restamp pool carries exactly one beat — so the slack
  * between the beat period (ttl/3) and the staleness bound (ttl) is a
  * full 2/3 ttl of scheduler slip tolerance, not a shared-pool budget.
  */
class SwapRaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def forkJvm(args: Seq[String], log: java.io.File): Process = {
    val java = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    new ProcessBuilder(
      (Seq(java) ++ addOpens ++ Seq("-Xmx2g",
        "-cp", System.getProperty("java.class.path"),
        "graft.SwapRaceMain") ++ args): _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
  }

  private def events(path: String): Seq[String] = {
    val p = java.nio.file.Paths.get(path)
    if (Files.exists(p))
      Files.readAllLines(p).toArray.toSeq.map(_.toString)
    else Seq.empty
  }

  private def awaitEvent(path: String, line: String, timeoutMs: Long,
                         what: String, log: java.io.File): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!events(path).contains(line)) {
      assert(System.currentTimeMillis() < deadline,
        s"$what never happened; writer log tail:\n" +
          new String(Files.readAllBytes(log.toPath), "UTF-8")
            .linesIterator.toSeq.takeRight(25).mkString("\n"))
      Thread.sleep(100L)
    }
  }

  /** Stage a one-file table (content v1) plus its pre-written rewrite
    * (`._compact_tmp`, content v2); returns the table path.
    */
  private def stageTable(dir: String): String = {
    val table = s"$dir/series"
    Files.createDirectories(java.nio.file.Paths.get(table))
    Files.write(java.nio.file.Paths.get(s"$table/data.txt"),
      "v1".getBytes("UTF-8"))
    val tmp = s"$table._compact_tmp"
    Files.createDirectories(java.nio.file.Paths.get(tmp))
    Files.write(java.nio.file.Paths.get(s"$tmp/data.txt"),
      "v2".getBytes("UTF-8"))
    table
  }

  private def tableContent(table: String): String =
    new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$table/data.txt")), "UTF-8")

  private def withReaderTtl[T](ttlMs: Long)(body: => T): T = {
    spark.conf.set(SwapProtocol.SwapInflightTtlKey, ttlMs.toString)
    try body finally spark.conf.unset(SwapProtocol.SwapInflightTtlKey)
  }

  test("cross-process: a healthy swap outliving the TTL reads as in-flight for its whole window, then lands") {
    val dir = Files.createTempDirectory("swap-xproc").toString
    val table = stageTable(dir)
    val ev = s"$dir/events.log"
    val log = java.io.File.createTempFile("swap-xproc-healthy", ".log")
    val ttlMs = 4000L
    // the window is held open 2.5x the TTL: only the writer's live beat
    // can keep the token credible — a one-shot stamp would go stale
    val p = forkJvm(Seq("swap", table, ttlMs.toString, "10000", ev), log)
    try withReaderTtl(ttlMs) {
      awaitEvent(ev, "window-open", 120000L, "stage-out", log)
      // poll the reader's gate through the whole window: every read must
      // resolve to "present" (before/after the renames) or the in-flight
      // error ("retry, don't repair") — NEVER absent, NEVER crash-parked
      var inflightSeen = 0
      while (!events(ev).contains("swap-done") && p.isAlive) {
        try {
          if (!SwapProtocol.storePresent(spark, table))
            fail("a mid-swap table read as ABSENT to a lease-free reader")
        } catch {
          case e: IllegalStateException =>
            assert(e.getMessage.contains("mid-swap"),
              s"healthy in-flight swap misread: ${e.getMessage}")
            inflightSeen += 1
        }
        Thread.sleep(200L)
      }
      assert(p.waitFor(120L, java.util.concurrent.TimeUnit.SECONDS),
        "writer did not finish")
      assert(p.exitValue() == 0,
        s"writer exited ${p.exitValue()}:\n" +
          new String(Files.readAllBytes(log.toPath), "UTF-8")
            .linesIterator.toSeq.takeRight(25).mkString("\n"))
      // the window outlived the TTL, so at least several polls ran while
      // the live path was absent — each must have read as in-flight
      assert(inflightSeen >= 1,
        "the poll loop never caught the rename window open")
      assert(SwapProtocol.storePresent(spark, table))
      assert(tableContent(table) == "v2", "the swap-in never landed")
      assert(!SwapProtocol.hasParkedSwap(spark, table))
    } finally if (p.isAlive) p.destroyForcibly()
  }

  test("cross-process: a writer KILLED mid-window reads in-flight while the token is fresh, crash-parked once it goes stale, then heals") {
    val dir = Files.createTempDirectory("swap-xproc-kill").toString
    val table = stageTable(dir)
    val ev = s"$dir/events.log"
    val log = java.io.File.createTempFile("swap-xproc-kill", ".log")
    val ttlMs = 4000L
    // a window the writer would hold far past this test's horizon — the
    // only way it closes is the kill below
    val p = forkJvm(Seq("swap", table, ttlMs.toString, "600000", ev), log)
    try withReaderTtl(ttlMs) {
      awaitEvent(ev, "window-open", 120000L, "stage-out", log)
      // the beat is alive: the parked signature must resolve in-flight
      val live = intercept[IllegalStateException](
        SwapProtocol.storePresent(spark, table))
      assert(live.getMessage.contains("mid-swap"),
        s"live writer misread: ${live.getMessage}")
      // REAL process death: the beat dies with the JVM, like a crashed
      // driver — nothing in-process can clear or re-stamp the token
      p.destroyForcibly()
      assert(p.waitFor(60L, java.util.concurrent.TimeUnit.SECONDS),
        "killed writer did not terminate")
      // past one full TTL (plus slack for the pre-kill beat's last
      // stamp), the token is stale: no writer can be mid-swap
      Thread.sleep(ttlMs + 2000L)
      val parked = intercept[IllegalStateException](
        SwapProtocol.storePresent(spark, table))
      assert(parked.getMessage.contains("crash-parked"),
        s"dead writer misread: ${parked.getMessage}")
      // the heal restores the pre-swap table intact (the staged rewrite
      // never landed) and clears the dead token with it
      assert(SwapProtocol.recoverSwap(spark, table))
      assert(SwapProtocol.storePresent(spark, table))
      assert(tableContent(table) == "v1",
        "recovery restored the wrong generation")
      assert(!SwapProtocol.hasParkedSwap(spark, table))
    } finally if (p.isAlive) p.destroyForcibly()
  }

  test("cross-process: a reader process resolves token residue; fresh v2 reads in-flight, stale or unknown-version crash-parked") {
    // The token contract across a REAL process boundary: a reader (own
    // JVM, own clock) resolving a parked signature whose token another
    // writer process left — a fresh v2|millis|nonce reads in-flight; a
    // stale one and an UNKNOWN version both resolve to the loud
    // crash-park verdict.
    val dir = Files.createTempDirectory("swap-xproc-fmt").toString
    val table = s"$dir/series"
    Files.createDirectories(java.nio.file.Paths.get(s"$table._compact_old"))
    Files.write(
      java.nio.file.Paths.get(s"$table._compact_old/data.txt"),
      "v1".getBytes("UTF-8")) // parked signature: live absent, data parked
    val token = java.nio.file.Paths.get(s"$table._swap_inflight")
    // wide: the "fresh" stamps must still read fresh after a reader-JVM
    // boot that can take tens of seconds under full-suite load; the
    // stale fixture stamp is 10 min old, comfortably past even this
    val ttlMs = 300000L
    def readerVerdict(tokenLine: String, what: String): String = {
      Files.write(token, tokenLine.getBytes("UTF-8"))
      val ev = s"$dir/events-${math.abs(tokenLine.hashCode)}.log"
      val log = java.io.File.createTempFile("swap-xproc-fmt", ".log")
      val p = forkJvm(Seq("read", table, ttlMs.toString, ev), log)
      try {
        val deadline = System.currentTimeMillis() + 120000L
        while (events(ev).isEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(100L)
        assert(events(ev).nonEmpty,
          s"$what: reader never reported; log tail:\n" +
            new String(Files.readAllBytes(log.toPath), "UTF-8")
              .linesIterator.toSeq.takeRight(25).mkString("\n"))
        events(ev).head
      } finally if (p.isAlive) p.destroyForcibly()
    }
    val now = System.currentTimeMillis()
    val stale = now - 10L * 60L * 1000L
    assert(readerVerdict(s"v2|$now|nn-v2", "fresh v2") == "verdict-inflight",
      "a fresh v2 token must read in-flight across the process boundary")
    assert(readerVerdict(s"v2|$stale|nn-v2", "stale v2")
      == "verdict-parked",
      "a stale v2 token must read crash-parked across the process boundary")
    assert(readerVerdict(s"v3|$now|nn-future", "unknown version")
      == "verdict-parked",
      "an unknown future version must resolve maximally stale (crash-park)")
  }
}
