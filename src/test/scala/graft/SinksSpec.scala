package graft

import java.nio.file.Files

import graft.core.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem that answers for the `leaseless:` scheme — lets a
  * test exercise "readable filesystem, but no registered lease medium"
  * (plain LocalFileSystem rejects foreign schemes in checkPath).
  * Instantiated by Hadoop via reflection (fs.leaseless.impl).
  */
class LeaselessRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("leaseless:///")
}

/** Same local-fs trick for the `deadcoord:` scheme — a REGISTERED lease
  * medium whose coordination database is down (SinksSpec's unreachable
  * status case).
  */
class DeadCoordRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("deadcoord:///")
}

class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("current + snapshot dimension refresh: overwrite vs history accumulation") {
    val dir = Files.createTempDirectory("sinks").toString
    val day1 = Seq(("AAPL", "stocks", true), ("MSFT", "stocks", true))
      .toDF("ticker", "market", "active")
    val day2 = Seq(("AAPL", "stocks", false), ("MSFT", "stocks", true))
      .toDF("ticker", "market", "active")
    Sinks.writeCurrent(day1, s"$dir/current")
    Sinks.writeSnapshot(day1, s"$dir/history", ts("2024-01-01 00:00:00"))
    Sinks.writeCurrent(day2, s"$dir/current")
    Sinks.writeSnapshot(day2, s"$dir/history", ts("2024-01-02 00:00:00"))

    assert(spark.read.parquet(s"$dir/current").count() == 2) // overwritten
    assert(spark.read.parquet(s"$dir/history").count() == 4) // accumulated
    val latest = Sinks.latestSnapshot(spark, s"$dir/history")
    assert(latest.filter(col("ticker") === "AAPL").select("active")
      .as[Boolean].head() == false, "latest snapshot must be day2")
    // replayable history: day1's view is intact (the 'stale live-data' read)
    val stale = spark.read.parquet(s"$dir/history")
      .filter(col("snapshot_ts") === lit(ts("2024-01-01 00:00:00")))
    assert(stale.filter(col("ticker") === "AAPL").select("active")
      .as[Boolean].head() == true)
  }

  test("idempotentAppend: replaying a batch adds nothing; new keys append") {
    val dir = Files.createTempDirectory("sinks-append").toString + "/bars"
    val b1 = Seq(("AAPL", 100L, true, 1.0), ("AAPL", 200L, true, 2.0))
      .toDF("ticker", "t", "adjusted", "c")
    Sinks.idempotentAppend(b1, dir, Seq("ticker", "t", "adjusted"), Seq("ticker"))
    Sinks.idempotentAppend(b1, dir, Seq("ticker", "t", "adjusted"), Seq("ticker"))
    assert(spark.read.parquet(dir).count() == 2, "replay must be a no-op")
    val b2 = Seq(("AAPL", 200L, true, 2.0), ("AAPL", 300L, true, 3.0))
      .toDF("ticker", "t", "adjusted", "c")
    Sinks.idempotentAppend(b2, dir, Seq("ticker", "t", "adjusted"), Seq("ticker"))
    val rows = spark.read.parquet(dir).select("t").as[Long].collect().sorted
    assert(rows.toSeq == Seq(100L, 200L, 300L))
  }

  test("Backfill.run: pages → silver (partitioned, deduped) → gold 5m bars") {
    val pages = Files.createTempDirectory("bf-pages")
    val wh = Files.createTempDirectory("bf-wh").toString
    val dir = pages.resolve("AAPL/adjusted")
    Files.createDirectories(dir)
    // two pages with an overlap duplicate at t=120000
    Files.writeString(dir.resolve("page-0000.json"),
      """{"results":[{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2},
        |{"t":120000,"o":2,"h":3,"l":2,"c":3,"v":20,"vw":2.5,"n":2}],
        |"next_url":"page-0001.json"}""".stripMargin)
    Files.writeString(dir.resolve("page-0001.json"),
      """{"results":[{"t":120000,"o":2,"h":3,"l":2,"c":3,"v":20,"vw":2.5,"n":2},
        |{"t":600000,"o":5,"h":6,"l":4,"c":5,"v":30,"vw":5.0,"n":3}],
        |"next_url":null}""".stripMargin)
    graft.app.Backfill.run(spark, pages.toString, wh)
    val silver = spark.read.parquet(s"$wh/silver/bars")
    assert(silver.count() == 3, "duplicate across pages must collapse")
    assert(silver.columns.contains("datetime"))
    val gold = spark.read.parquet(s"$wh/gold/bars_5m")
    // t=60s,120s in the first 5-min bucket; t=600s in the third
    assert(gold.count() == 2)
    val b0 = gold.filter(col("bucket") === lit(ts("1970-01-01 00:00:00"))).head()
    assert(b0.getAs[Double]("o") == 1.0 && b0.getAs[Double]("c") == 3.0)
    assert(b0.getAs[Double]("v") == 30.0)
    // replay the whole backfill: idempotent
    graft.app.Backfill.run(spark, pages.toString, wh)
    assert(spark.read.parquet(s"$wh/silver/bars").count() == 3)
  }

  test("a crash-parked bucketed store heals on read and append instead of resurrecting empty") {
    import graft.core.Sinks
    val base = Files.createTempDirectory("bkt-park").toString
    val p = s"$base/store"
    Sinks.bucketedIdempotentAppend(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), p,
      keys = Seq("k"), bucketKeys = Seq("k"), buckets = 2)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def park(): Unit = assert(fs.rename(hp,
      new org.apache.hadoop.fs.Path(p + "._compact_old")))
    // the crash window bucketedSwapInto documents: live dir gone, data
    // parked, the sibling spec ledger still present. A LEASE-FREE read
    // must FAIL LOUDLY (healing here could collide with a live writer's
    // in-flight swap; silently-empty is the trim that admits everything),
    // and the same read inside a leased call tree must heal and serve
    park()
    val ex = intercept[IllegalStateException](Sinks.readBucketedPath(spark, p))
    assert(ex.getMessage.contains("crash-parked") &&
      ex.getMessage.contains("repair"),
      s"lease-free read of a parked store must point at repair: ${ex.getMessage}")
    graft.core.WarehouseLease.withWriteLease(spark, base) {
      assert(Sinks.readBucketedPath(spark, p).count() == 2L,
        "leased read of a parked store must recover the swap, not scan empty")
    }
    // an append on a parked store must heal FIRST and preserve the old
    // rows — the create branch would otherwise rebuild the store empty
    // over the parked data
    park()
    Sinks.bucketedIdempotentAppend(
      Seq((3L, "c")).toDF("k", "v"), p,
      keys = Seq("k"), bucketKeys = Seq("k"), buckets = 2)
    assert(Sinks.readBucketedPath(spark, p)
      .select("k").as[Long].collect().toSet == Set(1L, 2L, 3L),
      "append on a parked store must recover, then append")
  }

  test("swap-inflight token: paused healthy writer reads as in-flight, crashed writer as parked") {
    import graft.core.Sinks
    val base = Files.createTempDirectory("swap-token").toString
    val p = s"$base/store"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(p + "._compact_old")
    val token = new org.apache.hadoop.fs.Path(p + "._swap_inflight")
    def park(): Unit = assert(fs.rename(hp, old))
    def unpark(): Unit = assert(fs.rename(old, hp))
    def stamp(atMs: Long): Unit = {
      val out = fs.create(token, true)
      try out.write(s"v2|$atMs|nn-test".getBytes("UTF-8")) finally out.close()
    }
    // PAUSED WRITER: parked signature + fresh token = a healthy swap is
    // between its two renames (a GC pause, a slow object-store rename).
    // The lease-free gate must fail with the IN-FLIGHT message — "retry,
    // don't repair" — never the spurious crash report the old timing
    // probe produced after 600 ms, and never silently-absent
    park()
    stamp(System.currentTimeMillis())
    val inflight = intercept[IllegalStateException](Sinks.storePresent(spark, p))
    assert(inflight.getMessage.contains("mid-swap") &&
      inflight.getMessage.contains("do not run repair") &&
      !inflight.getMessage.contains("crash-parked"),
      s"fresh token must read as in-flight: ${inflight.getMessage}")
    // CRASHED WRITER: the token outlived the inflight TTL — no writer can
    // still be mid-swap, so the gate reports the crash-park and points at
    // repair (protocol-decided, no sleep on the read path)
    stamp(System.currentTimeMillis() - 10L * 60L * 1000L)
    val crashed = intercept[IllegalStateException](Sinks.storePresent(spark, p))
    assert(crashed.getMessage.contains("crash-parked") &&
      crashed.getMessage.contains("repair"),
      s"stale token must read as crash-parked: ${crashed.getMessage}")
    // NO TOKEN at all (pre-token residue, hand surgery): same crash-park
    // answer as before the protocol existed
    fs.delete(token, false)
    val legacy = intercept[IllegalStateException](Sinks.storePresent(spark, p))
    assert(legacy.getMessage.contains("crash-parked"), legacy.getMessage)
    // the TTL is deployment-tunable for copy-based-rename stores: with a
    // huge TTL the same old stamp reads as in-flight again
    stamp(System.currentTimeMillis() - 10L * 60L * 1000L)
    spark.conf.set(Sinks.SwapInflightTtlKey, "3600000")
    try {
      val slow = intercept[IllegalStateException](Sinks.storePresent(spark, p))
      assert(slow.getMessage.contains("mid-swap"), slow.getMessage)
    } finally spark.conf.unset(Sinks.SwapInflightTtlKey)
    // WRITER COMPLETES while the reader decides: live back + token not yet
    // cleared → present, no error (the re-probe inside the gate)
    unpark()
    stamp(System.currentTimeMillis())
    assert(Sinks.storePresent(spark, p),
      "live store with token residue must read as present")
    fs.delete(token, false)
    // a COMPLETED rewrite leaves no token residue: stamped before the
    // stage-out, cleared after the swap-in
    Sinks.compact(spark, p, targetFiles = 1)
    assert(!fs.exists(token), "completed swap must clear its token")
    assert(Sinks.storePresent(spark, p) &&
      spark.read.parquet(p).count() == 2L)
  }

  test("swap-inflight token is re-stamped mid-swap: a slow healthy swap outliving the TTL stays in-flight; a killed writer goes stale") {
    import graft.core.{Sinks, SwapProtocol}
    val base = Files.createTempDirectory("swap-beat").toString
    val p = s"$base/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(p + "._compact_old")
    val token = new org.apache.hadoop.fs.Path(p + "._swap_inflight")
    // a short-but-wide TTL so "the swap outlives the TTL" fits in a test
    // WITHOUT wall-clock sensitivity (ADVICE r16: 1.2 s TTL tolerated
    // only ~800 ms of scheduler slip and flaked under full-suite load):
    // beat period = ttl/3 = 1 s, so the shared restamp pool may slip a
    // full 2 s before a false stale, and the slow rename window below
    // runs for ~2.5 TTLs — without the re-stamping beat, every read past
    // 3 s would false-crash
    spark.conf.set(Sinks.SwapInflightTtlKey, "3000")
    try {
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() =>
        try SwapProtocol.withSwapToken(spark, fs, p) {
          // the rename window of a healthy-but-slow swap (a copy-based
          // directory rename of a huge table): live absent, data parked
          assert(fs.rename(hp, old))
          Thread.sleep(7500L)
          assert(fs.rename(old, hp))
        } catch { case t: Throwable => failure.set(t) })
      writer.start()
      Thread.sleep(5000L) // well past the 3 s TTL, writer still mid-swap
      val ex = intercept[IllegalStateException](Sinks.storePresent(spark, p))
      assert(ex.getMessage.contains("mid-swap") &&
        !ex.getMessage.contains("crash-parked"),
        s"a re-stamped token must keep reading in-flight past the TTL: ${ex.getMessage}")
      writer.join(30000L)
      assert(failure.get() == null, s"writer failed: ${failure.get()}")
      // completed: token cleared, store healthy
      assert(!fs.exists(token), "completed swap must clear its token")
      assert(Sinks.storePresent(spark, p))
      // KILLED writer: the beat dies with the process — model it as a
      // token stamped once with no beat behind it; one TTL later the
      // parked signature reads as the crash it is
      assert(fs.rename(hp, old))
      val out = fs.create(token, true)
      // stamp it already-stale (2 TTLs old) — no sleep on the test path
      try out.write(s"v2|${System.currentTimeMillis() - 6000L}|nn-killed"
        .getBytes("UTF-8"))
      finally out.close()
      val crashed = intercept[IllegalStateException](Sinks.storePresent(spark, p))
      assert(crashed.getMessage.contains("crash-parked"), crashed.getMessage)
      assert(fs.rename(old, hp))
      fs.delete(token, false)
    } finally spark.conf.unset(Sinks.SwapInflightTtlKey)
  }

  test("token re-stamps are ATOMIC: a tight reader loop never catches a beat mid-rewrite as crash-parked") {
    // The bug this locks (caught by SwapRaceSpec's cross-process poll):
    // stamping via create(overwrite) rewrites the token as delete-then-
    // recreate-then-write on a checksummed/posix fs, so a reader polling
    // DURING a beat's re-stamp saw the token absent or torn and misread
    // a healthy mid-swap table as crash-parked. The stamp is now
    // write-to-temp + atomic overwrite rename; this reader hammers
    // storePresent with NO sleep (thousands of polls across several
    // re-stamps — the old code failed this in well under one window),
    // and every poll must resolve present or in-flight, never absent,
    // never crash-parked.
    import graft.core.{Sinks, SwapProtocol}
    val base = Files.createTempDirectory("swap-atomic").toString
    val p = s"$base/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(p + "._compact_old")
    // same wall-clock margins as the re-stamp test above: beat period
    // ttl/3 = 1 s, staleness bound 3 s, window 4 s (~4 re-stamps)
    spark.conf.set(Sinks.SwapInflightTtlKey, "3000")
    try {
      val windowOpen = new java.util.concurrent.atomic.AtomicBoolean(false)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() =>
        try SwapProtocol.withSwapToken(spark, fs, p) {
          assert(fs.rename(hp, old))
          windowOpen.set(true)
          Thread.sleep(4000L)
          assert(fs.rename(old, hp))
        } catch { case t: Throwable => failure.set(t) }
        finally done.set(true))
      writer.start()
      var polls = 0L
      var inflight = 0L
      while (!done.get()) {
        try { if (Sinks.storePresent(spark, p)) () else fail(
          "a mid-swap table read as ABSENT during a token re-stamp") }
        catch {
          case e: IllegalStateException =>
            assert(e.getMessage.contains("mid-swap"),
              s"torn/absent token mid-re-stamp: ${e.getMessage}")
            inflight += 1
        }
        polls += 1
      }
      writer.join(30000L)
      assert(failure.get() == null, s"writer failed: ${failure.get()}")
      assert(inflight >= 1000L,
        s"the hammer loop barely ran inside the window ($inflight in-flight " +
          s"reads of $polls polls) — the race was not exercised")
      assert(Sinks.storePresent(spark, p))
    } finally spark.conf.unset(Sinks.SwapInflightTtlKey)
  }

  test("wedged swap-token beats orphan single-use threads: a concurrent swap's beats survive") {
    import graft.core.{Sinks, SwapProtocol}
    // Parity with the lease-side fix: token beats used to run their
    // filesystem I/O directly on the shared 2-thread restamp pool, so
    // TWO re-stamps wedged on degraded stores parked both threads and
    // silenced ALL swap-token beating in the JVM — a healthy concurrent
    // swap outliving its TTL then false-read as crash-parked. Beats now
    // dispatch to single-use daemon threads: two wedged swaps must not
    // stop a third, healthy swap's token from staying fresh past the TTL.
    val base = Files.createTempDirectory("swap-wedge").toString
    val paths = (1 to 3).map { i =>
      val p = s"$base/store$i"
      Seq((i.toLong, "x")).toDF("k", "v").write.parquet(p)
      p
    }
    val rawFs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wedge = new java.util.concurrent.atomic.AtomicBoolean(false)
    // wedge ONLY token writes (the beat's create) — reads, deletes, and
    // the initial caller-thread stamp (wedge still false then) flow free
    val wedgingFs = new org.apache.hadoop.fs.FilterFileSystem(rawFs) {
      override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean)
          : org.apache.hadoop.fs.FSDataOutputStream = {
        // beats stamp via a temp file since the atomic-rename fix, so
        // match any token-family name (live or `.tmp-<nonce>`)
        if (wedge.get() && f.getName.contains("._swap_inflight")) {
          new java.util.concurrent.CountDownLatch(1).await() // park forever
        }
        super.create(f, overwrite)
      }
    }
    // a WIDE ttl-to-period margin (period 800 ms, staleness only past
    // 2400 ms) so scheduler slip under full-suite load cannot flake the
    // mid-swap assertion — the r16 ADVICE lesson on wall-clock-sensitive
    // token tests
    spark.conf.set(Sinks.SwapInflightTtlKey, "2400")
    try {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def swapThread(fs: org.apache.hadoop.fs.FileSystem, p: String,
                     sleepMs: Long) = {
        val t = new Thread(() =>
          try SwapProtocol.withSwapToken(spark, fs, p) {
            val hp = new org.apache.hadoop.fs.Path(p)
            val old = new org.apache.hadoop.fs.Path(p + "._compact_old")
            assert(fs.rename(hp, old))
            Thread.sleep(sleepMs)
            assert(fs.rename(old, hp))
          } catch { case t: Throwable => failures.add(t) })
        t.setDaemon(true); t.start(); t
      }
      // two swaps on the wedging fs: initial stamps land (wedge off),
      // then every subsequent beat write parks its single-use thread
      val w1 = swapThread(wedgingFs, paths(0), 2500L)
      val w2 = swapThread(wedgingFs, paths(1), 2500L)
      Thread.sleep(100L)
      wedge.set(true)
      // the healthy third swap outlives the 2.4 s TTL — its beats must
      // keep re-stamping even with two beat threads parked forever
      val w3 = swapThread(rawFs, paths(2), 6500L)
      Thread.sleep(5200L) // w3 past 2 TTLs, still mid-swap
      val ex = intercept[IllegalStateException](
        Sinks.storePresent(spark, paths(2)))
      assert(ex.getMessage.contains("mid-swap") &&
        !ex.getMessage.contains("crash-parked"),
        s"the healthy swap's beat must survive the wedges: ${ex.getMessage}")
      wedge.set(false)
      Seq(w1, w2, w3).foreach(_.join(30000L))
      assert(failures.isEmpty, s"swap bodies failed: ${failures}")
      paths.foreach(p => assert(Sinks.storePresent(spark, p)))
    } finally spark.conf.unset(Sinks.SwapInflightTtlKey)
  }

  test("zombie token garbage on a LIVE swap's path is reclaimed by its beat; the exit leaves no token behind") {
    import graft.core.{Sinks, SwapProtocol}
    // The lease admits ONE live swap per path, so a foreign-nonce token
    // appearing mid-window can only be a dead zombie's late-landing
    // write (a beat that wedged mid-stamp in a previous swap of this
    // path and unblocked now). Refusing it — the first nonce design —
    // left the garbage's stale millis as the token for the REST of the
    // window: a persistent false crash-park to every lease-free reader.
    // The live swap's beat now reclaims its path within one period, and
    // the exit clears whatever is there (its own stamp or late garbage).
    val base = Files.createTempDirectory("swap-nonce").toString
    val p = s"$base/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = new org.apache.hadoop.fs.Path(p + "._swap_inflight")
    // read like the protocol does — RAW (tokens carry no checksum
    // sidecar, and a planted one's stale .crc must not trip the test)
    def tokenContent(): String = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p + "._swap_inflight")), "UTF-8")
    spark.conf.set(Sinks.SwapInflightTtlKey, "750") // beat period 250 ms
    try {
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() =>
        try SwapProtocol.withSwapToken(spark, fs, p)(Thread.sleep(2600L))
        catch { case t: Throwable => failure.set(t) })
      writer.start()
      Thread.sleep(600L) // the swap's beat is live
      // zombie garbage lands: foreign nonce, distinctively stale stamp
      val garbageStamp = System.currentTimeMillis() - 7777777L
      val out = fs.create(token, true)
      try out.write(s"v2|$garbageStamp|zz-zombie".getBytes("UTF-8"))
      finally out.close()
      // within a couple of beat periods the LIVE swap reclaims its path:
      // fresh millis, its own nonce — never the zombie's stale stamp
      val deadline = System.currentTimeMillis() + 2000L
      var content = tokenContent()
      while (content.endsWith("|zz-zombie") &&
        System.currentTimeMillis() < deadline) {
        Thread.sleep(50L); content = tokenContent()
      }
      assert(!content.endsWith("|zz-zombie"),
        s"the live swap's beat never reclaimed the zombie garbage: $content")
      assert(math.abs(System.currentTimeMillis() -
        graft.core.SwapProtocol.parseSwapToken(content)._1) < 5000L,
        s"reclaimed token must carry a fresh stamp: $content")
      writer.join(30000L)
      assert(failure.get() == null, s"writer failed: ${failure.get()}")
      // the exit cleared the token — its own stamp or any late garbage
      assert(!fs.exists(token),
        "the swap's exit must leave no token on its path")
    } finally spark.conf.unset(Sinks.SwapInflightTtlKey)
  }

  test("a beat wedged mid-stamp whose write lands AFTER its swap exited is healed by the next swap's beat") {
    import graft.core.{Sinks, SwapProtocol}
    // The irreducible residue: a beat wedged INSIDE its stamp I/O passed
    // every ownership check before the wedge, so its write lands blind —
    // no re-check can stop it. What the protocol guarantees instead is
    // the heal: the NEXT swap's beat (the registered live swap for the
    // path) reclaims the clobbered token within one period, so the false
    // crash-park window is one beat period, never the rest of the window.
    val base = Files.createTempDirectory("swap-zombie").toString
    val p = s"$base/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    val rawFs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = new org.apache.hadoop.fs.Path(p + "._swap_inflight")
    val wedge = new java.util.concurrent.atomic.AtomicBoolean(false)
    val gate = new java.util.concurrent.CountDownLatch(1)
    // park BEAT stamps (the temp create) while wedged; release via gate
    val wedgingFs = new org.apache.hadoop.fs.FilterFileSystem(rawFs) {
      override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean)
          : org.apache.hadoop.fs.FSDataOutputStream = {
        if (wedge.get() && f.getName.contains("._swap_inflight.tmp-")) {
          gate.await(30L, java.util.concurrent.TimeUnit.SECONDS)
          ()
        }
        super.create(f, overwrite)
      }
    }
    def nonceOf(): String = graft.core.SwapProtocol.parseSwapToken(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p + "._swap_inflight")), "UTF-8"))._2
    spark.conf.set(Sinks.SwapInflightTtlKey, "750") // beat period 250 ms
    try {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      // swap A: initial stamp flows (wedge off), then its first beat
      // parks inside the temp create holding A's stamp content
      val a = new Thread(() =>
        try SwapProtocol.withSwapToken(spark, wedgingFs, p) {
          wedge.set(true)
          Thread.sleep(700L) // one beat fires at ~250 ms and parks
        } catch { case t: Throwable => failures.add(t) })
      a.start()
      a.join(30000L) // A exits; its parked beat is now a live zombie
      wedge.set(false)
      // swap B: registers, stamps, beats — the live swap on the path
      val b = new Thread(() =>
        try SwapProtocol.withSwapToken(spark, rawFs, p)(Thread.sleep(3500L))
        catch { case t: Throwable => failures.add(t) })
      b.start()
      Thread.sleep(500L)
      val nonceB = nonceOf()
      // release the zombie: its blind write lands with A's nonce and
      // A's PRE-WEDGE millis — then B's next beat must take the path back
      gate.countDown()
      val deadline = System.currentTimeMillis() + 2500L
      var healed = false
      while (!healed && System.currentTimeMillis() < deadline) {
        Thread.sleep(50L)
        healed = try nonceOf() == nonceB catch { case _: Exception => false }
      }
      assert(healed,
        s"B's beat never reclaimed the path from the zombie's blind write " +
          s"(token nonce ${nonceOf()} vs B's $nonceB)")
      b.join(30000L)
      assert(failures.isEmpty, s"swap bodies failed: $failures")
      assert(!rawFs.exists(token), "B's exit must leave no token")
    } finally spark.conf.unset(Sinks.SwapInflightTtlKey)
  }

  test("swap-token skew allowance: a reader ahead of the writer reads a healthy swap in-flight, mechanically") {
    import graft.core.Sinks
    // SwapProtocol's staleness decision compares the WRITER's stamp to
    // the READER's clock; a reader ahead by ~TTL used to misread a
    // healthy in-flight swap as crash-parked (doc-only TTL-sizing
    // advice). spark.graft.swap.skewAllowanceMs now widens the
    // comparison mechanically. Modeled with a token stamped in the
    // reader's past beyond the TTL — exactly what a fast reader clock
    // sees of a healthy writer's fresh stamp.
    val base = Files.createTempDirectory("swap-skew").toString
    val p = s"$base/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(p + "._compact_old")
    val token = new org.apache.hadoop.fs.Path(p + "._swap_inflight")
    assert(fs.rename(hp, old)) // parked signature
    val out = fs.create(token, true)
    try out.write(s"v2|${System.currentTimeMillis() - 3000L}|wr-nonce"
      .getBytes("UTF-8"))
    finally out.close()
    spark.conf.set(Sinks.SwapInflightTtlKey, "1200")
    try {
      // without the allowance: 3 s old > 1.2 s TTL — crash-park
      val crashed = intercept[IllegalStateException](
        Sinks.storePresent(spark, p))
      assert(crashed.getMessage.contains("crash-parked"), crashed.getMessage)
      // with a 5 s allowance (the deployment's known skew bound): the
      // same token reads as a healthy in-flight swap — retry, not repair
      spark.conf.set(Sinks.SwapSkewAllowanceKey, "5000")
      try {
        val inflight = intercept[IllegalStateException](
          Sinks.storePresent(spark, p))
        assert(inflight.getMessage.contains("mid-swap") &&
          !inflight.getMessage.contains("crash-parked"),
          inflight.getMessage)
      } finally spark.conf.unset(Sinks.SwapSkewAllowanceKey)
      // allowance removed: back to the loud crash report
      val again = intercept[IllegalStateException](
        Sinks.storePresent(spark, p))
      assert(again.getMessage.contains("crash-parked"), again.getMessage)
    } finally {
      spark.conf.unset(Sinks.SwapInflightTtlKey)
      assert(fs.rename(old, hp))
      fs.delete(token, false)
    }
  }

  test("warehouseStatus: the one operational read — lease holder, parked swaps, audit head, censuses") {
    import graft.core.WarehouseLease
    val wh = Files.createTempDirectory("wh-status").toString
    def allRows() = graft.app.CorpusIngest.warehouseStatus(spark, wh)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    // gauge rows are monotonic JVM counters (non-deterministic under a
    // full-suite run — the wedge tests drive them); presence and names
    // are asserted once below, values are LeaseSpec's to lock
    def rows() = allRows().filterNot(_._1 == "coordination")
    assert(allRows().filter(_._1 == "coordination").map(_._2).sorted ==
      Seq("orphaned_connects_jvm", "skipped_beats_jvm"),
      allRows().toString)
    // a bare free warehouse: lease <free>, no numbered audit yet, no
    // parked swaps, empty censuses
    assert(rows() == Seq(("audit_head", "audit_log", -1L),
      ("lease", "<free>", 0L)), rows().toString)
    // HELD: the lease row names the live owner with a future expiry (the
    // non-deterministic columns the corpus_status oracle cannot lock)
    WarehouseLease.withWriteLease(spark, wh, owner = "ops-driver",
      ttlMs = 60000L) {
      val lease = rows().filter(_._1 == "lease")
      assert(lease.map(_._2) == Seq("ops-driver"), lease.toString)
      assert(lease.head._3 > System.currentTimeMillis(),
        "expiry must be in the future while held")
    }
    assert(rows().contains(("lease", "<free>", 0L)), "released reads free")
    // a crash-parked swap surfaces by warehouse-relative table name
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$wh/corpus/doc_stats")
    val hp = new org.apache.hadoop.fs.Path(s"$wh/corpus/doc_stats")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(hp,
      new org.apache.hadoop.fs.Path(s"$wh/corpus/doc_stats._compact_old")))
    assert(rows().contains(("parked_swap", "corpus/doc_stats", 1L)),
      rows().toString)
  }

  test("warehouseStatus degrades the lease row on a scheme with no lease medium, instead of failing the read") {
    // a readable filesystem whose SCHEME has no registered lease medium
    // (the conservative refusal path): the metadata components must still
    // answer, with the lease row reporting <unsupported> — an operator
    // asking "what state is this warehouse in" from a JVM that never
    // registered the deployment's medium deserves everything but the
    // lease column
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.leaseless.impl", classOf[LeaselessRawFs].getName)
    try {
      val dir = Files.createTempDirectory("wh-status-unsup").toString
      val rows = graft.app.CorpusIngest
        .warehouseStatus(spark, s"leaseless:$dir")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
      assert(rows.contains(("lease", "<unsupported>", 0L)), rows.toString)
      assert(rows.contains(("audit_head", "audit_log", -1L)), rows.toString)
      // the refusal stays loud where it matters: actually WRITING still
      // throws at acquire
      intercept[graft.core.WarehouseLease.LeaseUnsupportedException] {
        graft.core.WarehouseLease.acquire(spark, s"leaseless:$dir",
          owner = "x")
      }
    } finally conf.unset("fs.leaseless.impl")
  }

  test("warehouseStatus degrades the lease row when the medium is UNREACHABLE, instead of failing the read") {
    // the deployment-shaped failure: a REGISTERED medium (coordination
    // db) that cannot answer — its ops are timeout-bounded, so status
    // must degrade the one row it cannot compute to <unreachable> and
    // still deliver the parked-swap census, audit head, and censuses
    graft.core.WarehouseLease.registerMedium("deadcoord",
      (_, _) => new graft.core.WarehouseLease.CasLeaseMedium(
        new graft.core.WarehouseLease.AtomicCell {
          private def die: Nothing =
            throw new java.sql.SQLException("coordination db down", "08001")
          override def get(): Option[(String, String)] = die
          override def putIfAbsent(c: String): Boolean = die
          override def putIfTag(t: String, c: String): Boolean = die
          override def deleteIfTag(t: String): Boolean = die
        }))
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.deadcoord.impl", classOf[DeadCoordRawFs].getName)
    try {
      val dir = Files.createTempDirectory("wh-status-dead").toString
      val rows = graft.app.CorpusIngest
        .warehouseStatus(spark, s"deadcoord:$dir")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
      assert(rows.contains(("lease", "<unreachable>", 0L)), rows.toString)
      assert(rows.contains(("audit_head", "audit_log", -1L)), rows.toString)
      // writing through the dead medium stays loud at acquire
      intercept[java.sql.SQLException] {
        graft.core.WarehouseLease.acquire(spark, s"deadcoord:$dir",
          owner = "x")
      }
    } finally {
      conf.unset("fs.deadcoord.impl")
      graft.core.WarehouseLease.unregisterMedium("deadcoord")
    }
  }

  test("storePresent: the no-token parked store still fails loud after the completion re-probe") {
    import graft.core.Sinks
    // storePresent now re-probes the live path in EVERY token branch
    // before throwing (the ADVICE r15 race: a healthy writer can complete
    // its swap-in and clear its token between the reader's park check and
    // the token read — only a mid-call state change reaches that exact
    // interleaving, so this locks the two decidable halves around it):
    // a genuinely parked no-token store must still produce the loud
    // crash report, and a healthy store with stale token/old residue must
    // read present (the fresh-token half is in the swap-token test above).
    val base = Files.createTempDirectory("swap-resolve").toString
    val p = s"$base/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(p + "._compact_old")
    // no token, live present: trivially present (healthy)
    assert(Sinks.storePresent(spark, p))
    // no token, live absent, data parked — still the loud crash report
    assert(fs.rename(hp, old))
    val ex = intercept[IllegalStateException](Sinks.storePresent(spark, p))
    assert(ex.getMessage.contains("crash-parked"), ex.getMessage)
    assert(fs.rename(old, hp))
  }

  test("Backfill.fsck: healthy market warehouse audits clean; planted states are classified") {
    val pages = Files.createTempDirectory("bf-fsck-pages")
    val wh = Files.createTempDirectory("bf-fsck-wh").toString
    val dir = pages.resolve("AAPL/adjusted")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("page-0000.json"),
      """{"results":[{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2},
        |{"t":600000,"o":5,"h":6,"l":4,"c":5,"v":30,"vw":5.0,"n":3}],
        |"next_url":null}""".stripMargin)
    graft.app.Backfill.run(spark, pages.toString, wh)
    def findings() = graft.app.Backfill.fsck(spark, wh)
      .filter(col("violations") > 0)
      .select("check", "violations", "severity")
      .as[(String, Long, String)].collect().toSeq
    assert(findings().isEmpty, s"healthy market warehouse flagged: ${findings()}")

    // crash-parked swap: gold table parked mid-rename — warn, then healed
    val gp = new org.apache.hadoop.fs.Path(s"$wh/gold/bars_5m")
    val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(gp,
      new org.apache.hadoop.fs.Path(s"$wh/gold/bars_5m._compact_old")))
    assert(findings().contains(("parked_swap", 1L, "warn")), s"${findings()}")
    assert(graft.core.Sinks.recoverSwap(spark, s"$wh/gold/bars_5m"))
    assert(findings().isEmpty, s"recoverSwap must heal: ${findings()}")

    // the explicit watermark table is the library-level O-F5 protocol
    // (Backfill.run itself rides the page frontier) — stamp a consistent
    // one from silver, then tamper it into each documented state
    graft.core.Watermarks.advance(spark, wh,
      spark.read.parquet(s"$wh/silver/bars")
        .select("ticker", "timespan", "multiplier", "adjusted", "t"))
    assert(findings().isEmpty,
      s"a consistent watermark must audit clean: ${findings()}")
    // watermark BEHIND data (crash between append and advance): warn
    val wmPath = s"$wh/_watermarks"
    val saved = spark.read.parquet(wmPath).collect()
    val schema = spark.read.parquet(wmPath).schema
    def restamp(maxT: Long): Unit = {
      val rows = saved.map { r =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(
          schema.fieldIndex("max_t"), maxT))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq), schema)
        .write.mode("overwrite").parquet(wmPath)
    }
    restamp(60000L)
    assert(findings().contains(("watermark_behind_data", 1L, "warn")),
      s"${findings()}")
    // watermark AHEAD of data (governance delete or loss): warn
    restamp(999999999L)
    assert(findings().contains(("watermark_ahead_of_data", 1L, "warn")),
      s"${findings()}")
    // first-sweep crash: rows in silver but NO watermark row for the
    // series (filterNew passes watermark-less series whole; the advance
    // was preempted) — a watermark-side join could never see it; the
    // full-outer reports it under its own name (the state is ambiguous
    // with a page-frontier-managed series, so it is not "behind"), and
    // the orphaned MSFT watermark row (no data) counts ahead
    val msft = saved.map { r =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(
        schema.fieldIndex("ticker"), "MSFT"))
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(msft.toSeq), schema)
      .write.mode("overwrite").parquet(wmPath)
    assert(findings().contains(("watermark_missing_series", 1L, "warn")) &&
      findings().contains(("watermark_ahead_of_data", 1L, "warn")),
      s"first-sweep crash not counted: ${findings()}")
    restamp(600000L)
    assert(findings().isEmpty, s"restored watermark must audit clean: ${findings()}")

    // a duplicate (series, t) silver row violates the idempotent-append
    // contract — error. Plant it file-level inside the leaf partition dir
    // (silver is
    // partitioned by the series key; the duplicate bypasses the append's
    // existence check the way only corruption can)
    val silverRoot = new org.apache.hadoop.fs.Path(s"$wh/silver/bars")
    val it = fs.listFiles(silverRoot, true)
    var leaf: org.apache.hadoop.fs.Path = null
    while (it.hasNext && leaf == null) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) leaf = f.getParent
    }
    val leafDf = spark.read.parquet(leaf.toString)
    val one = leafDf.limit(1).collect().toSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(one), leafDf.schema)
      .coalesce(1).write.mode("append").parquet(leaf.toString)
    assert(findings().contains(("silver_duplicate_keys", 1L, "error")),
      s"${findings()}")
  }

  test("Backfill.run: dim refresh first, bar sweep restricted to stock tickers") {
    val pages = Files.createTempDirectory("bf-dims")
    val wh = Files.createTempDirectory("bf-dims-wh").toString
    val bar = """{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2}"""
    Seq("STK", "CRY").foreach { t =>
      val dir = pages.resolve(t).resolve("minute--1--adjusted")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("page-0000.json"),
        s"""{"results":[$bar],"next_url":null}""")
    }
    val ref = pages.resolve("_ref/tickers")
    Files.createDirectories(ref)
    Files.writeString(ref.resolve("page-0000.json"),
      """{"status":"OK","results":[
        |{"ticker":"STK","name":"Stock Co","market":"stocks","locale":"us",
        | "primary_exchange":"X","type":"CS","active":true,"currency_name":"usd"},
        |{"ticker":"CRY","name":"Coin","market":"crypto","locale":"us",
        | "primary_exchange":"X","type":"CS","active":true,"currency_name":"usd"}],
        |"next_url":null}""".stripMargin.replace("\n ", ""))
    graft.app.Backfill.run(spark, pages.toString, wh)
    // dims refreshed: current view + one snapshot partition
    val cur = spark.read.parquet(s"$wh/dims/tickers")
    assert(cur.count() == 2)
    val hist = spark.read.parquet(s"$wh/dims/tickers_history")
    assert(hist.select("snapshot_ts").distinct().count() == 1)
    // bar sweep restricted to market='stocks' (main.py:34-44 semantics)
    val silver = spark.read.parquet(s"$wh/silver/bars")
    assert(silver.select("ticker").as[String].collect().toSeq == Seq("STK"),
      "non-stock series must be excluded when the tickers dim exists")
  }

  test("batch Backfill and streaming LiveIngest land identical silver rows") {
    val pages = Files.createTempDirectory("parity-pages")
    val whB = Files.createTempDirectory("parity-wh-batch").toString
    val whS = Files.createTempDirectory("parity-wh-stream").toString
    val dir = pages.resolve("PAR/adjusted")
    Files.createDirectories(dir)
    // two pages with a boundary overlap: both paths must drop it exactly once
    Files.writeString(dir.resolve("page-0000.json"),
      """{"results":[{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2},
        |{"t":120000,"o":2,"h":3,"l":2,"c":3,"v":20,"vw":2.5,"n":2}],
        |"next_url":"page-0001.json"}""".stripMargin)
    Files.writeString(dir.resolve("page-0001.json"),
      """{"results":[{"t":120000,"o":2,"h":3,"l":2,"c":3,"v":20,"vw":2.5,"n":2},
        |{"t":180000,"o":3,"h":4,"l":3,"c":4,"v":30,"vw":3.5,"n":2}],
        |"next_url":null}""".stripMargin)
    graft.app.Backfill.run(spark, pages.toString, whB)
    graft.app.LiveIngest.start(spark, pages.toString, whS).awaitTermination()
    val cols = Seq("ticker", "timespan", "multiplier", "adjusted", "t",
      "o", "h", "l", "c", "v", "vw", "n").map(col)
    val batch = spark.read.parquet(s"$whB/silver/bars").select(cols: _*)
    val stream = spark.read.parquet(s"$whS/silver/bars_live").select(cols: _*)
    assert(batch.count() == 3)
    assert(batch.exceptAll(stream).isEmpty && stream.exceptAll(batch).isEmpty,
      "batch backfill and streaming ingest must agree row-for-row")
  }

  test("Backfill.run: mixed-granularity tree lands keyed by full series identity") {
    val pages = Files.createTempDirectory("bf-mixed")
    val wh = Files.createTempDirectory("bf-mixed-wh").toString
    def write(series: String, body: String): Unit = {
      val dir = pages.resolve("AAPL").resolve(series)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("page-0000.json"), body)
    }
    // same ticker, same t=60000, three granularities — they must NOT
    // collapse into one row in silver
    val bar = """{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2}"""
    write("minute--1--adjusted", s"""{"results":[$bar],"next_url":null}""")
    write("minute--5--adjusted", s"""{"results":[$bar],"next_url":null}""")
    write("hour--1--adjusted", s"""{"results":[$bar],"next_url":null}""")
    graft.app.Backfill.run(spark, pages.toString, wh)
    val silver = spark.read.parquet(s"$wh/silver/bars")
    assert(silver.count() == 3, "one silver row per series at the shared t")
    assert(silver.select("timespan", "multiplier")
      .as[(String, Int)].collect().sorted.toSeq ==
      Seq(("hour", 1), ("minute", 1), ("minute", 5)))
    // gold resamples the FINEST granularity only: coarser series are
    // already bars and would double-count
    val gold = spark.read.parquet(s"$wh/gold/bars_5m")
    assert(gold.count() == 1)
    assert(gold.head().getAs[Double]("v") == 10.0,
      "gold must fold only the 1-minute series")
  }

  test("diffSnapshots classifies added/removed/changed and names the changed columns") {
    val dir = Files.createTempDirectory("snap-diff").toString
    Sinks.writeSnapshot(
      Seq(("AAPL", "Apple", 100), ("MSFT", "Microsoft", 200),
          ("GONE", "Delisted Co", 300)).toDF("ticker", "name", "cap"),
      s"$dir/h", ts("2024-01-01 00:00:00"))
    Sinks.writeSnapshot(
      Seq(("AAPL", "Apple", 100), ("MSFT", "Microsoft Corp", 200),
          ("NEWCO", "Fresh Listing", 50)).toDF("ticker", "name", "cap"),
      s"$dir/h", ts("2024-02-01 00:00:00"))
    val d = Sinks.diffSnapshots(spark, s"$dir/h",
        ts("2024-01-15 00:00:00"), ts("2024-02-15 00:00:00"), Seq("ticker"))
      .select("ticker", "status", "changed_cols")
      .as[(String, String, Seq[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(d == Map(
      "NEWCO" -> ("added", Seq()),
      "GONE" -> ("removed", Seq()),
      "MSFT" -> ("changed", Seq("name"))), s"diff wrong: $d")
    // identical snapshots diff to nothing
    assert(Sinks.diffSnapshots(spark, s"$dir/h",
      ts("2024-02-02 00:00:00"), ts("2024-02-15 00:00:00"),
      Seq("ticker")).isEmpty)
  }

  test("snapshotAsOf: point-in-time reads land on the right snapshot; before-history throws") {
    val dir = Files.createTempDirectory("snap-asof").toString
    Seq(("2024-01-01 00:00:00", 1), ("2024-02-01 00:00:00", 2),
        ("2024-03-01 00:00:00", 3)).foreach { case (t, ver) =>
      Sinks.writeSnapshot(Seq(("AAPL", ver)).toDF("ticker", "ver"),
        s"$dir/h", ts(t))
    }
    def verAt(t: String): Int =
      Sinks.snapshotAsOf(spark, s"$dir/h", ts(t)).select("ver").as[Int].head()
    assert(verAt("2024-01-15 00:00:00") == 1, "strictly between 1 and 2 → snapshot 1")
    assert(verAt("2024-02-15 00:00:00") == 2, "strictly between 2 and 3 → snapshot 2")
    assert(verAt("2024-02-01 00:00:00") == 2, "at-or-before is inclusive")
    assert(verAt("2025-01-01 00:00:00") == 3, "after the last → latest")
    intercept[IllegalArgumentException] {
      Sinks.snapshotAsOf(spark, s"$dir/h", ts("2023-12-31 00:00:00")).count()
    }
  }

  test("Backfill.run asOf: forensic replay sweeps by the dim as known THEN, without refreshing") {
    val pages = Files.createTempDirectory("bf-asof")
    val bar = """{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2}"""
    Seq("STK", "CRY").foreach { t =>
      val dir = pages.resolve(t).resolve("minute--1--adjusted")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("page-0000.json"),
        s"""{"results":[$bar],"next_url":null}""")
    }
    // dim history: January knew CRY as crypto; February reclassified it
    def seedDims(wh: String): Unit = {
      Sinks.writeSnapshot(Seq(("STK", "stocks"), ("CRY", "crypto"))
        .toDF("ticker", "market"), s"$wh/dims/tickers_history",
        ts("2024-01-01 00:00:00"))
      Sinks.writeSnapshot(Seq(("STK", "stocks"), ("CRY", "stocks"))
        .toDF("ticker", "market"), s"$wh/dims/tickers_history",
        ts("2024-02-01 00:00:00"))
    }
    val whJan = Files.createTempDirectory("bf-asof-jan").toString
    seedDims(whJan)
    graft.app.Backfill.run(spark, pages.toString, whJan,
      Some(ts("2024-01-15 00:00:00")))
    assert(spark.read.parquet(s"$whJan/silver/bars")
      .select("ticker").as[String].collect().toSeq == Seq("STK"),
      "January's dim knew CRY as crypto — the replay must exclude it")
    assert(!Sinks.pathExists(spark, s"$whJan/dims/tickers"),
      "a forensic replay must not refresh/overwrite current dim views")
    val whFeb = Files.createTempDirectory("bf-asof-feb").toString
    seedDims(whFeb)
    graft.app.Backfill.run(spark, pages.toString, whFeb,
      Some(ts("2024-02-15 00:00:00")))
    assert(spark.read.parquet(s"$whFeb/silver/bars")
      .select("ticker").as[String].collect().sorted.toSeq == Seq("CRY", "STK"),
      "February's dim knew CRY as stocks — the replay must include it")
  }

  test("Backfill.run: gold ladder 1h/1d rungs are correct at the warehouse level") {
    val pages = Files.createTempDirectory("bf-ladder")
    val wh = Files.createTempDirectory("bf-ladder-wh").toString
    val dir = pages.resolve("LAD/minute--1--adjusted")
    Files.createDirectories(dir)
    // minute bars across 2 days; values chosen so every vwv sum is exact in
    // doubles and hour-0's volume-weighted vw (3.25) differs from the
    // avg-of-avgs (2.5) a naive rung-2 refold of vw would produce
    def bar(tMin: Long, o: Int, h: Int, l: Int, c: Int, v: Int, vw: Double,
            n: Int) =
      s"""{"t":${tMin * 60000},"o":$o,"h":$h,"l":$l,"c":$c,"v":$v,"vw":$vw,"n":$n}"""
    val bars = Seq(
      bar(1, 1, 2, 1, 2, 10, 1.0, 1),    // day1 00:01
      bar(30, 2, 5, 2, 5, 30, 4.0, 2),   // day1 00:30
      bar(75, 3, 3, 1, 1, 20, 2.5, 1),   // day1 01:15
      bar(780, 7, 9, 6, 8, 10, 8.0, 2),  // day1 13:00
      bar(1570, 5, 6, 4, 5, 10, 5.0, 1), // day2 02:10
      bar(1600, 5, 7, 5, 7, 10, 6.0, 1)) // day2 02:40
    Files.writeString(dir.resolve("page-0000.json"),
      s"""{"results":[${bars.mkString(",")}],"next_url":null}""")
    graft.app.Backfill.run(spark, pages.toString, wh)

    val cols = Seq("ticker", "adjusted", "bucket",
      "o", "h", "l", "c", "v", "n", "vw").map(col)
    val g1h = spark.read.parquet(s"$wh/gold/bars_1h").select(cols: _*)
    assert(g1h.count() == 4, "expected 4 hourly buckets (d1h0, d1h1, d1h13, d2h2)")
    val h0 = g1h.filter(col("bucket") === lit(ts("1970-01-01 00:00:00"))).head()
    assert(h0.getAs[Double]("o") == 1.0 && h0.getAs[Double]("c") == 5.0 &&
      h0.getAs[Double]("h") == 5.0 && h0.getAs[Double]("l") == 1.0)
    assert(h0.getAs[Double]("v") == 40.0)
    assert(h0.getAs[Double]("vw") == 3.25,
      "vw through the rung must be volume-weighted (vwv carried), not avg-of-avgs")

    val g1d = spark.read.parquet(s"$wh/gold/bars_1d").select(cols: _*)
    assert(g1d.count() == 2)
    val d1 = g1d.filter(col("bucket") === lit(ts("1970-01-01 00:00:00"))).head()
    assert(d1.getAs[Double]("o") == 1.0 && d1.getAs[Double]("c") == 8.0 &&
      d1.getAs[Double]("h") == 9.0 && d1.getAs[Double]("l") == 1.0 &&
      d1.getAs[Double]("v") == 70.0 && d1.getAs[Long]("n") == 6L)
    // ladder associativity END-TO-END on the warehouse: 1d refolded from the
    // 1h rung must equal a direct 1d refold of silver (vw re-derived exactly
    // through both rungs because vwv is the carried sum)
    val silver = spark.read.parquet(s"$wh/silver/bars")
      .withColumn("vwv", col("vw") * col("v"))
    val direct = graft.operators.MarketOps.refoldBars(silver, "1 day",
        Seq("ticker", "adjusted"), "datetime", Seq("v", "n", "vwv"))
      .withColumn("vw", col("vwv") / col("v")).drop("vwv")
      .select(cols: _*)
    assert(g1d.exceptAll(direct).isEmpty && direct.exceptAll(g1d).isEmpty,
      "1d-from-1h must equal 1d-direct-from-silver")
  }

  test("Backfill.run: gold derives the finest granularity present (no minute series)") {
    // ADVICE r2 regression lock: a tree whose finest series is 5-minute used
    // to produce a silently EMPTY gold table (gold hardcoded minute--1)
    val pages = Files.createTempDirectory("bf-5monly")
    val wh = Files.createTempDirectory("bf-5monly-wh").toString
    val dir = pages.resolve("AAPL").resolve("minute--5--adjusted")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("page-0000.json"),
      """{"results":[{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2},
        |{"t":360000,"o":2,"h":3,"l":2,"c":3,"v":20,"vw":2.5,"n":4}],
        |"next_url":null}""".stripMargin.replace("\n", ""))
    graft.app.Backfill.run(spark, pages.toString, wh)
    val gold = spark.read.parquet(s"$wh/gold/bars_5m")
    assert(gold.count() == 2,
      "a 5-minute-only tree must still produce gold (finest present wins)")
    assert(gold.select("v").as[Double].collect().sorted.toSeq == Seq(10.0, 20.0))
  }

  test("deleteByKey removes rows from the FILES, not just the reads") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("del").toString + "/t"
    spark.range(0, 100).select(col("id").as("doc_id"),
        (col("id") % 5).cast("string").as("lang"))
      .write.partitionBy("lang").parquet(dir)
    val takedown = Seq(7L, 13L, 99L).toDF("doc_id")

    val (before, after) =
      graft.core.Sinks.deleteByKey(spark, dir, takedown, Seq("doc_id"), Seq("lang"))
    assert((before, after) == ((100L, 97L)), s"got ($before, $after)")
    val back = spark.read.parquet(dir)
    assert(back.count() == 97)
    assert(back.filter(col("doc_id").isin(7L, 13L, 99L)).isEmpty)
    // gone from the bytes: no parquet file under the table contains the keys
    val raw = spark.read.parquet(dir + "/lang=2") // 7 % 5 = 2 lives here
    assert(raw.filter(col("doc_id") === 7L).isEmpty, "row survived in the files")
    // idempotent: deleting the same keys again rewrites nothing
    val (b2, a2) =
      graft.core.Sinks.deleteByKey(spark, dir, takedown, Seq("doc_id"), Seq("lang"))
    assert((b2, a2) == ((97L, 97L)))
  }

  test("deleteByAnyKey purges rows matching either edge column in one rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("delany").toString + "/pairs"
    graft.core.Sinks.bucketedIdempotentAppend(
      Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L)).toDF("doc_a", "doc_b"),
      dir, keys = Seq("doc_a", "doc_b"), bucketKeys = Seq("doc_a", "doc_b"),
      buckets = 2)

    // key 2 appears as doc_a in one row and doc_b in another — both must go
    val (b, a) = graft.core.Sinks.deleteBucketedByAnyKey(
      spark, dir, Seq(2L).toDF("doc_id"), "doc_id", Seq("doc_a", "doc_b"))
    assert((b, a) == ((4L, 2L)), s"got ($b, $a)")
    assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet
      == Set((4L, 5L), (6L, 7L)))

    // no-match takedown: existence probe short-circuits, no rewrite churn
    val filesBefore = graft.core.Sinks.dataFileCount(spark, dir)
    val (b2, a2) = graft.core.Sinks.deleteBucketedByAnyKey(
      spark, dir, Seq(42L).toDF("doc_id"), "doc_id", Seq("doc_a", "doc_b"))
    assert((b2, a2) == ((2L, 2L)))
    assert(graft.core.Sinks.dataFileCount(spark, dir) == filesBefore,
      "a miss must not rewrite the table")
  }

  test("deleteByKey: the anti-join runs once, riding the rewrite write") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("del-scan").toString + "/t"
    spark.range(0, 50).select(col("id").as("doc_id")).write.parquet(dir)
    val plans = new scala.collection.mutable.ArrayBuffer[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (b, a) = graft.core.Sinks.deleteByKey(
        spark, dir, Seq(7L).toDF("doc_id"), Seq("doc_id"))
      assert((b, a) == ((50L, 49L)))
      // listener delivery is async — poll until the write's plan arrives
      val deadline = System.currentTimeMillis() + 30000
      def anti() = plans.synchronized(plans.filter(_.contains("LeftAnti")))
      while (anti().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      Thread.sleep(500) // absorb any straggling execution events
      val antiPlans = anti()
      assert(antiPlans.size == 1,
        s"the anti-join must run exactly once (it used to also run a " +
          s"standalone count pass), got ${antiPlans.size}")
      assert(antiPlans.head.contains("WriteFiles"),
        "the single anti-join execution must be the rewrite write itself")
    } finally spark.listenerManager.unregister(listener)
  }

  test("rewrite reads preserve partition directory text (no numeric re-typing)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("del-ptype").toString + "/t"
    // '02' survives partition inference only as TEXT — inferred as int it
    // would be re-serialized to lang=2, renaming the directory
    Seq((1L, "02"), (2L, "02"), (3L, "10"), (4L, "10")).toDF("doc_id", "lang")
      .write.partitionBy("lang").parquet(dir)
    graft.core.Sinks.deleteByKey(spark, dir, Seq(3L).toDF("doc_id"),
      Seq("doc_id"), Seq("lang"))
    val dirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("lang=")).sorted.toSeq
    assert(dirs == Seq("lang=02", "lang=10"),
      s"partition directory text must round-trip the rewrite: $dirs")
    graft.core.Sinks.compact(spark, dir, targetFiles = 1, Seq("lang"))
    val dirs2 = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("lang=")).sorted.toSeq
    assert(dirs2 == Seq("lang=02", "lang=10"),
      s"compaction must not rename partition directories: $dirs2")
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("recoverSwap restores a table parked by a crash mid-swap") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("del-crash").toString + "/t"
    spark.range(0, 10).write.parquet(dir)
    // simulate the crash window: live renamed away, new table never moved in
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "._compact_old")))
    assert(graft.core.Sinks.recoverSwap(spark, dir), "recovery must fire")
    assert(spark.read.parquet(dir).count() == 10, "parked data restored")
    assert(!graft.core.Sinks.recoverSwap(spark, dir), "healthy table is a no-op")
    // the maintenance ops self-recover: a delete right after a crash works
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "._compact_old")))
    import spark.implicits._
    val (b, a) = graft.core.Sinks.deleteByKey(
      spark, dir, Seq(3L).toDF("id"), Seq("id"))
    assert((b, a) == ((10L, 9L)), s"delete after crash recovery: ($b, $a)")
  }

  test("idempotentAppend refuses a retyped column with a pointed diff") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retype").toString + "/t"
    Seq((1L, 2.5)).toDF("k", "value").write.parquet(dir)
    val retyped = Seq((2L, "oops")).toDF("k", "value")
    val e = intercept[IllegalArgumentException] {
      graft.core.Sinks.idempotentAppend(retyped, dir, Seq("k"), Nil)
    }
    assert(e.getMessage.contains("type drift") &&
      e.getMessage.contains("value") && e.getMessage.contains("double"),
      s"error must name the retyped column and types: ${e.getMessage}")
    assert(spark.read.parquet(dir).count() == 1, "guard fired before any write")
  }

  test("idempotentAppend refuses a schema-drifted batch with a pointed diff") {
    import spark.implicits._
    val dir = Files.createTempDirectory("drift").toString + "/t"
    Seq((1L, "a")).toDF("k", "v")
      .write.parquet(dir)
    val drifted = Seq((2L, "b", 9L)).toDF("k", "v", "extra")
    val e = intercept[IllegalArgumentException] {
      graft.core.Sinks.idempotentAppend(drifted, dir, Seq("k"), Nil)
    }
    assert(e.getMessage.contains("schema drift") && e.getMessage.contains("extra"),
      s"error must name the drifted column: ${e.getMessage}")
    // the table is untouched — the guard fired before any write
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("Backfill.run: incremental re-runs trigger silver compaction past the fragmentation gate") {
    val pages = Files.createTempDirectory("bf-frag")
    val wh = Files.createTempDirectory("bf-frag-wh").toString
    val dir = pages.resolve("AAPL").resolve("minute--1--adjusted")
    Files.createDirectories(dir)
    def page(i: Int, next: Option[String]): String = {
      val t = 60000L * (i + 1)
      s"""{"results":[{"t":$t,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2}],""" +
        s""""next_url":${next.map("\"" + _ + "\"").getOrElse("null")}}"""
    }
    // six incremental runs, one new chained page each: six file sets in silver
    (0 until 6).foreach { i =>
      if (i > 0) Files.writeString(dir.resolve(f"page-${i - 1}%04d.json"),
        page(i - 1, Some(f"page-$i%04d.json")))
      Files.writeString(dir.resolve(f"page-$i%04d.json"), page(i, None))
      graft.app.Backfill.run(spark, pages.toString, wh)
    }
    val silver = s"$wh/silver/bars"
    val files = graft.core.Sinks.dataFileCount(spark, silver)
    assert(files <= 4, s"fragmentation gate never fired: $files files in silver")
    assert(spark.read.parquet(silver).count() == 6, "compaction lost rows")
  }

  test("silver box read prunes to a strict file subset, row-identical to the full-scan filter") {
    val pages = Files.createTempDirectory("bf-box")
    val wh = Files.createTempDirectory("bf-box-wh").toString
    // two tickers × five incremental runs, each landing a disjoint later
    // time slice — the natural time-locality of watermarked appends
    def page(day: Int, next: Option[String]): String = {
      val bars = (0 until 4).map { j =>
        val t = day * 86400000L + j * 60000L
        s"""{"t":$t,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2}"""
      }.mkString(",")
      s"""{"results":[$bars],""" +
        s""""next_url":${next.map("\"" + _ + "\"").getOrElse("null")}}"""
    }
    for (day <- 0 until 5) {
      for (tick <- Seq("AAA", "BBB")) {
        val dir = pages.resolve(tick).resolve("minute--1--adjusted")
        Files.createDirectories(dir)
        if (day > 0) Files.writeString(dir.resolve(f"page-${day - 1}%04d.json"),
          page(day - 1, Some(f"page-$day%04d.json")))
        Files.writeString(dir.resolve(f"page-$day%04d.json"), page(day, None))
      }
      graft.app.Backfill.run(spark, pages.toString, wh)
    }
    val silver = s"$wh/silver/bars"
    val day = 86400000L
    // reference: every silver row, filtered on the driver
    val all = spark.read.parquet(silver).collect().toSeq
    def boxEqualsScan(tFrom: Long, tTo: Long): Long = {
      val got = graft.app.Backfill.readBarsBox(spark, wh, "AAA", tFrom, tTo)
        .collect().toSeq
      val want = all.filter(r => r.getAs[String]("ticker") == "AAA" &&
        r.getAs[Long]("t") >= tFrom && r.getAs[Long]("t") <= tTo)
      assert(got.sortBy(_.toString) == want.sortBy(_.toString),
        s"box [$tFrom, $tTo] must equal the full-scan filter row-for-row")
      got.length.toLong
    }
    // days 1..2 whole; from inside day 1 to the gap after day 2; and a box
    // lying wholly in the gap between two sweeps' slices
    assert(boxEqualsScan(day, 3 * day - 1) == 8, "expected 2 days x 4 bars")
    assert(boxEqualsScan(day + 2 * 60000L, 3 * day - 1) == 6)
    assert(boxEqualsScan(day + 3600000L, 2 * day - 1) == 0)

    // the ticker equality prunes partition directories: the executed scan
    // opens only AAA's files, a strict subset of silver
    val box = graft.app.Backfill.readBarsBox(spark, wh, "AAA", day, 3 * day - 1)
    box.collect()
    val plan = box.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = plan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail(s"no file scan in\n$plan"))
    val read = scan.metrics("numFiles").value
    val total = graft.core.Sinks.dataFileCount(spark, silver)
    assert(read > 0 && read < total, s"box scan read $read of $total silver files")
  }

  test("clustered compaction keeps per-file time locality; hash compaction control smears it") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("compactc").toString + "/t"
    // one series, 12 appended slices of 100 ts each (the incremental rhythm)
    (0 until 12).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L)
        .select(lit("AAA").as("ticker"), col("id").as("t"), (col("id") * 2).as("p"))
        .coalesce(1).write.mode("append").partitionBy("ticker").parquet(dir)
    }
    // per-file t range, sorted by min
    def fileRanges(): Seq[(Long, Long)] = spark.read.parquet(dir)
      .groupBy(col("_metadata.file_path"))
      .agg(min(col("t")), max(col("t")))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    graft.core.Sinks.compact(spark, dir, targetFiles = 4,
      partitionCols = Seq("ticker"), clusterCols = Seq("t"))
    // each surviving file must cover a contiguous, non-overlapping t slice:
    // sorted by min, every file's min exceeds the previous file's max
    val boxes = fileRanges()
    assert(boxes.length >= 2, s"expected several files, got ${boxes.length}")
    boxes.sliding(2).foreach { case Seq(a, b) =>
      assert(b._1 > a._2, s"clustered files overlap in t: $a vs $b")
    }
    // a mid-range box overlaps a strict subset of files
    def overlapping(rs: Seq[(Long, Long)]) =
      rs.count { case (lo, hi) => hi >= 500L && lo <= 700L }
    assert(overlapping(boxes) < boxes.length,
      s"clustered compaction leaves nothing to skip: $boxes")
    // control: the hash-clustered compaction leaves every file spanning
    // ~everything — the box overlaps all files, which is why clusterCols exist
    graft.core.Sinks.compact(spark, dir, targetFiles = 4,
      partitionCols = Seq("ticker"))
    val hashed = fileRanges()
    assert(overlapping(hashed) == hashed.length,
      s"hash control unexpectedly time-local ($hashed) — assertion above is weak")
  }

  test("snapshot expiry drops old partitions, keeps the retained as-of window exact") {
    val dir = Files.createTempDirectory("expire").toString + "/history"
    // five snapshots, one with fractional seconds (exercises the escaped
    // directory-name decode — ':' is Hive-escaped, '.123' must round-trip)
    val stamps = Seq("2024-01-01 00:00:00", "2024-01-02 00:00:00",
      "2024-01-03 00:00:00.123", "2024-01-04 00:00:00", "2024-01-05 00:00:00")
      .map(ts)
    stamps.zipWithIndex.foreach { case (t, i) =>
      Sinks.writeSnapshot(Seq(("AAPL", i)).toDF("ticker", "v"), dir, t)
    }
    // count-based: keep the newest two
    assert(Sinks.expireSnapshots(spark, dir, keepLast = 2) == (5, 2))
    val left = spark.read.parquet(dir)
      .select(col("snapshot_ts").cast("timestamp")).distinct()
      .collect().map(_.getTimestamp(0)).sortBy(_.getTime)
    assert(left.toSeq == stamps.takeRight(2), s"retained wrong set: ${left.toSeq}")
    // the retained window still answers as-of exactly...
    assert(Sinks.snapshotAsOf(spark, dir, stamps(4)).select("v")
      .as[Int].head() == 4)
    assert(Sinks.snapshotAsOf(spark, dir, stamps(3)).select("v")
      .as[Int].head() == 3)
    // ...and an instant before the oldest retained snapshot throws
    intercept[IllegalArgumentException] {
      Sinks.snapshotAsOf(spark, dir, stamps(2))
    }
    // age-based: keepLast=1 + olderThan expires strictly-older only;
    // a second identical sweep is a no-op
    val dir2 = Files.createTempDirectory("expire2").toString + "/history"
    stamps.foreach(t =>
      Sinks.writeSnapshot(Seq(("MSFT", 1)).toDF("ticker", "v"), dir2, t))
    assert(Sinks.expireSnapshots(spark, dir2, keepLast = 1,
      olderThan = Some(stamps(2))) == (5, 3))
    assert(Sinks.expireSnapshots(spark, dir2, keepLast = 1,
      olderThan = Some(stamps(2))) == (3, 3))
    // the newest snapshot never expires, whatever the cutoff
    assert(Sinks.expireSnapshots(spark, dir2, keepLast = 1,
      olderThan = Some(ts("2030-01-01 00:00:00")))._2 == 1)
    assert(Sinks.latestSnapshot(spark, dir2).select("ticker")
      .as[String].head() == "MSFT")
  }

  test("idempotentAppend prunes its existence scan to the batch's partitions") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("appendpr").toString + "/t"
    val base = spark.range(0, 300).select(col("id"),
      (col("id") % 3).cast("string").as("lang"))
    graft.core.Sinks.idempotentAppend(base, dir, keys = Seq("id"),
      partitionCols = Seq("lang"))
    // the predicate the existence scan is filtered by: only the batch's
    // partition values, null-safe, and None above the cap (full scan)
    val batch = Seq((300L, "1"), (301L, "1"), (302L, null.asInstanceOf[String]))
      .toDF("id", "lang")
    val storedDf = spark.read.parquet(dir)
    val pred = graft.core.Sinks
      .partitionPrunePredicate(batch, storedDf, Seq("lang")).get
    val kept = storedDf.filter(pred)
    // lang=1 has 100 rows; lang=null none — 0/2 partitions pruned would be 300
    assert(kept.count() == 100, "predicate must keep only the batch's partitions")
    assert(kept.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "predicate must reach the scan as a partition filter")
    assert(graft.core.Sinks
      .partitionPrunePredicate(batch, storedDf, Seq("lang"), cap = 1)
      .isEmpty, "above the cap the pruning must be skipped, not truncated")
    assert(graft.core.Sinks
      .partitionPrunePredicate(batch, storedDf, Nil).isEmpty)

    // end-to-end: the existence join still dedupes exactly — replay a
    // batch overlapping lang=1 plus new keys in lang=1 and the null
    // partition; counts land once each
    graft.core.Sinks.idempotentAppend(
      Seq((1L, "1"), (300L, "1"), (302L, null.asInstanceOf[String]))
        .toDF("id", "lang"),
      dir, keys = Seq("id"), partitionCols = Seq("lang"))
    val all = spark.read.parquet(dir)
    assert(all.count() == 302, s"expected 300 base + 2 new, got ${all.count()}")
    assert(all.filter(col("id") === 1L).count() == 1, "replayed key landed twice")
    assert(all.filter(col("id") === 300L).count() == 1)

    // keys=[id] partitioned by a DERIVED lang is exactly the shape where
    // pruning must NOT apply: a redelivered key arriving with a different
    // partition value (upstream re-classified it between attempts) would
    // hide from a pruned scan and land twice. The keyed contract wins.
    graft.core.Sinks.idempotentAppend(
      Seq((1L, "2")).toDF("id", "lang"), // key 1 lives in lang=1
      dir, keys = Seq("id"), partitionCols = Seq("lang"))
    assert(spark.read.parquet(dir).filter(col("id") === 1L).count() == 1,
      "a replayed key with a drifted partition value must not duplicate")

    // the prunable shape — partition columns ⊆ keys, so a key determines
    // its partition: replay is still exactly-once with the pruned scan
    val dir2 = java.nio.file.Files.createTempDirectory("appendpr2").toString + "/t"
    val base2 = spark.range(0, 300).select(col("id"),
      (col("id") % 3).cast("string").as("lang"))
    graft.core.Sinks.idempotentAppend(base2, dir2,
      keys = Seq("lang", "id"), partitionCols = Seq("lang"))
    graft.core.Sinks.idempotentAppend(
      Seq((1L, "1"), (300L, "0")).toDF("id", "lang"), dir2,
      keys = Seq("lang", "id"), partitionCols = Seq("lang"))
    val all2 = spark.read.parquet(dir2)
    assert(all2.count() == 301, s"expected 300 base + 1 new, got ${all2.count()}")
    assert(all2.filter(col("id") === 1L).count() == 1)
  }

  test("compact: collapses a fragmented table atomically with identical data") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val df = spark.range(0, 1000).select(col("id"),
      (col("id") % 7).cast("string").as("lang"))
    df.repartition(40).write.parquet(dir) // fragmented: 40 data files
    val wantRows = df.collect().toSet

    val (before, after) = graft.core.Sinks.compact(spark, dir, targetFiles = 4)
    assert(before >= 40, s"fixture not fragmented: $before files")
    assert(after <= 4, s"compaction left $after files")
    val got = spark.read.parquet(dir).collect().toSet
    assert(got == wantRows, "compaction changed the data")
    // no staging leftovers — the swap completed
    assert(!graft.core.Sinks.pathExists(spark, dir + "._compact_tmp"))
    assert(!graft.core.Sinks.pathExists(spark, dir + "._compact_old"))
  }

  test("compact: partitioned table keeps its layout and partition pruning") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("compactp").toString + "/t"
    val df = spark.range(0, 300).select(col("id"),
      (col("id") % 3).cast("string").as("lang"))
    // 3 appends emulate micro-batches: 3 file sets per partition value
    (1 to 3).foreach { _ =>
      df.write.mode("append").partitionBy("lang").parquet(dir)
    }
    val (before, after) =
      graft.core.Sinks.compact(spark, dir, targetFiles = 3, Seq("lang"))
    assert(after < before, s"no compaction happened: $before -> $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == 900)
    // partition dirs survived → pruned reads still work
    val one = spark.read.parquet(dir).filter(col("lang") === "1")
    assert(one.count() == 300)
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(lang"),
      "partition pruning lost after compaction")
  }

  test("bucketed tables join with zero exchange and zero sort") {
    // one write task → one file per bucket, so the read-back layout
    // satisfies BOTH the join's distribution and ordering requirements
    val a = spark.range(1, 201)
      .select((col("id") % 40).as("user_id"), col("id").as("event_id"),
        (col("id") * 2).cast("double").as("value"))
      .repartition(1)
    val b = spark.range(1, 201)
      .select((col("id") % 40).as("user_id"), col("id").as("event_id"),
        concat(lit("seg"), col("id") % 5).as("segment"))
      .repartition(1)
    Sinks.writeBucketed(a, "bk_a", Seq("user_id"), buckets = 8)
    Sinks.writeBucketed(b, "bk_b", Seq("user_id"), buckets = 8)
    // the fixture is broadcast-sized, which would hide the point — force
    // the shuffle-join path a fact-fact join takes at warehouse scale
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val oldThr = spark.conf.get(thrKey)
    spark.conf.set(thrKey, "-1")
    try {
      val j = spark.table("bk_a").join(spark.table("bk_b"), "user_id")
        .groupBy("user_id").agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      val plan = j.queryExecution.executedPlan.toString
      // the win is the absent Exchange: join AND aggregate run on the
      // bucket layout. (Per-bucket Sorts remain: since SPARK-28595 a
      // bucketed scan no longer advertises sortBy order — those sorts are
      // partition-local and spill-free, not the network cost.)
      assert(!plan.contains("Exchange"),
        s"bucketed join/agg must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"),
        s"co-located fact-fact join should sort-merge:\n$plan")
      assert(j.count() == 40)
      // contrast: the same join off plain parquet shuffles both sides
      val dir = Files.createTempDirectory("nobkt").toString
      a.write.parquet(dir + "/a"); b.write.parquet(dir + "/b")
      val pj = spark.read.parquet(dir + "/a")
        .join(spark.read.parquet(dir + "/b"), "user_id")
      assert(pj.queryExecution.executedPlan.toString.contains("Exchange"),
        "unbucketed control should shuffle — assertion above is vacuous otherwise")
    } finally spark.conf.set(thrKey, oldThr)
  }

  test("prefix-keyed existence anti-join leaves the bucketed store unshuffled") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // the idempotent-append existence check is an anti-join on the append
    // keys; when the key set CONTAINS the bucket keys (as a subset), the
    // bucketed scan satisfies the join's clustering and the corpus-sized
    // store side plans no exchange — the equivalence the signature-store
    // appends exploit (sig/code/chunk are deterministic per (id, band), so
    // widening the keys changes no semantics)
    val dir = Files.createTempDirectory("prefixanti").toString
    val store = spark.range(0, 2000)
      .select((col("id") % 16).as("band"), (col("id") % 97).as("sig"),
        col("id").as("doc_id"))
    Sinks.bucketedIdempotentAppend(store, s"$dir/bands",
      keys = Seq("band", "sig", "doc_id"), bucketKeys = Seq("band", "sig"),
      buckets = 4)
    val inc = spark.range(2000, 2100)
      .select((col("id") % 16).as("band"), (col("id") % 97).as("sig"),
        col("id").as("doc_id"))
    // the subset-co-partition relaxation mirrors what
    // bucketedIdempotentAppend sets internally around its existence check
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val coKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val olds = Seq(thrKey, aqeKey, coKey).map(k => k -> spark.conf.get(k))
    spark.conf.set(thrKey, "-1"); spark.conf.set(aqeKey, "false")
    spark.conf.set(coKey, "false")
    try {
      def storeShuffles(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeLike
            if e.child.collectLeaves().nonEmpty &&
               e.child.collectLeaves().forall(_.toString.contains("bands")) => e
        }
      val stored = Sinks.readBucketedPath(spark, s"$dir/bands")
      // the shape bucketedIdempotentAppend builds with prefix-containing keys
      val prefixAnti = inc.join(
        stored.select("band", "sig", "doc_id"),
        Seq("band", "sig", "doc_id"), "left_anti")
      assert(storeShuffles(prefixAnti).isEmpty,
        s"prefix-keyed anti-join re-shuffles the store:\n" +
          prefixAnti.queryExecution.executedPlan)
      // control: keys NOT containing the bucket keys force a store shuffle
      val plainAnti = inc.join(
        stored.select("doc_id", "band"), Seq("doc_id", "band"), "left_anti")
      assert(storeShuffles(plainAnti).nonEmpty,
        "non-prefix control should shuffle — assertion above is vacuous otherwise")
      // and the widened keys keep exact idempotence: replay appends nothing
      val before = spark.read.parquet(s"$dir/bands").count()
      Sinks.bucketedIdempotentAppend(store, s"$dir/bands",
        keys = Seq("band", "sig", "doc_id"), bucketKeys = Seq("band", "sig"),
        buckets = 4)
      assert(spark.read.parquet(s"$dir/bands").count() == before)
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("manifestFiles resolves a compacted sink log like Spark's own reader") {
    // promote()'s increment read diffs manifest windows, so its resolution
    // rule (latest .compact at-or-below upTo carries the full history, later
    // plain entries add their batch) must match FileStreamSink exactly —
    // fabricate a log with a compaction and check every window
    val dir = Files.createTempDirectory("manifest").toString
    val meta = new org.apache.hadoop.fs.Path(dir, "_spark_metadata")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(meta)
    def entry(name: String, paths: Seq[String]): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(meta, name), true)
      val body = ("v1" +: paths.map(p =>
        s"""{"path":"$p","size":10,"isDir":false,"modificationTime":1,""" +
          s""""blockReplication":1,"blockSize":1,"action":"add"}""")).mkString("\n")
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    entry("0", Seq("f0"))
    entry("1", Seq("f1a", "f1b"))
    // batch 2 compacted: carries the full history up to id 2
    entry("2.compact", Seq("f0", "f1a", "f1b", "f2"))
    entry("3", Seq("f3"))
    import graft.core.Sinks.manifestFiles
    assert(manifestFiles(fs, meta, -1L).isEmpty)
    assert(manifestFiles(fs, meta, 0L) == Set("f0"))
    assert(manifestFiles(fs, meta, 1L) == Set("f0", "f1a", "f1b"))
    assert(manifestFiles(fs, meta, 2L) == Set("f0", "f1a", "f1b", "f2"),
      "the compact entry must supersede the plain entries it covers")
    assert(manifestFiles(fs, meta, 3L) == Set("f0", "f1a", "f1b", "f2", "f3"))
    // the promote window diff: only batch 3's files are new after 2
    assert(manifestFiles(fs, meta, 3L) -- manifestFiles(fs, meta, 2L)
      == Set("f3"))
  }

  test("GraftCaches.withScope releases only the scope's acquisitions") {
    import graft.core.GraftCaches
    import org.apache.spark.storage.StorageLevel
    GraftCaches.releaseAll(spark) // clean slate from earlier suites
    val outer = GraftCaches.acquire(
      spark.range(100).toDF("id").withColumn("v", col("id") * 2))
    assert(outer.count() == 100)
    val beforeScope = GraftCaches.registered(spark)

    var inner: org.apache.spark.sql.DataFrame = null
    val result = GraftCaches.withScope(spark) {
      inner = GraftCaches.acquire(
        spark.range(50).toDF("id").withColumn("w", col("id") + 1))
      inner.count() // consuming action INSIDE the scope, per the contract
    }
    assert(result == 50)
    // inner released and deregistered; outer untouched and still cached
    assert(GraftCaches.registered(spark) == beforeScope)
    assert(inner.storageLevel == StorageLevel.NONE,
      "scope exit must unpersist the frames it acquired")
    assert(outer.storageLevel != StorageLevel.NONE,
      "scope exit must not touch pre-existing caches")

    // a throwing body still releases its acquisitions
    val thrown = intercept[RuntimeException] {
      GraftCaches.withScope(spark) {
        GraftCaches.acquire(spark.range(10).toDF("id")).count()
        throw new RuntimeException("boom")
      }
    }
    assert(thrown.getMessage == "boom")
    assert(GraftCaches.registered(spark) == beforeScope)

    GraftCaches.releaseAll(spark)
    assert(GraftCaches.registered(spark) == 0)
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  test("parkedSwaps over a WIDE warehouse: sibling-listing verdicts, control dirs never descended, healthy residue not reported") {
    import graft.core.SwapProtocol
    val root = Files.createTempDirectory("wide-wh").toString
    def mkTable(p: String): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(p))
      Files.write(java.nio.file.Paths.get(s"$p/part-0"), "x".getBytes("UTF-8"))
    }
    // three modality dirs x 200 tables — the many-thousand-table shape
    // scaled to test time; the walk must stay one listing per directory
    for (m <- Seq("text", "media", "emb"); i <- 0 until 200)
      mkTable(f"$root/$m/t$i%03d")
    // CRASH-PARKED: data at ._compact_old, live dir gone
    mkTable(s"$root/text/t007._compact_old")
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/text/t007"))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    // HEALTHY residue: ._compact_old next to a LIVE table — not parked
    mkTable(s"$root/media/t003._compact_old")
    // staged-copy residue: a ._compact_tmp control dir must not be
    // descended into (nor ever reported)
    mkTable(s"$root/emb/t001._compact_tmp")
    // a nested namespace level still gets walked
    mkTable(s"$root/text/nested/deep._compact_old")
    val parked = SwapProtocol.parkedSwapTables(spark, root)
    assert(parked.map(_._2).sorted ==
      Seq("text/nested/deep", "text/t007"),
      s"got $parked")
  }

  test("swap-token format: only v2|millis|nonce parses; older formats and unknown versions read maximally stale") {
    import graft.core.SwapProtocol
    val base = Files.createTempDirectory("swap-fmt").toString
    val p = s"$base/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(p + "._compact_old")
    val token = new org.apache.hadoop.fs.Path(p + "._swap_inflight")
    assert(fs.rename(hp, old)) // parked signature for the whole test
    def plant(content: String): Unit = {
      val out = fs.create(token, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    def verdict(): String =
      intercept[IllegalStateException](Sinks.storePresent(spark, p))
        .getMessage
    try {
      val now = System.currentTimeMillis()
      val stale = now - 10L * 60L * 1000L
      // the current format: a fresh stamp reads in-flight and a stale one
      // reads crash-parked
      plant(s"v2|$now|nn-v2")
      assert(verdict().contains("mid-swap"), "a fresh v2 token must read in-flight")
      plant(s"v2|$stale|nn-v2")
      assert(verdict().contains("crash-parked"),
        "a stale v2 token must read crash-parked")
      // any other format — an unknown version prefix, or the bare-millis
      // and millis|nonce shapes older writers used — is maximally stale
      // even with fresh millis: it resolves to the loud repair report,
      // never "absent", never a silently wrong in-flight verdict
      for (line <- Seq(s"v3|$now|nn-future", s"$now", s"$now|nn-old")) {
        plant(line)
        assert(verdict().contains("crash-parked"),
          s"$line must read maximally stale")
      }
      // the parse itself
      assert(SwapProtocol.parseSwapToken("12345") == ((0L, "")))
      assert(SwapProtocol.parseSwapToken("12345|abc") == ((0L, "")))
      assert(SwapProtocol.parseSwapToken("v2|12345|abc") == ((12345L, "abc")))
      assert(SwapProtocol.parseSwapToken("v3|12345|abc") == ((0L, "")))
      assert(SwapProtocol.parseSwapToken("garbage") == ((0L, "")))
    } finally {
      fs.delete(token, false)
      assert(fs.rename(old, hp))
    }
  }

  test("a FRESH foreign token on a live swap's path is backed off from by beat and exit; a stale one is reclaimed") {
    import graft.core.{Sinks, SwapProtocol}
    // The lease normally admits one live swap per path; the exception is
    // a writer losing its lease mid-swap (GC pause, medium partition)
    // while a successor JVM starts its own swap on the path — BOTH are
    // registered in their own JVM's activeSwaps. The loser's beat must
    // back off from the successor's FRESH foreign stamp instead of
    // clobbering it indefinitely (r17's registry-only ownership stamped
    // blind), and its exit must not clear it either; a STALE foreign
    // stamp stays a dead zombie's garbage and is reclaimed within a
    // beat period, as before.
    val base = Files.createTempDirectory("swap-foreign").toString
    val p = s"$base/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = new org.apache.hadoop.fs.Path(p + "._swap_inflight")
    def tokenContent(): String = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p + "._swap_inflight")), "UTF-8")
    def plant(content: String): Unit = {
      val out = fs.create(token, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // a WIDE ttl (period 500 ms, staleness bound 1.5 s) so every phase
    // below keeps >= 400 ms of scheduler-slip margin between "the beat
    // read a FRESH stamp" and "the stamp crossed staleness" — with a
    // 750 ms ttl the back-off assert sat 150 ms from the boundary and a
    // loaded box could legitimately reclaim before it ran
    spark.conf.set(Sinks.SwapInflightTtlKey, "1500")
    try {
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() =>
        try SwapProtocol.withSwapToken(spark, fs, p)(Thread.sleep(6000L))
        catch { case t: Throwable => failure.set(t) })
      writer.start()
      Thread.sleep(600L) // the swap's beat is live
      // the successor's token lands: foreign nonce, fresh stamp
      val freshForeign = s"v2|${System.currentTimeMillis()}|ff-successor"
      plant(freshForeign)
      // two-plus beat periods inside the stamp's freshness window (1.1 s
      // of the 1.5 s bound): the live swap's beat must leave it
      // byte-identical (back-off)
      Thread.sleep(1100L)
      assert(tokenContent() == freshForeign,
        s"beat clobbered a fresh foreign token: ${tokenContent()}")
      // ...and once the foreign stamp goes STALE (no successor beating
      // it), it is zombie garbage — reclaimed within a period or two
      val deadline = System.currentTimeMillis() + 2500L
      var content = tokenContent()
      while (content.endsWith("|ff-successor") &&
        System.currentTimeMillis() < deadline) {
        Thread.sleep(50L); content = tokenContent()
      }
      assert(!content.endsWith("|ff-successor"),
        s"stale foreign token was never reclaimed: $content")
      // successor stamps again, far ahead (stays fresh past the exit —
      // the skew test's future-stamp move): the EXIT must leave it too
      val exitForeign =
        s"v2|${System.currentTimeMillis() + 60000L}|ff-successor"
      plant(exitForeign)
      writer.join(30000L)
      assert(failure.get() == null, s"writer failed: ${failure.get()}")
      assert(fs.exists(token) && tokenContent() == exitForeign,
        "the exit must not clear a fresh foreign (successor's) token")
    } finally {
      spark.conf.unset(Sinks.SwapInflightTtlKey)
      fs.delete(token, false)
    }
  }
}
