package graft

import java.nio.file.Files

import graft.app.CorpusStore
import graft.core.Sinks
import org.scalatest.funsuite.AnyFunSuite

/** The sibling-ledger atomicity contract (core/AtomicFiles): every tiny
  * control file a lease-free reader can poll while a leased writer
  * re-stamps it — watermark/promote longs, bucket specs, threshold and
  * params stamps, swap tokens — publishes atomically and reads
  * fail-safe. The bug class these lock: `create(overwrite)` rewrites a
  * file as delete-then-recreate-then-write, so a racing reader caught
  * ABSENT (branch-flipping -1) or a torn line (an uncaught parse error
  * out of fsck/status) — found live by the swap-token races and then
  * grepped out of every other ledger site.
  */
/** A local filesystem answering for the `nofc:` scheme with NO
  * AbstractFileSystem (FileContext) binding, whose rename refuses —
  * forces AtomicFiles.writeAtomic down its third ladder rung (direct
  * single-PUT overwrite). Instantiated by Hadoop via reflection
  * (fs.nofc.impl).
  */
class NoFileContextRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nofc:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = false
}

/** A local filesystem answering for the `rung2:` scheme with HDFS's
  * FileSystem-level rename semantics — REFUSES a rename onto an existing
  * destination — so AtomicFiles.writeAtomic's rung 1 fails on every
  * re-stamp and the ladder must climb to rung 2. Instantiated by Hadoop
  * via reflection (fs.rung2.impl).
  */
class Rung2RefusingRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("rung2:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    !exists(dst) && super.rename(src, dst)
}

/** The `rung2:` scheme's AbstractFileSystem (FileContext) binding — the
  * piece HDFS has and plain local schemes lack — whose OVERWRITE rename
  * is ATOMIC (posix ATOMIC_MOVE), mimicking the server-side atomic
  * overwrite rename HDFS's own binding provides. Registered via
  * fs.AbstractFileSystem.rung2.impl; Hadoop instantiates it reflectively
  * with (URI, Configuration). The static counter lets the spec assert
  * the ladder genuinely took this rung rather than quietly succeeding
  * on rung 1 or falling through to rung 3.
  */
class Rung2AbstractFs(uri: java.net.URI,
                      conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new Rung2RefusingRawFs, conf, "rung2", false) {
  override def renameInternal(src: org.apache.hadoop.fs.Path,
                              dst: org.apache.hadoop.fs.Path,
                              overwrite: Boolean): Unit =
    if (!overwrite) renameInternal(src, dst)
    else {
      Rung2AbstractFs.overwriteRenames.incrementAndGet()
      java.nio.file.Files.move(
        java.nio.file.Paths.get(src.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
}
object Rung2AbstractFs {
  val overwriteRenames = new java.util.concurrent.atomic.AtomicLong(0L)
}

class AtomicFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("ledger hammer: a lease-free reader polling across re-stamps never sees absence, emptiness, or a torn line") {
    val dir = Files.createTempDirectory("ledger-hammer").toString
    val ledger = s"$dir/._watermark"
    CorpusStore.writeLongLedger(spark, ledger, 0L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      var v = 1L
      while (!stop.get()) {
        CorpusStore.writeLongLedger(spark, ledger, v)
        v += 1
        Thread.sleep(1L)
      }
    })
    writer.setDaemon(true)
    writer.start()
    // the reader loop is the fsck/status shape: poll with no sleep.
    // -1 here means the reader caught the ledger ABSENT or unreadable
    // mid-re-stamp — the exact misread the atomic publish removes (the
    // pre-fix create(overwrite) write failed this within milliseconds).
    var polls = 0L
    var last = 0L
    val deadline = System.currentTimeMillis() + 3000L
    while (System.currentTimeMillis() < deadline) {
      val v = CorpusStore.readLongLedger(spark, ledger)
      assert(v >= 0L,
        s"reader caught the ledger mid-re-stamp as absent/torn after $polls polls")
      assert(v >= last, s"ledger went backwards: $last -> $v")
      last = v
      polls += 1
    }
    stop.set(true)
    writer.join(5000L)
    assert(polls > 1000L, s"hammer barely ran ($polls polls)")
    assert(last > 100L, s"writer barely ran (last value $last)")
  }

  test("readLongLedger maps garbage and foreign residue to -1, per its own fail-safe doc") {
    val dir = Files.createTempDirectory("ledger-garbage").toString
    val ledger = s"$dir/._watermark"
    // absent
    assert(CorpusStore.readLongLedger(spark, ledger) == -1L)
    // unparsable content (hand surgery / foreign residue): -1, never a
    // NumberFormatException out of fsck — the old body threw here
    Files.write(java.nio.file.Paths.get(ledger),
      "not-a-number".getBytes("UTF-8"))
    assert(CorpusStore.readLongLedger(spark, ledger) == -1L)
    // empty (a pre-atomic writer's torn stamp): -1
    Files.write(java.nio.file.Paths.get(ledger), Array.empty[Byte])
    assert(CorpusStore.readLongLedger(spark, ledger) == -1L)
    // healthy after a re-stamp over the residue
    CorpusStore.writeLongLedger(spark, ledger, 42L)
    assert(CorpusStore.readLongLedger(spark, ledger) == 42L)
  }

  test("scheme-ladder rung 3: no FileContext binding -> direct single-PUT overwrite, no temp residue") {
    // a scheme whose FileSystem exists but has no AbstractFileSystem
    // binding (some object stores): writeAtomic's rename returns false,
    // the FileContext lookup throws UnsupportedFileSystemException, and
    // the publish falls back to a direct create — a single PUT, atomic
    // at read level on those stores
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nofc.impl", classOf[NoFileContextRawFs].getName)
    val dir = Files.createTempDirectory("ledger-nofc").toString
    val fs = new org.apache.hadoop.fs.Path(s"nofc://$dir/._watermark")
      .getFileSystem(conf)
    val p = new org.apache.hadoop.fs.Path(s"$dir/._watermark")
    graft.core.AtomicFiles.writeAtomic(fs, p, "11")
    assert(graft.core.AtomicFiles.readLine(fs, p).contains("11"))
    // the failed-rename temp was cleaned before the direct PUT
    val residue = new java.io.File(dir).listFiles()
      .filter(_.getName.contains(".tmp-"))
    assert(residue.isEmpty, s"rung-3 left temp residue: ${residue.toSeq}")
    // overwrite through the same rung
    graft.core.AtomicFiles.writeAtomic(fs, p, "12")
    assert(graft.core.AtomicFiles.readLine(fs, p).contains("12"))
  }

  test("scheme-ladder rung 2: refusing FileSystem rename + FileContext OVERWRITE binding -> atomic publish, old-or-new under a concurrent reader") {
    // the HDFS production path of the publish primitive (AtomicFiles
    // object doc): FileSystem.rename refuses an existing destination, so
    // every RE-stamp must go through the scheme's AbstractFileSystem
    // OVERWRITE rename — previously the one rung no in-harness
    // filesystem took
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.rung2.impl", classOf[Rung2RefusingRawFs].getName)
    conf.set("fs.AbstractFileSystem.rung2.impl",
      classOf[Rung2AbstractFs].getName)
    val dir = Files.createTempDirectory("ledger-rung2").toString
    val fs = new org.apache.hadoop.fs.Path(s"rung2://$dir/._watermark")
      .getFileSystem(conf)
    val p = new org.apache.hadoop.fs.Path(s"$dir/._watermark")
    Rung2AbstractFs.overwriteRenames.set(0L)
    // first stamp: no destination yet, rung 1 legitimately serves it
    graft.core.AtomicFiles.writeAtomic(fs, p, "0")
    assert(graft.core.AtomicFiles.readLine(fs, p).contains("0"))
    // concurrent lease-free reader across re-stamps: the rung-2 rename
    // must present old-line-or-new-line, never absence/emptiness (the
    // delete-then-recreate window this publish exists to close)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[String]()
    val writer = new Thread(() => {
      var v = 1L
      while (!stop.get()) {
        graft.core.AtomicFiles.writeAtomic(fs, p, v.toString)
        v += 1
      }
    })
    writer.setDaemon(true)
    writer.start()
    var polls = 0L
    var last = 0L
    val deadline = System.currentTimeMillis() + 3000L
    while (System.currentTimeMillis() < deadline && failure.get() == null) {
      graft.core.AtomicFiles.readLine(fs, p) match {
        case Some(line) if line.nonEmpty =>
          val v = line.toLong
          if (v < last)
            failure.set(s"ledger went backwards: $last -> $v")
          last = v
        case other =>
          failure.set(s"reader caught the publish window: $other " +
            s"after $polls polls")
      }
      polls += 1
    }
    stop.set(true)
    writer.join(5000L)
    assert(failure.get() == null, String.valueOf(failure.get()))
    assert(polls > 500L, s"hammer barely ran ($polls polls)")
    assert(last > 50L, s"writer barely ran (last value $last)")
    // the ladder genuinely exercised rung 2 (not rung 1, not the rung-3
    // single-PUT fallthrough), and left no temp residue behind
    assert(Rung2AbstractFs.overwriteRenames.get() >= last - 1,
      s"only ${Rung2AbstractFs.overwriteRenames.get()} OVERWRITE renames " +
        s"for $last re-stamps — the re-stamps did not take rung 2")
    val residue = new java.io.File(dir).listFiles()
      .filter(_.getName.contains(".tmp-"))
    assert(residue.isEmpty, s"rung-2 left temp residue: ${residue.toSeq}")
  }

  test("dropStore sweeps EVERY ._* sibling: ledgers, writeAtomic .tmp-* residue, and a parked compaction dir") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("ledger-residue").toString
    val table = s"$dir/store"
    spark.range(3).select(lit("x").as("v")).write.parquet(table)
    // a ledger family OUTSIDE the old fixed list: stale after a
    // drop-and-rebuild it would SKIP guarded work (the dangerous
    // direction; absent fail-safes to -1 = re-do)
    CorpusStore.writeLongLedger(spark, s"$table._promoted_upto", 5L)
    // a writer crashed between writeAtomic's temp create and its rename:
    // documented-inert residue, previously immortal (ADVICE r17)
    Files.write(java.nio.file.Paths.get(s"$table._watermark.tmp-deadbeef"),
      "torn".getBytes("UTF-8"))
    // a parked compaction copy: left behind, the DROPPED table would
    // read as crash-parked ("run repair") instead of absent
    Files.createDirectories(java.nio.file.Paths.get(s"$table._compact_old"))
    Files.write(java.nio.file.Paths.get(s"$table._compact_old/part-0"),
      "old".getBytes("UTF-8"))
    // an UNRELATED sibling's residue must survive this table's drop
    Files.write(java.nio.file.Paths.get(s"$dir/other._watermark.tmp-ffffffff"),
      "torn".getBytes("UTF-8"))
    CorpusStore.dropStore(spark, table)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!left.exists(_.startsWith("store")),
      s"dropStore left table residue: $left")
    assert(left.contains("other._watermark.tmp-ffffffff"),
      "dropStore must not sweep a different table's residue")
    // and the dropped table reads ABSENT, not crash-parked
    assert(!Sinks.storePresent(spark, table))
  }

  test("torn store create heals: a bare dir from a killed first-create is recreated by the retry, read loud by readers, vacuous to fsck") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("torn-create").toString
    val table = s"$dir/store"
    // the crash state the r19 cross-JVM soak found: directory created,
    // zero committed files (only write-protocol residue), no spec ledger
    Files.createDirectories(java.nio.file.Paths.get(s"$table/_temporary/0"))
    assert(!Sinks.hasCommittedDataFiles(spark, table))
    // plain reader: the documented verdict, not parquet's cryptic
    // UNABLE_TO_INFER_SCHEMA
    val e = intercept[IllegalStateException](
      CorpusStore.readStore(spark, table).collect())
    assert(e.getMessage.contains("torn store create"), e.getMessage)
    // the retry's append heals: clears the residue, takes the create
    // branch, and the store comes back bucketed and complete
    val df = spark.range(3).select(
      org.apache.spark.sql.functions.col("id").as("doc_id"),
      lit("x").as("v"))
    Sinks.bucketedIdempotentAppend(df, table, keys = Seq("doc_id"),
      bucketKeys = Seq("doc_id"), buckets = 2)
    assert(Sinks.isBucketedStore(spark, table))
    assert(Sinks.readBucketedPath(spark, table).count() == 3L)
    assert(Sinks.hasCommittedDataFiles(spark, table))
    // a keyed table whose first create COMMITTED files but died before
    // its ledger: lease-free readers get the same verdict, never a plain
    // read of the partial table; the leased retry clears and recreates it
    val cut = s"$dir/cut"
    df.filter("doc_id < 2").write.parquet(cut)
    val e2 = intercept[IllegalStateException](
      CorpusStore.readStore(spark, cut).collect())
    assert(e2.getMessage.contains("torn store create"), e2.getMessage)
    graft.core.WarehouseLease.withWriteLease(spark, dir) {
      CorpusStore.appendKeyedStore(spark, df, cut, buckets = 2)
    }
    assert(Sinks.bucketSpecOf(spark, cut).contains((Seq("doc_id"), 2)))
    assert(CorpusStore.readStore(spark, cut).count() == 3L)
    // plain-append twin: a torn PLAIN dir writes as if absent
    val plain = s"$dir/plain"
    Files.createDirectories(java.nio.file.Paths.get(s"$plain/_temporary/0"))
    Sinks.idempotentAppend(df, plain, keys = Seq("doc_id"),
      partitionCols = Nil)
    assert(spark.read.parquet(plain).count() == 3L)
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("storePresent heals a torn create under the caller's lease, leaves it loud without one") {
    val dir = Files.createTempDirectory("torn-gate").toString
    val table = s"$dir/store"
    def plant(): Unit =
      Files.createDirectories(java.nio.file.Paths.get(s"$table/_temporary/0"))
    plant()
    // lease-free: the gate reports present (the dir exists) and does NOT
    // delete — healing here could race a live writer's in-flight first
    // create; the reader contract is readStore's loud verdict
    assert(Sinks.storePresent(spark, table))
    assert(Files.exists(java.nio.file.Paths.get(table)))
    // under the caller's own lease (the drop-retry shape): the gate
    // clears the valueless dir and reports ABSENT, so the retry takes
    // its first-create branch instead of reading the torn store
    graft.core.WarehouseLease.withWriteLease(spark, dir) {
      assert(!Sinks.storePresent(spark, table))
      assert(!Files.exists(java.nio.file.Paths.get(table)))
      // and a healthy store under the same lease is untouched
      spark.range(2).coalesce(1).write.parquet(table)
      assert(Sinks.storePresent(spark, table))
      assert(spark.read.parquet(table).count() == 2L)
    }
  }

  test("stableBatchTs restamps a torn (empty) legacy stamp instead of bricking the batchId") {
    val dir = Files.createTempDirectory("batch-ts").toString
    // a pre-atomic writer crashed between create and write: empty file
    Files.write(java.nio.file.Paths.get(s"$dir/batch-7"), Array.empty[Byte])
    val ts = Sinks.stableBatchTs(spark, dir, 7L) // old body NPE'd forever
    assert(math.abs(System.currentTimeMillis() - ts.getTime) < 60000L)
    // the restamp is durable: a replay reads the SAME instant back
    assert(Sinks.stableBatchTs(spark, dir, 7L) == ts)
  }
}
