package graft

import graft.app.CorpusIngest
import graft.core.{Checkpoints, WarehouseLease}
import graft.operators.Components
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-survival properties: reliable lineage cuts (an executor loss
  * must not kill a multi-hour drop) and the warehouse write lease (a
  * second concurrent writer must fail fast instead of silently losing
  * cross-drop pairs).
  */
class DurabilitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  import scala.jdk.CollectionConverters._

  private def rddCheckpointFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("rdd-")).toList
      finally s.close()
    }
  }

  test("checkpoint mode: connectedComponents cuts to durable files, results identical") {
    // two components spanning several contraction rounds
    val edges = ((0L until 9L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L))).toDF("u", "v")
    val baseline = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val (got, leaves) = Checkpoints.withCheckpointDir(spark, dir) {
      val cc = Components.connectedComponents(edges)
      (cc.as[(Long, Long)].collect().toMap,
        cc.queryExecution.optimizedPlan.collectLeaves())
    }
    assert(got == baseline, "checkpoint mode must not change results")
    // lineage is truncated: the result plan bottoms out on materialized
    // RDD scans, not on the original edge relation
    assert(leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      s"leaves: ${leaves.map(_.getClass.getSimpleName)}")
    // ...and the cuts are RELIABLE: files on disk under the configured dir,
    // which is what survives an executor loss (localCheckpoint blocks die
    // with their executor)
    assert(rddCheckpointFiles(dir).nonEmpty,
      s"no rdd checkpoint files under $dir")
    // the switch is scoped: outside the block cuts are executor-local again
    assert(Checkpoints.configured(spark).isEmpty,
      "withCheckpointDir must restore the unset state")
  }

  test("checkpoint mode: a full ingest drop runs durable and stays hash-identical") {
    val whA = java.nio.file.Files.createTempDirectory("ckpt-whA").toString
    val whB = java.nio.file.Files.createTempDirectory("ckpt-whB").toString
    val base =
      "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire in winter"
    val drop1 = Seq((10L, base), (20L, "an unrelated second text about rivers and quiet mountain valleys at dawn"))
      .toDF("doc_id", "text")
    val drop2 = Seq((30L, base.replace("winter", "summer"))).toDF("doc_id", "text")

    CorpusIngest.run(spark, drop1, whA)
    CorpusIngest.run(spark, drop2, whA)

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    Checkpoints.withCheckpointDir(spark, dir) {
      CorpusIngest.run(spark, drop1, whB)
      CorpusIngest.run(spark, drop2, whB)
    }
    def pairs(wh: String) = spark.read.parquet(s"$wh/corpus/pairs")
      .select("doc_a", "doc_b", "jac").as[(Long, Long, Double)]
      .collect().toSet
    assert(pairs(whB) == pairs(whA),
      "durable-checkpoint ingest must produce the identical pair table")
    assert(rddCheckpointFiles(dir).nonEmpty,
      "ingest increments must have checkpointed durably")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("durable cut computes its frame ONCE (persist feeds the checkpoint write job)") {
    // Reliable RDD checkpointing writes its files in a second job that
    // RECOMPUTES the marked RDD unless its blocks are cached — cut()
    // persists before the forcing count precisely so that write job reads
    // blocks. The accumulator counts upstream row computations: one pass
    // means N, a recompute would read 2N.
    val acc = spark.sparkContext.longAccumulator("cut-computes")
    val counted = udf { (x: Long) => acc.add(1L); x }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-1x").toString
    val n = 1000L
    Checkpoints.withCheckpointDir(spark, dir) {
      val df = spark.range(n).toDF("id").withColumn("y", counted(col("id")))
      val cutDf = Checkpoints.cut(df)
      assert(cutDf.count() == n)
      assert(rddCheckpointFiles(dir).nonEmpty, "cut must be durable")
      assert(acc.value == n,
        s"durable cut recomputed its frame (${acc.value} row computations " +
          s"for $n rows) — the checkpoint write job must read cached blocks")
      // ...and the scaffolding cache was released once the files landed
      assert(df.storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE,
        "cut must unpersist its own scaffolding persist")
    }
  }

  test("cutCounted returns the row count of a cut computed once, executor-local and durable") {
    // the count must come from the materializing pass itself: one upstream
    // computation per row, and later actions served from the cut
    val acc = spark.sparkContext.longAccumulator("cut-counted")
    val counted = udf { (x: Long) => acc.add(1L); x }
    def frame() = spark.range(1000L).filter(col("id") % 3 === 0)
      .withColumn("y", counted(col("id")))
    def check(mode: String): Unit = {
      acc.reset()
      val (cutDf, n) = Checkpoints.cutCounted(frame())
      assert(n == 334L, s"$mode: counted $n rows")
      assert(acc.value == 334L, s"$mode: ${acc.value} upstream row computations")
      assert(cutDf.count() == 334L && acc.value == 334L,
        s"$mode: the cut frame must serve later actions without recomputing")
      assert(cutDf.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
        s"$mode: lineage not cut")
    }
    check("executor-local")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-count").toString
    Checkpoints.withCheckpointDir(spark, dir) {
      check("durable")
      assert(rddCheckpointFiles(dir).nonEmpty, "durable cut wrote no files")
      // an ingest drop reads its increment size off the durable cut: a
      // wrong (zero) count would skip the drop and land nothing
      val wh = java.nio.file.Files.createTempDirectory("ckpt-count-wh").toString
      val text = "the quick brown fox jumps over the lazy dog while the cat " +
        "sleeps near the warm fire in winter"
      val drop = Seq((1L, text), (2L, text.replace("winter", "summer")),
        (3L, "a second unrelated document about mountains and morning fog"))
        .toDF("doc_id", "text")
      assert(CorpusIngest.run(spark, drop, wh) == ((3L, 1L)))
      assert(spark.read.parquet(s"$wh/corpus/documents").count() == 3L)
    }
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("withCheckpointDir cleanup leaves the scratch dir empty after a completed drop") {
    val wh = java.nio.file.Files.createTempDirectory("ckpt-clean-wh").toString
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-clean").toString
    val drop = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "a second unrelated document about mountains and morning fog"))
      .toDF("doc_id", "text")
    val (n, _) = Checkpoints.withCheckpointDir(spark, dir, cleanup = true) {
      CorpusIngest.run(spark, drop, wh)
    }
    assert(n == 2L)
    // scratch content gone (the base dir itself is the operator's mount)
    assert(rddCheckpointFiles(dir).isEmpty &&
      new java.io.File(dir).listFiles().isEmpty,
      s"cleanup must empty $dir")
    // the warehouse is untouched by the cleanup — and a LATER durable drop
    // on the same dir re-creates fresh scratch (the binding was forgotten)
    val drop2 = Seq((3L, "a third text about oceans tides and the evening sky"))
      .toDF("doc_id", "text")
    Checkpoints.withCheckpointDir(spark, dir) {
      val (n2, _) = CorpusIngest.run(spark, drop2, wh)
      assert(n2 == 1L)
      assert(rddCheckpointFiles(dir).nonEmpty,
        "a later cut must re-create scratch after cleanup")
    }
    assert(spark.read.parquet(s"$wh/corpus/documents").count() == 3L)
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("write lease: a second writer fails fast, a stale lease is reclaimed, a crashed holder's retry re-enters") {
    val wh = java.nio.file.Files.createTempDirectory("lease-wh").toString
    val drop = Seq((1L, "some text about a fox and a dog crossing the river at dawn"))
      .toDF("doc_id", "text")

    // foreign live holder -> every mutating entry point fails fast
    WarehouseLease.acquire(spark, wh, owner = "other-driver", ttlMs = 60000L)
    intercept[WarehouseLease.LeaseHeldException] {
      CorpusIngest.run(spark, drop, wh)
    }
    intercept[WarehouseLease.LeaseHeldException] {
      CorpusIngest.delete(spark, wh, Seq(1L))
    }
    // the crashed holder's OWN retry re-enters cleanly (same owner id:
    // a crash cannot release, so re-acquire refreshes instead of failing)
    WarehouseLease.acquire(spark, wh, owner = "other-driver", ttlMs = 60000L)
    WarehouseLease.release(spark, wh, owner = "other-driver")

    // stale lease (expired ttl, holder gone) is reclaimed transparently
    WarehouseLease.acquire(spark, wh, owner = "dead-driver", ttlMs = -1000L)
    val (n, _) = CorpusIngest.run(spark, drop, wh)
    assert(n == 1L, "expired foreign lease must be reclaimed, not block")

    // ...and the reclaiming run released on exit: a fresh acquire works
    WarehouseLease.acquire(spark, wh, owner = "third", ttlMs = 1000L)
    WarehouseLease.release(spark, wh, owner = "third")

    // releasing under the WRONG owner must not delete the holder's lease
    WarehouseLease.acquire(spark, wh, owner = "fourth", ttlMs = 60000L)
    WarehouseLease.release(spark, wh, owner = "not-fourth")
    intercept[WarehouseLease.LeaseHeldException] {
      WarehouseLease.acquire(spark, wh, owner = "fifth", ttlMs = 1000L)
    }
    WarehouseLease.release(spark, wh, owner = "fourth")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("write lease: a second thread of the same JVM owner is arbitrated, not re-admitted") {
    // re-entrancy is per CALL TREE: a concurrent drop launched from
    // another thread of the same driver (same default jvmOwner) is the
    // two-writer hazard itself, and must fail fast rather than ride the
    // depth counter into the held lease
    val wh = java.nio.file.Files.createTempDirectory("lease-thr").toString
    @volatile var second: Option[Throwable] = None
    WarehouseLease.withWriteLease(spark, wh) {
      val t = new Thread(() => {
        try WarehouseLease.withWriteLease(spark, wh) { () }
        catch { case e: Throwable => second = Some(e) }
      })
      t.start(); t.join()
    }
    assert(second.exists(_.isInstanceOf[WarehouseLease.LeaseHeldException]),
      s"same-owner cross-thread entry must fail fast, got $second")
    // the failed entry did not corrupt the bookkeeping: the outer exit
    // released, and a fresh writer acquires normally
    WarehouseLease.acquire(spark, wh, owner = "x", ttlMs = 1000L)
    WarehouseLease.release(spark, wh, owner = "x")
  }

  test("write lease: arbitration is spelling-independent (qualified key)") {
    // two spellings of ONE warehouse directory (raw path vs file: URI)
    // must arbitrate on one in-JVM key: a raw-string map would let a
    // second thread slip past `held`, then ride the same-owner file
    // branch straight into the two-writer window
    val wh = java.nio.file.Files.createTempDirectory("lease-spell").toString
    val spelled = "file:" + wh
    @volatile var second: Option[Throwable] = None
    WarehouseLease.withWriteLease(spark, wh) {
      // same call tree, alternate spelling: re-enters as depth 2 (same key)
      WarehouseLease.withWriteLease(spark, spelled) { () }
      // another thread, alternate spelling: must fail fast, not re-admit
      val t = new Thread(() => {
        try WarehouseLease.withWriteLease(spark, spelled) { () }
        catch { case e: Throwable => second = Some(e) }
      })
      t.start(); t.join()
    }
    assert(second.exists(_.isInstanceOf[WarehouseLease.LeaseHeldException]),
      s"alternate spelling must hit the same arbitration key, got $second")
    WarehouseLease.acquire(spark, wh, owner = "x", ttlMs = 1000L)
    WarehouseLease.release(spark, wh, owner = "x")
  }

  test("write lease: a mid-body reclaim is surfaced on exit, never silent") {
    // simulate the >ttl heartbeat gap: a foreign writer overwrites the
    // lease file while the body runs. The beat must observe the foreign
    // owner, never re-stamp over it, and the holding call must THROW on
    // exit — the two-writer window was open and silence is the one
    // unacceptable outcome
    val wh = java.nio.file.Files.createTempDirectory("lease-lost").toString
    val ex = intercept[WarehouseLease.LeaseLostException] {
      WarehouseLease.withWriteLease(spark, wh, owner = "gapped",
        ttlMs = 300L) {
        // forge the reclaim (writeRefresh-equivalent): foreign owner, live
        val p = new org.apache.hadoop.fs.Path(wh, "._graft_writer_lease")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(p, true)
        try out.write(
          s"usurper|${System.currentTimeMillis() + 60000L}".getBytes("UTF-8"))
        finally out.close()
        Thread.sleep(700L) // several beat periods (ttl/3 = 100ms)
      }
    }
    assert(ex.getMessage.contains("lost to another owner"), ex.getMessage)
    // the usurper's lease was never clobbered by a stale re-stamp
    intercept[WarehouseLease.LeaseHeldException] {
      WarehouseLease.acquire(spark, wh, owner = "third", ttlMs = 1000L)
    }
    // and the bookkeeping is clean: after the usurper releases, the
    // original owner enters normally again (lost-flag cleared on exit)
    WarehouseLease.release(spark, wh, owner = "usurper")
    WarehouseLease.withWriteLease(spark, wh, owner = "gapped") { () }
  }

  test("write lease: awaitWriteLease outwaits contention but never auto-retries a lost lease") {
    val wh = java.nio.file.Files.createTempDirectory("lease-await").toString
    // a foreign holder about to expire: the waiting cadence polls through
    // the contention window, reclaims once the ttl lapses, and runs
    WarehouseLease.acquire(spark, wh, owner = "busy", ttlMs = 1500L)
    val t0 = System.currentTimeMillis()
    val ran = WarehouseLease.awaitWriteLease(spark, wh, owner = "cadence",
      ttlMs = 60000L, timeoutMs = 30000L, pollMs = 300L) { 42 }
    assert(ran == 42 && System.currentTimeMillis() - t0 >= 1000L,
      "await must poll through the foreign holder's remaining ttl")
    // a LIVE foreign holder past the timeout: the last contention
    // propagates instead of waiting forever
    WarehouseLease.acquire(spark, wh, owner = "busy2", ttlMs = 60000L)
    intercept[WarehouseLease.LeaseHeldException] {
      WarehouseLease.awaitWriteLease(spark, wh, owner = "cadence",
        ttlMs = 60000L, timeoutMs = 1200L, pollMs = 300L) { () }
    }
    // a LeaseHeldException thrown from INSIDE the body (a nested entry
    // point on a DIFFERENT warehouse) must propagate immediately — the
    // wrapper retries only its own acquisition, never a body whose
    // earlier writes already executed
    WarehouseLease.release(spark, wh, owner = "busy2")
    val whB = java.nio.file.Files.createTempDirectory("lease-awaitB").toString
    WarehouseLease.acquire(spark, whB, owner = "foreign-b", ttlMs = 60000L)
    var bodyRuns = 0
    val t1 = System.currentTimeMillis()
    intercept[WarehouseLease.LeaseHeldException] {
      WarehouseLease.awaitWriteLease(spark, wh, owner = "cadence",
        ttlMs = 60000L, timeoutMs = 30000L, pollMs = 300L) {
        bodyRuns += 1
        WarehouseLease.withWriteLease(spark, whB, owner = "cadence") { () }
      }
    }
    assert(bodyRuns == 1 && System.currentTimeMillis() - t1 < 10000L,
      s"body-origin contention must not be retried (ran $bodyRuns times)")
    WarehouseLease.release(spark, whB, owner = "foreign-b")
  }

  test("write lease: the heartbeat keeps a live slow holder from being reclaimed") {
    val wh = java.nio.file.Files.createTempDirectory("lease-slow").toString
    // a holder whose WORK outlives its raw ttl: without the heartbeat the
    // lease would expire mid-body and a second writer could reclaim it —
    // reopening the exact silent two-writer window the lease closes
    WarehouseLease.withWriteLease(spark, wh, owner = "slow-drop",
      ttlMs = 1200L) {
      Thread.sleep(3000L) // well past the raw ttl; beats fire every 400ms
      intercept[WarehouseLease.LeaseHeldException] {
        WarehouseLease.acquire(spark, wh, owner = "reclaimer", ttlMs = 1000L)
      }
    }
    // the heartbeat dies with the release: a later writer enters normally
    WarehouseLease.acquire(spark, wh, owner = "reclaimer", ttlMs = 1000L)
    WarehouseLease.release(spark, wh, owner = "reclaimer")
  }

  test("write lease: the market backfill sweep is leased too") {
    val pages = java.nio.file.Files.createTempDirectory("lease-pages")
    val wh = java.nio.file.Files.createTempDirectory("lease-mkt").toString
    val dir = pages.resolve("AAPL/adjusted")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("page-0000.json"),
      """{"results":[{"t":60000,"o":1,"h":2,"l":1,"c":2,"v":10,"vw":1.5,"n":2}],
        |"next_url":null}""".stripMargin)
    WarehouseLease.acquire(spark, wh, owner = "other-sweep", ttlMs = 60000L)
    intercept[WarehouseLease.LeaseHeldException] {
      graft.app.Backfill.run(spark, pages.toString, wh)
    }
    WarehouseLease.release(spark, wh, owner = "other-sweep")
    graft.app.Backfill.run(spark, pages.toString, wh)
    assert(spark.read.parquet(s"$wh/silver/bars").count() == 1L)
  }

  test("write lease: JVM re-entrancy lets nested entry points share one lease") {
    val wh = java.nio.file.Files.createTempDirectory("lease-wh2").toString
    val drop = Seq((1L, "short text about gardens and rivers flowing through quiet valleys"))
      .toDF("doc_id", "text")
    // outer scope holds; the nested run() re-enters at depth 2 instead of
    // deadlocking or failing — the promoteAndIngest -> run shape
    WarehouseLease.withWriteLease(spark, wh) {
      val (n, _) = CorpusIngest.run(spark, drop, wh)
      assert(n == 1L)
      // still held by us after the nested call returned (its exit must
      // not release the outer scope's lease)
      intercept[WarehouseLease.LeaseHeldException] {
        WarehouseLease.acquire(spark, wh, owner = "someone-else",
          ttlMs = 1000L)
      }
    }
    // outermost exit released: a different owner can now acquire
    WarehouseLease.acquire(spark, wh, owner = "someone-else", ttlMs = 1000L)
    WarehouseLease.release(spark, wh, owner = "someone-else")
    graft.core.GraftCaches.releaseAll(spark)
  }
}
