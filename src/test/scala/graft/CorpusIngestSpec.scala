package graft

import graft.app.CorpusIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end corpus warehouse lifecycle: drops land incrementally, dedup
  * state persists between runs, replays are no-ops, survivors derive from
  * the cumulative pair table.
  */
class CorpusIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire in winter"
  private val unrelated =
    "spark executes distributed dataframe plans with catalyst optimizing every stage of the physical query pipeline today"

  test("two drops: cross-drop pairs found incrementally, replay no-ops, survivors keep minima") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-wh").toString
    val drop1 = Seq((10L, base), (20L, unrelated)).toDF("doc_id", "text")
    val drop2 = Seq(
      (30L, base.replace("winter", "summer")), // near-dup of 10
      (40L, unrelated),                        // exact dup of 20
      (50L, "completely fresh text about gardens and rivers flowing through quiet mountain valleys at dawn")
    ).toDF("doc_id", "text")

    val (n1, p1) = CorpusIngest.run(spark, drop1, wh)
    assert((n1, p1) == (2L, 0L), s"drop1: $n1 docs, $p1 pairs")

    val (n2, p2) = CorpusIngest.run(spark, drop2, wh)
    assert(n2 == 3L, s"drop2 landed $n2")
    val pairs = spark.read.parquet(s"$wh/corpus/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 30L)), s"missed cross-drop near-dup: $pairs")
    assert(pairs.contains((20L, 40L)), s"missed cross-drop exact dup: $pairs")
    assert(p2 == pairs.size.toLong, "drop2 discovered all cumulative pairs")

    // replay of drop2 is a complete no-op: no new docs, no new pairs, and
    // the warehouse tables hold their row counts
    val counts = Seq("documents", "shingles", "bands", "pairs")
      .map(t => t -> spark.read.parquet(s"$wh/corpus/$t").count()).toMap
    assert(CorpusIngest.run(spark, drop2, wh) == (0L, 0L))
    counts.foreach { case (t, n) =>
      assert(spark.read.parquet(s"$wh/corpus/$t").count() == n,
        s"replay changed corpus/$t")
    }
    assert(counts("documents") == 5)

    // survivors: keep-the-minimum per cluster → 30 and 40 drop out
    val kept = CorpusIngest.survivors(spark, wh)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 20L, 50L), s"survivors wrong: $kept")
  }

  test("streaming drop watcher lands the same warehouse as batch ingest, replay-safe") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-wh3").toString
    val drops = java.nio.file.Files.createTempDirectory("corpus-drops").toString
    Seq((10L, base), (20L, unrelated)).toDF("doc_id", "text")
      .write.parquet(s"$drops/drop1")
    // file source watches the dir non-recursively; land files flat
    Seq((10L, base), (20L, unrelated)).toDF("doc_id", "text")
      .repartition(1).write.mode("overwrite").parquet(drops + "/d1")
    def sweep(): Unit = {
      val q = CorpusIngest.startStream(spark, drops + "/d1", wh)
      q.awaitTermination()
    }
    sweep()
    assert(spark.read.parquet(s"$wh/corpus/documents").count() == 2)
    // a second catch-up with nothing new is a no-op (checkpoint skips seen
    // files; even a replay would be caught by the idempotent run)
    sweep()
    assert(spark.read.parquet(s"$wh/corpus/documents").count() == 2)
    // new drop file arrives: only the increment lands, cross-drop pair found
    Seq((30L, base.replace("winter", "summer"))).toDF("doc_id", "text")
      .repartition(1).write.mode("append").parquet(drops + "/d1")
    sweep()
    assert(spark.read.parquet(s"$wh/corpus/documents").count() == 3)
    assert(spark.read.parquet(s"$wh/corpus/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      .contains((10L, 30L)), "cross-drop near-dup must be found by the stream")
  }

  test("a drop overlapping the corpus only pays for its genuinely-new slice") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-wh2").toString
    CorpusIngest.run(spark,
      Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text"), wh)
    // half this drop is already landed; only doc 3 is new
    val (n, _) = CorpusIngest.run(spark,
      Seq((2L, unrelated), (3L, base + " extra tail words here"))
        .toDF("doc_id", "text"), wh)
    assert(n == 1L, s"overlap must be trimmed before signing: landed $n")
    assert(spark.read.parquet(s"$wh/corpus/documents").count() == 3)
  }

  test("governance delete cascades through all corpus tables and re-ingest re-lands") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-whdel").toString
    CorpusIngest.run(spark,
      Seq((10L, base), (20L, unrelated)).toDF("doc_id", "text"), wh)
    CorpusIngest.run(spark,
      Seq((30L, base.replace("winter", "summer"))).toDF("doc_id", "text"), wh)
    assert(spark.read.parquet(s"$wh/corpus/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      == Set((10L, 30L)))

    val audit = CorpusIngest.delete(spark, wh, Seq(30L))
    // rows referencing 30 are gone from the FILES of every table
    for (t <- Seq("documents", "shingles", "bands", "doc_stats")) {
      val left = spark.read.parquet(s"$wh/corpus/$t")
        .filter(col("doc_id") === 30L).count()
      assert(left == 0, s"delete left $left rows in corpus/$t")
      assert(audit(t)._1 > audit(t)._2, s"audit for $t should record the purge")
    }
    // the purge emptied the pair store entirely — a bucketed store holds
    // ZERO data files then (bucketed writers create files lazily), so the
    // catalog/ledger read path is the one that knows the schema; the
    // file-level claim is checked directly on the file count
    assert(graft.core.Sinks.readBucketedPath(spark, s"$wh/corpus/pairs")
      .filter(col("doc_a") === 30L || col("doc_b") === 30L).count() == 0,
      "pair rows referencing a deleted doc must be purged")
    assert(graft.core.Sinks.dataFileCount(spark, s"$wh/corpus/pairs") == 0,
      "purge-to-empty must leave no data files behind")
    // survivors no longer see the deleted doc's cluster
    assert(CorpusIngest.survivors(spark, wh)
      .select("doc_id").as[Long].collect().toSet == Set(10L, 20L))

    // a re-submitted deleted doc_id is NOT swallowed by the trim anti-join:
    // it lands as new and re-derives its near-dup pairs
    val (n, p) = CorpusIngest.run(spark,
      Seq((30L, base.replace("winter", "summer"))).toDF("doc_id", "text"), wh)
    assert((n, p) == (1L, 1L), s"re-ingest after delete landed ($n, $p)")
    assert(spark.read.parquet(s"$wh/corpus/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      == Set((10L, 30L)), "re-ingest must re-derive the purged pair")
  }

  test("signature store compacts once drops fragment it; pairs unchanged") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-whcmp").toString
    // 6 single-doc drops at storeBuckets=1 → file counts pass the 4×buckets
    // gate of the bucketed compaction
    val texts = Seq(
      base, unrelated, base.replace("winter", "summer"),
      "gardens and rivers flowing through quiet mountain valleys at dawn today",
      "distributed systems retry with idempotent writes to stay exactly once",
      "a completely different sentence about compilers and register allocation")
    texts.zipWithIndex.foreach { case (t, i) =>
      CorpusIngest.run(spark,
        Seq((i.toLong * 10 + 1, t)).toDF("doc_id", "text"), wh,
        storeBuckets = 1)
    }
    for (t <- Seq("bands", "shingles")) {
      val files = graft.core.Sinks.dataFileCount(spark, s"$wh/corpus/$t")
      assert(files <= 4, s"corpus/$t still fragmented: $files files")
      // compaction must preserve the bucketed layout, not demote to plain
      assert(graft.core.Sinks.isBucketedStore(spark, s"$wh/corpus/$t"),
        s"corpus/$t lost its bucket spec across compaction")
    }
    val pairsBefore = spark.read.parquet(s"$wh/corpus/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the compacted store serves the next increment identically
    val (n, _) = CorpusIngest.run(spark,
      Seq((100L, base + " with a small tail")).toDF("doc_id", "text"), wh,
      storeBuckets = 1)
    assert(n == 1L)
    val pairsAfter = spark.read.parquet(s"$wh/corpus/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairsBefore.subsetOf(pairsAfter),
      "compaction must not lose previously derived pairs")
    assert(pairsAfter.exists(_._2 == 100L),
      "increment against the compacted store must still find near-dups")
  }

  test("bucketed signature store: incremental joins plan zero exchange on the store side") {
    import graft.core.Sinks
    import graft.operators.DedupOps
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val wh = java.nio.file.Files.createTempDirectory("corpus-whbkt").toString
    // a corpus of 40 docs seeds the store; buckets=4 keeps the layout real
    val seed = (1 to 40).map(i =>
      (i.toLong, s"seed document number $i about topic ${i % 5} with enough " +
        s"distinct words to shingle reliably across the corpus variant ${i % 3}"))
      .toDF("doc_id", "text")
    CorpusIngest.run(spark, seed, wh, storeBuckets = 4)
    val bandP = s"$wh/corpus/bands"; val shP = s"$wh/corpus/shingles"
    assert(Sinks.isBucketedStore(spark, bandP) && Sinks.isBucketedStore(spark, shP),
      "run() must create the store bucketed")

    val inc = Seq(
      (1000L, base), (1001L, base.replace("winter", "summer")),
      (1002L, "seed document number 7 about topic 2 with enough distinct " +
        "words to shingle reliably across the corpus variant 1"))
      .toDF("doc_id", "text")

    // emulate the at-scale regime: the increment is too big to broadcast
    // (threshold off) and AQE off so the static plan is inspectable
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // an exchange whose child subtree reads ONLY the store is a store-side
      // re-shuffle — the cost cliff bucketing exists to remove. (Exchanges
      // ABOVE the join legitimately contain the store scan among their
      // leaves; the forall keeps those out of scope.)
      def storeShuffles(df: org.apache.spark.sql.DataFrame, token: String) =
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeLike
            if e.child.collectLeaves().nonEmpty &&
               e.child.collectLeaves().forall(_.toString.contains(token)) => e
        }
      val pairs = DedupOps.minhashLshIncremental(
        Sinks.readBucketedPath(spark, bandP),
        Sinks.readBucketedPath(spark, shP), inc, threshold = 0.5)
      for (t <- Seq("corpus/bands", "corpus/shingles"))
        assert(storeShuffles(pairs, t).isEmpty,
          s"store side of the incremental join re-shuffles $t:\n" +
            pairs.queryExecution.executedPlan)
      // ... and the exchange-free store scan is never SORTED either: the
      // store joins hint SHUFFLE_HASH (increment builds, store streams) —
      // a sort-merge join would re-sort the corpus-sized store per drop
      def storeSorts(df: org.apache.spark.sql.DataFrame, token: String) =
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.SortExec
            if s.child.collectLeaves().nonEmpty &&
               s.child.collectLeaves().forall(_.toString.contains(token)) => s
        }
      for (t <- Seq("corpus/bands", "corpus/shingles"))
        assert(storeSorts(pairs, t).isEmpty,
          s"store side of the incremental join re-sorts $t:\n" +
            pairs.queryExecution.executedPlan)
      // ... and the result is the same one the unbucketed path computes
      val got = pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got.contains((1000L, 1001L)), s"missed new-new pair: $got")
      assert(got.exists(_._1 == 7L), s"missed new-old pair: $got")

      // unbucketed control: same store content as plain parquet — the same
      // query MUST shuffle the store side, or the assertion above is vacuous
      val plainDir = java.nio.file.Files.createTempDirectory("plainstore").toString
      spark.read.parquet(bandP).write.parquet(s"$plainDir/corpus/bands")
      spark.read.parquet(shP).write.parquet(s"$plainDir/corpus/shingles")
      val ctrl = DedupOps.minhashLshIncremental(
        spark.read.parquet(s"$plainDir/corpus/bands"),
        spark.read.parquet(s"$plainDir/corpus/shingles"), inc, threshold = 0.5)
      assert(storeShuffles(ctrl, "corpus/bands").nonEmpty,
        "plain-parquet control should shuffle the band store")
      assert(ctrl.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet == got,
        "bucketed and plain stores must derive identical pairs")
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("cumulative tables bucket on doc_id; trim is co-located; catalog loss self-heals") {
    import graft.core.Sinks
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val wh = java.nio.file.Files.createTempDirectory("corpus-whcum").toString
    val seed = (1 to 20).map(i =>
      (i.toLong, s"cumulative store document $i speaking plainly about topic ${i % 4} " +
        s"with words enough to shingle and score"))
      .toDF("doc_id", "text")
    CorpusIngest.run(spark, seed, wh, storeBuckets = 4)
    // every cumulative doc_id-keyed table carries the bucket contract
    for (t <- Seq("documents", "doc_stats", "shingles", "bands"))
      assert(Sinks.isBucketedStore(spark, s"$wh/corpus/$t"),
        s"corpus/$t should be a bucketed store")

    // the ingest trim (drop vs shingle store on doc_id) is fully
    // co-located when both sides share the bucket layout — zero exchange
    // anywhere in the anti-join, even with broadcast off
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val trim = Sinks.readBucketedPath(spark, s"$wh/corpus/documents")
        .join(Sinks.readBucketedPath(spark, s"$wh/corpus/shingles")
          .select("doc_id"), Seq("doc_id"), "left_anti")
      val shuffles = trim.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty,
        s"co-located trim still shuffles:\n${trim.queryExecution.executedPlan}")
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }

    // a FRESH session knows nothing of this warehouse's catalog entries —
    // simulate by dropping them; the next drop re-registers every store
    // from its spec ledger and appends under the ORIGINAL bucket count
    for (t <- Seq("documents", "doc_stats", "shingles", "bands"))
      spark.sql(
        s"DROP TABLE IF EXISTS `${Sinks.bucketedTableName(s"$wh/corpus/$t")}`")
    val (n, _) = CorpusIngest.run(spark,
      Seq((100L, "a genuinely new document about rivers and compilers meeting at dusk"))
        .toDF("doc_id", "text"), wh)
    assert(n == 1L, "re-registered warehouse must ingest normally")
    assert(spark.read.parquet(s"$wh/corpus/documents").count() == 21)
    assert(Sinks.bucketSpecOf(spark, s"$wh/corpus/documents")
      .contains((Seq("doc_id"), 4)),
      "append must keep the creation-time bucket count, not the default")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("interrupted first create: a ledger-less table is recreated bucketed on retry") {
    import graft.core.Sinks
    val drop = Seq((10L, base), (20L, unrelated),
      (30L, base.replace("winter", "summer"))).toDF("doc_id", "text")
    val clean = CorpusIngest.run(spark, drop,
      java.nio.file.Files.createTempDirectory("corpus-whclean").toString)
    assert(clean == ((3L, 1L)), s"clean run landed $clean")
    def docsOf(wh: String) = spark.read.parquet(s"$wh/corpus/documents")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // shingles window: the drop's last create committed its files, then the
    // writer died before stamping the ledger
    val whSh = java.nio.file.Files.createTempDirectory("corpus-whtornsh").toString
    CorpusIngest.run(spark, drop, whSh)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$whSh/corpus/shingles._bucketspec"))
    spark.sql(s"DROP TABLE IF EXISTS `${Sinks.bucketedTableName(s"$whSh/corpus/shingles")}`")
    assert(Sinks.hasCommittedDataFiles(spark, s"$whSh/corpus/shingles"))
    // documents window: the drop's files landed plain, nothing else did
    val whDocs = java.nio.file.Files.createTempDirectory("corpus-whtorndocs").toString
    drop.write.parquet(s"$whDocs/corpus/documents")
    for (wh <- Seq(whSh, whDocs)) {
      assert(CorpusIngest.run(spark, drop, wh) == clean,
        s"$wh: the retry must land what a clean run lands")
      for (t <- Seq("documents", "shingles"))
        assert(Sinks.isBucketedStore(spark, s"$wh/corpus/$t"),
          s"$wh: corpus/$t must come back bucketed, not appended as plain parquet")
      assert(docsOf(wh) == Seq(10L, 20L, 30L), s"$wh: ${docsOf(wh)}")
      assert(spark.read.parquet(s"$wh/corpus/shingles").count() == 3L)
    }
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("reinstate lifts tombstones: takedown → reinstate → re-promotion lands the doc again") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-whre").toString
    val drops = java.nio.file.Files.createTempDirectory("corpus-redrops").toString
    val landing = s"$wh/landing"
    Seq((10L, base), (20L, unrelated)).toDF("doc_id", "text")
      .repartition(1).write.mode("append").parquet(drops)
    CorpusIngest.startLanding(spark, drops, landing).awaitTermination()
    CorpusIngest.promoteAndIngest(spark, landing, wh)
    assert(spark.read.parquet(s"$wh/corpus/documents").count() == 2)

    CorpusIngest.delete(spark, wh, Seq(20L))
    // the landing still holds doc 20; promotion must NOT resurrect it
    CorpusIngest.promoteAndIngest(spark, landing, wh)
    assert(spark.read.parquet(s"$wh/corpus/documents")
      .filter(col("doc_id") === 20L).count() == 0,
      "takedown undone by promotion before reinstate")

    // reinstate of a never-deleted id is a no-op
    assert(CorpusIngest.reinstate(spark, wh, Seq(999L)) == 0L)
    // the real reinstate lifts exactly one tombstone...
    assert(CorpusIngest.reinstate(spark, wh, Seq(20L)) == 1L)
    // ...and is idempotent
    assert(CorpusIngest.reinstate(spark, wh, Seq(20L)) == 0L)

    // the doc re-submitted through the STREAM path now re-lands and its
    // state (docs + stats) rebuilds; the old landing's copy suffices here
    // because the tombstone, not the trim, was what blocked it
    Seq((20L, unrelated)).toDF("doc_id", "text")
      .repartition(1).write.mode("append").parquet(drops)
    CorpusIngest.startLanding(spark, drops, landing).awaitTermination()
    CorpusIngest.promoteAndIngest(spark, landing, wh)
    assert(spark.read.parquet(s"$wh/corpus/documents")
      .filter(col("doc_id") === 20L).count() == 1,
      "reinstated doc must re-land via the stream path")

    // the embedding and media modalities run the same lift: the takedown
    // tombstones its ids unconditionally (no store of theirs exists here),
    // and the reinstate lifts exactly the tombstoned ones, audited under
    // the modality's own op names
    for ((del, rein, tombs, op) <- Seq[(Seq[Long] => Any, Seq[Long] => Long, String, String)](
        (CorpusIngest.deleteEmbeddings(spark, wh, _),
          CorpusIngest.reinstateEmbeddings(spark, wh, _), "emb_tombstones",
          "embeddings"),
        (CorpusIngest.deleteMedia(spark, wh, _),
          CorpusIngest.reinstateMedia(spark, wh, _), "media_tombstones",
          "media"))) {
      assert(rein(Seq(7L)) == 0L, s"$op: no tombstone table yet")
      del(Seq(7L, 8L))
      assert(rein(Seq(7L, 999L)) == 1L, s"$op: lifts only the tombstoned id")
      assert(rein(Seq(7L)) == 0L, s"$op: idempotent")
      assert(spark.read.parquet(s"$wh/corpus/$tombs").as[Long].collect()
        .toSeq == Seq(8L), s"$op: the other tombstone stays")
      val audit = CorpusIngest.governanceAudit(spark, wh)
        .select("op", "table", "rows_before", "rows_after")
        .as[(String, String, Long, Long)].collect().toSeq
      assert(audit.contains((s"delete_$op", tombs, 0L, 2L)), s"$audit")
      assert(audit.contains((s"reinstate_$op", tombs, 2L, 1L)), s"$audit")
    }
  }

  test("takedown issued before the FIRST promotion still tombstones; early promote no-ops") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-whpre").toString
    val drops = java.nio.file.Files.createTempDirectory("corpus-predrops").toString
    val landing = s"$wh/landing"
    // maintenance cadence firing before the landing ever committed must
    // no-op, not crash (the landing dir may not even exist yet)
    assert(CorpusIngest.promoteAndIngest(spark, landing, wh) == (0L, 0L))

    Seq((10L, base), (20L, unrelated)).toDF("doc_id", "text")
      .repartition(1).write.mode("append").parquet(drops)
    CorpusIngest.startLanding(spark, drops, landing).awaitTermination()
    // the landing has committed but NOTHING was promoted yet (no staged
    // table) — the takedown must still record its tombstone or the first
    // promotion silently undoes it
    CorpusIngest.delete(spark, wh, Seq(20L))
    CorpusIngest.promoteAndIngest(spark, landing, wh)
    assert(spark.read.parquet(s"$wh/corpus/documents")
      .select("doc_id").as[Long].collect().toSet == Set(10L),
      "pre-promotion takedown was resurrected by the first promotion")
  }

  test("pair table refuses appends under a different dedup threshold") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-whthr").toString
    CorpusIngest.run(spark,
      Seq((1L, base)).toDF("doc_id", "text"), wh, threshold = 0.5)
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.run(spark,
        Seq((2L, unrelated)).toDF("doc_id", "text"), wh, threshold = 0.7)
    }
    assert(e.getMessage.contains("0.5") && e.getMessage.contains("0.7"),
      s"error must name both thresholds: ${e.getMessage}")
    // matching threshold still lands
    val (n, _) = CorpusIngest.run(spark,
      Seq((2L, unrelated)).toDF("doc_id", "text"), wh, threshold = 0.5)
    assert(n == 1L)
  }

  test("incremental datacard equals the full-scan datacard, never rescans text") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-wh3").toString
    val drop1 = Seq(
      (1L, base, "en", "web"), (2L, unrelated, "en", "books"),
      (3L, "kurze deutsche worte ohne viel inhalt hier", "de", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val drop2 = Seq(
      (4L, "mountain rivers flow quietly through the valley at dawn", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    CorpusIngest.run(spark, drop1, wh)
    CorpusIngest.run(spark, drop2, wh)

    val inc = CorpusIngest.datacard(spark, wh)
    val full = graft.operators.TextOps.datacard(
      spark.read.parquet(s"$wh/corpus/documents"))
    assert(inc.collect().toSeq == full.collect().toSeq,
      "warehouse rollup must equal the full-scan datacard row-for-row")

    // the report's scan reads the thin stats table only — old text untouched
    val scans = inc.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(_.contains("doc_stats")) &&
      !scans.exists(_.contains("corpus/documents")),
      s"datacard must read doc_stats, not documents: $scans")

    // replaying a drop is a stats no-op too
    CorpusIngest.run(spark, drop2, wh)
    assert(CorpusIngest.datacard(spark, wh).collect().toSeq ==
      inc.collect().toSeq)
  }

  test("embedding drops with trained centroids maintain the semdedup store incrementally") {
    import graft.core.Sinks
    import graft.operators.SimilarityOps
    val wh = java.nio.file.Files.createTempDirectory("corpus-whsem").toString
    def vec(major: Int, eps: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f; a((major + 1) % 64) = eps; a
    }
    val drop1 = Seq((1L, vec(0)), (2L, vec(30))).toDF("vec_id", "embedding")
    // frozen centroids trained on the seed corpus — the retrain-cadence
    // contract: the same frame is passed to every later drop
    val cents = graft.core.GraftCaches.acquire(
      SimilarityOps.kmeansCentroids(drop1, k = 2, iters = 1))
    CorpusIngest.ingestEmbeddings(spark, drop1, wh,
      trainedCentroids = Some(cents))
    assert(Sinks.isBucketedStore(spark, s"$wh/corpus/sem_asg"),
      "semdedup assignment store must be created bucketed")
    assert(Sinks.readBucketedPath(spark, s"$wh/corpus/sem_asg").count() == 2L)

    // drop 2: a near-identical twin of vec 1 — the sem pair derives
    // against the persisted assignments, old vectors untouched
    val drop2 = Seq((3L, vec(0, 0.01f))).toDF("vec_id", "embedding")
    CorpusIngest.ingestEmbeddings(spark, drop2, wh,
      trainedCentroids = Some(cents))
    val semPairs = spark.read.parquet(s"$wh/corpus/sem_pairs")
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(semPairs == Set((1L, 3L)), s"sem pairs: $semPairs")

    // replay is a no-op; a drifted sem threshold is refused before work
    val asgRows = spark.read.parquet(s"$wh/corpus/sem_asg").count()
    CorpusIngest.ingestEmbeddings(spark, drop2, wh,
      trainedCentroids = Some(cents))
    assert(spark.read.parquet(s"$wh/corpus/sem_asg").count() == asgRows)
    val err = intercept[IllegalArgumentException] {
      CorpusIngest.ingestEmbeddings(spark,
        Seq((9L, vec(7))).toDF("vec_id", "embedding"), wh,
        trainedCentroids = Some(cents), semThreshold = 0.5)
    }
    assert(err.getMessage.contains("sem_pairs"), err.getMessage)

    // COVERAGE guards, both directions: a sem-maintained warehouse refuses
    // a centroid-less drop (its vectors would never enter sem_asg), and
    // enabling sem on a warehouse with uncovered vectors demands a retrain
    val errNoCents = intercept[IllegalArgumentException] {
      CorpusIngest.ingestEmbeddings(spark,
        Seq((8L, vec(6))).toDF("vec_id", "embedding"), wh)
    }
    assert(errNoCents.getMessage.contains("sem-maintained"),
      errNoCents.getMessage)
    val wh2 = java.nio.file.Files.createTempDirectory("corpus-whsem2").toString
    CorpusIngest.ingestEmbeddings(spark,
      Seq((1L, vec(0))).toDF("vec_id", "embedding"), wh2)
    val errUncovered = intercept[IllegalArgumentException] {
      CorpusIngest.ingestEmbeddings(spark,
        Seq((2L, vec(3))).toDF("vec_id", "embedding"), wh2,
        trainedCentroids = Some(cents))
    }
    assert(errUncovered.getMessage.contains("retrainSemStore"),
      errUncovered.getMessage)

    // governance cascades through the semantic tables too
    val audit = CorpusIngest.deleteEmbeddings(spark, wh, Seq(1L))
    assert(audit.keySet.contains("sem_asg") && audit.keySet.contains("sem_pairs"),
      s"$audit")
    assert(Sinks.readBucketedPath(spark, s"$wh/corpus/sem_asg")
      .filter(col("vec_id") === 1L).isEmpty)
    assert(Sinks.readBucketedPath(spark, s"$wh/corpus/sem_pairs").isEmpty,
      "sem pair rows naming the deleted vector must be gone")

    // RETRAIN: fresh centroids on the current vector store, tables rebuilt
    // from scratch; the retrain may change the threshold regime (the old
    // ledger goes with the old table)
    CorpusIngest.retrainSemStore(spark, wh, k = 2, iters = 1)
    assert(Sinks.readBucketedPath(spark, s"$wh/corpus/sem_asg")
      .select("vec_id").as[Long].collect().toSet == Set(2L, 3L),
      "retrain must rebuild assignments from the surviving vector store")
    val cents3 = CorpusIngest.retrainSemStore(spark, wh, k = 2, iters = 1,
      semThreshold = 0.8)
    // a new drop under the new centroids pairs with the surviving twin
    CorpusIngest.ingestEmbeddings(spark,
      Seq((5L, vec(0, 0.02f))).toDF("vec_id", "embedding"), wh,
      trainedCentroids = Some(cents3), semThreshold = 0.8)
    val semPairs2 = spark.read.parquet(s"$wh/corpus/sem_pairs")
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(semPairs2 == Set((3L, 5L)), s"post-retrain sem pairs: $semPairs2")
    // the SemDeDup-applied view: 5 loses to its cluster minimum 3
    assert(CorpusIngest.semSurvivors(spark, wh)
      .select("vec_id").as[Long].collect().toSet == Set(2L, 3L),
      "semSurvivors must keep the per-cluster minimum + singletons")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("media drops: incremental phash pairs, broken payloads trimmed once, governance cascade") {
    import graft.core.Sinks
    import graft.operators.Multimodal
    val wh = java.nio.file.Files.createTempDirectory("corpus-whmedia").toString
    // synthetic corpus plants (10k, 10k+1) near-dup pairs; ids 0,1,2 and a
    // null-content payload (undecodable) form drop 1
    def imgs(ids: Seq[Long]) =
      Multimodal.syntheticImageCorpus(ids.toDF("doc_id"))
    val broken = Seq((99L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "content")
    val drop1 = imgs(Seq(0L, 1L, 2L)).unionByName(broken)
    val (n1, p1) = CorpusIngest.ingestMedia(spark, drop1, wh)
    assert(n1 == 4L, s"drop1 landed $n1")
    assert(p1 == 1L, s"drop1 pairs: $p1 (planted (0,1))")
    // the broken payload committed with a NULL hash: trimmed on replay,
    // never re-decoded, and absent from the banded store
    assert(spark.read.parquet(s"$wh/corpus/media_hashes")
      .filter(col("media_id") === 99L && col("phash").isNull).count() == 1L)
    assert(spark.read.parquet(s"$wh/corpus/media_bands")
      .filter(col("media_id") === 99L).isEmpty)

    // drop 2: the twin of stored image 10 arrives later (11), plus a
    // replayed id — cross-drop pair found incrementally, replay trimmed
    val drop2 = imgs(Seq(10L, 2L)).unionByName(broken)
    val (n2, _) = CorpusIngest.ingestMedia(spark, drop2, wh)
    assert(n2 == 1L, s"drop2 landed $n2 (2 and 99 must trim)")
    val (n3, p3) = CorpusIngest.ingestMedia(spark, imgs(Seq(11L)), wh)
    assert((n3, p3) == (1L, 1L), s"drop3: $n3/$p3")
    val pairs = spark.read.parquet(s"$wh/corpus/media_pairs")
      .select("media_a", "media_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (10L, 11L)), s"cumulative: $pairs")

    // a different hamming cut is refused before any work
    val err = intercept[IllegalArgumentException] {
      CorpusIngest.ingestMedia(spark, imgs(Seq(20L)), wh, maxHamming = 1)
    }
    assert(err.getMessage.contains("media_pairs"), err.getMessage)

    // survivors keep TRAINABLE cluster minima + singletons: the broken
    // row's null-hash entry is ingest bookkeeping (decoded once, trimmed
    // forever), not a survivor — a training view must not ship media the
    // pipeline itself could not decode
    assert(CorpusIngest.mediaSurvivors(spark, wh)
      .select("media_id").as[Long].collect().toSet == Set(0L, 2L, 10L),
      "mediaSurvivors must drop the non-minimum twins AND undecodable rows")

    // governance: deleting image 10 purges hash, bands, and pair rows;
    // a re-submission re-lands as new and re-derives its pair
    val audit = CorpusIngest.deleteMedia(spark, wh, Seq(10L))
    assert(audit.keySet == Set("media_hashes", "media_bands", "media_pairs"),
      s"$audit")
    assert(Sinks.readBucketedPath(spark, s"$wh/corpus/media_hashes")
      .filter(col("media_id") === 10L).isEmpty)
    val (n4, p4) = CorpusIngest.ingestMedia(spark, imgs(Seq(10L)), wh)
    assert((n4, p4) == (1L, 1L), s"re-submission: $n4/$p4")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("crash recovery: a doc missing its commit-point row re-lands fully on retry") {
    import graft.core.Sinks
    // the shingle table is the trim's existence key and the LAST table the
    // ingest writes — simulate a crash after the earlier appends (pairs,
    // documents, doc_stats, bands landed) but before the commit point by
    // deleting one doc's shingle row, then retry the identical drop
    val wh = java.nio.file.Files.createTempDirectory("corpus-whcrash").toString
    val drop = Seq((10L, base), (20L, unrelated)).toDF("doc_id", "text")
    CorpusIngest.run(spark, drop, wh)
    Sinks.deleteBucketedByKey(spark, s"$wh/corpus/shingles",
      Seq(20L).toDF("doc_id"), Seq("doc_id"))

    val (n, _) = CorpusIngest.run(spark, drop, wh)
    assert(n == 1L, s"retry must re-admit exactly the uncommitted doc, got $n")
    // every table holds exactly one copy of doc 20's rows again
    def rows(t: String, key: String = "doc_id") =
      spark.read.parquet(s"$wh/corpus/$t").filter(col(key) === 20L).count()
    assert(rows("shingles") == 1L, "commit-point row restored")
    assert(rows("documents") == 1L, "keyed append must not duplicate documents")
    assert(rows("doc_stats") == 1L, "keyed append must not duplicate stats")
    assert(rows("bands") == 16L, s"band rows duplicated or lost: ${rows("bands")}")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("crash recovery: a vector missing its commit-point row re-lands fully on retry") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whcrashe").toString
    def vec(major: Int): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f; a
    }
    val drop = Seq((1L, vec(0)), (2L, vec(3))).toDF("vec_id", "embedding")
    CorpusIngest.ingestEmbeddings(spark, drop, wh)
    // the vector store is the embedding trim's commit point (written last)
    Sinks.deleteBucketedByKey(spark, s"$wh/corpus/emb_vecs",
      Seq(2L).toDF("vec_id"), Seq("vec_id"))

    val (n, _) = CorpusIngest.ingestEmbeddings(spark, drop, wh)
    assert(n == 1L, s"retry must re-admit exactly the uncommitted vec, got $n")
    def rows(t: String) =
      spark.read.parquet(s"$wh/corpus/$t").filter(col("vec_id") === 2L).count()
    assert(rows("emb_vecs") == 1L, "commit-point row restored")
    assert(rows("emb_bands") == 48L,
      s"band rows duplicated or lost: ${rows("emb_bands")}")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("crash recovery: media missing its commit-point row re-lands fully on retry") {
    import graft.core.Sinks
    import graft.operators.Multimodal
    val wh = java.nio.file.Files.createTempDirectory("corpus-whcrashm").toString
    val drop = Multimodal.syntheticImageCorpus(Seq(0L, 2L).toDF("doc_id"))
    CorpusIngest.ingestMedia(spark, drop, wh)
    // simulate a crash after pairs/bands landed but before the hash commit
    Sinks.deleteBucketedByKey(spark, s"$wh/corpus/media_hashes",
      Seq(2L).toDF("media_id"), Seq("media_id"))
    val (n, _) = CorpusIngest.ingestMedia(spark, drop, wh)
    assert(n == 1L, s"retry must re-admit exactly the uncommitted image, got $n")
    def rows(t: String) =
      spark.read.parquet(s"$wh/corpus/$t").filter(col("media_id") === 2L).count()
    assert(rows("media_hashes") == 1L, "commit-point row restored")
    assert(rows("media_bands") == 4L,
      s"band rows duplicated or lost: ${rows("media_bands")}")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("ingest drivers release their operator caches on exit") {
    // a long-running ingest service calls run()/ingestEmbeddings() per
    // drop; each call persists operator intermediates (shingle/band/code
    // frames) internally and must not leak them past its own scope
    val wh = java.nio.file.Files.createTempDirectory("corpus-whscope").toString
    val before = graft.core.GraftCaches.registered(spark)
    CorpusIngest.run(spark,
      Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text"), wh)
    assert(graft.core.GraftCaches.registered(spark) == before,
      "run() leaked graft-owned caches")
    CorpusIngest.ingestEmbeddings(spark,
      Seq((1L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding"), wh)
    assert(graft.core.GraftCaches.registered(spark) == before,
      "ingestEmbeddings() leaked graft-owned caches")
  }

  test("embedding drops: incremental pairs, replay no-op, threshold guard, delete cascade") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whemb").toString
    def vec(major: Int, eps: Float): Array[Float] = {
      val a = Array.fill(8)(0f); a(major) = 1f; a((major + 1) % 8) = eps; a
    }
    // ingestEmbeddings runs the library-default 64-wide plane geometry, so
    // the synthetic 8-d vectors are zero-padded to 64 dims — the test
    // exercises the exact production configuration
    def pad(a: Array[Float]): Array[Float] = a ++ Array.fill(56)(0f)
    val drop1 = Seq((1L, pad(vec(0, 0f))), (2L, pad(vec(3, 0f))))
      .toDF("vec_id", "embedding")
    val (n1, p1) = CorpusIngest.ingestEmbeddings(spark, drop1, wh)
    assert((n1, p1) == (2L, 0L), s"drop1: $n1 vecs, $p1 pairs")
    assert(Sinks.isBucketedStore(spark, s"$wh/corpus/emb_vecs") &&
      Sinks.isBucketedStore(spark, s"$wh/corpus/emb_bands"),
      "embedding store must be created bucketed")

    // drop 2: a near-dup of vec 1 and an exact re-send of vec 2 (trimmed)
    val drop2 = Seq((3L, pad(vec(0, 0.01f))), (2L, pad(vec(3, 0f))))
      .toDF("vec_id", "embedding")
    val (n2, p2) = CorpusIngest.ingestEmbeddings(spark, drop2, wh)
    assert(n2 == 1L, s"drop2 landed $n2 (vec 2 must trim)")
    assert(p2 == 1L, s"drop2 pairs: $p2")
    val pairs = spark.read.parquet(s"$wh/corpus/emb_pairs")
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)), s"cumulative emb pairs: $pairs")

    // replay of drop 2 is a complete no-op
    val (n3, p3) = CorpusIngest.ingestEmbeddings(spark, drop2, wh)
    assert((n3, p3) == (0L, 0L), s"replay: $n3/$p3")

    // a different threshold is refused before any work
    val err = intercept[IllegalArgumentException] {
      CorpusIngest.ingestEmbeddings(spark,
        Seq((9L, pad(vec(5, 0f)))).toDF("vec_id", "embedding"), wh,
        threshold = 0.9)
    }
    assert(err.getMessage.contains("emb_pairs"), err.getMessage)

    // governance: deleting vec 1 purges its vector, bands, and pair rows
    val audit = CorpusIngest.deleteEmbeddings(spark, wh, Seq(1L))
    assert(audit.keySet == Set("emb_vecs", "emb_bands", "emb_pairs"), s"$audit")
    // post-delete reads go through the bucketed registration: the pair
    // table is now EMPTY, and an empty bucketed store has no parquet files
    // for a plain directory read to infer a schema from
    assert(Sinks.readBucketedPath(spark, s"$wh/corpus/emb_vecs")
      .filter(col("vec_id") === 1L).isEmpty)
    assert(Sinks.readBucketedPath(spark, s"$wh/corpus/emb_pairs").isEmpty,
      "pair rows naming the deleted vector must be gone")
    // ... and the store layout survives the rewrite
    assert(Sinks.isBucketedStore(spark, s"$wh/corpus/emb_vecs"),
      "delete must preserve the bucketed layout")
    // a re-submission of the deleted id lands as new and re-derives pairs
    val (n4, p4) = CorpusIngest.ingestEmbeddings(spark,
      Seq((1L, pad(vec(0, 0f)))).toDF("vec_id", "embedding"), wh)
    assert((n4, p4) == (1L, 1L), s"re-submission: $n4/$p4")
    assert(spark.read.parquet(s"$wh/corpus/emb_pairs")
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet ==
      Set((1L, 3L)), "re-derived pair set")
    // the deduplicated embedding view keeps the cluster minimum (vec 1)
    // and the unpaired vec 2; loser vec 3 is dropped
    assert(CorpusIngest.embSurvivors(spark, wh)
      .select("vec_id").as[Long].collect().toSet == Set(1L, 2L),
      "embSurvivors must keep the per-cluster minimum + singletons")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("ghost guard: orphan store rows from an abandoned crashed drop emit no pairs") {
    import graft.core.Sinks
    import graft.operators.{Multimodal, SimilarityOps}
    // MEDIA: drop 1 commits; then a crashed drop lands BAND rows for image
    // 50 but dies before the hash commit point and is never retried. Image
    // 51 (50's planted twin) arriving later must NOT pair with the ghost —
    // a ghost pair could crown 50 as component minimum and evict the real
    // image 51 from mediaSurvivors even though 50 was never committed.
    val wh = java.nio.file.Files.createTempDirectory("corpus-whghost").toString
    def imgs(ids: Seq[Long]) =
      Multimodal.syntheticImageCorpus(ids.toDF("doc_id"))
    CorpusIngest.ingestMedia(spark, imgs(Seq(0L, 1L, 2L)), wh)
    // simulate the crash window: bands landed, hash commit point did not
    Sinks.bucketedIdempotentAppend(
      Multimodal.phashBandTable(imgs(Seq(50L))), s"$wh/corpus/media_bands",
      keys = Seq("ci", "chunk", "media_id"), bucketKeys = Seq("ci", "chunk"),
      buckets = 8)
    val (_, pM) = CorpusIngest.ingestMedia(spark, imgs(Seq(51L)), wh)
    assert(pM == 0L, s"ghost pair derived against uncommitted bands: $pM")
    assert(spark.read.parquet(s"$wh/corpus/media_pairs")
      .filter(col("media_a") === 50L || col("media_b") === 50L).isEmpty,
      "no pair may reference the uncommitted media id")
    // the abandoned drop's RETRY still heals: the trim re-admits 50 (no
    // hash row yet), the band append no-ops, and the twin pair derives now
    val (nR, pR) = CorpusIngest.ingestMedia(spark, imgs(Seq(50L)), wh)
    assert((nR, pR) == (1L, 1L), s"retry must re-land and pair: $nR/$pR")

    // SEM: the same window on the embedding side — sem_asg rows landed for
    // an uncommitted vector 7; its near-twin 8 must not sem-pair with the
    // ghost, but still pairs with the COMMITTED near-twin 1
    def vec(major: Int, eps: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f; a((major + 1) % 64) = eps; a
    }
    val seed = Seq((1L, vec(0)), (2L, vec(30))).toDF("vec_id", "embedding")
    val cents = graft.core.GraftCaches.acquire(
      SimilarityOps.kmeansCentroids(seed, k = 2, iters = 1))
    CorpusIngest.ingestEmbeddings(spark, seed, wh,
      trainedCentroids = Some(cents))
    Sinks.bucketedIdempotentAppend(
      SimilarityOps.semAssignTable(
        Seq((7L, vec(0, 0.01f))).toDF("vec_id", "embedding"), cents),
      s"$wh/corpus/sem_asg",
      keys = Seq("cid", "vec_id"), bucketKeys = Seq("cid"), buckets = 8)
    CorpusIngest.ingestEmbeddings(spark,
      Seq((8L, vec(0, 0.02f))).toDF("vec_id", "embedding"), wh,
      trainedCentroids = Some(cents))
    val semPairs = spark.read.parquet(s"$wh/corpus/sem_pairs")
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(!semPairs.exists(p => p._1 == 7L || p._2 == 7L),
      s"no sem pair may reference the uncommitted vector: $semPairs")
    assert(semPairs.contains((1L, 8L)), s"committed pair missing: $semPairs")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("hot-bucket cap: a boilerplate flood's buckets are skipped by later probes and ledgered") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-whhot").toString
    // a flood of IDENTICAL docs: every flood member lands the same 16
    // (band, sig) rows, so each of those buckets holds 60 docs — plus one
    // normal doc in its own cold buckets
    val flood = ((100L until 160L).map(i => (i, base)) :+ (20L, unrelated))
      .toDF("doc_id", "text")
    CorpusIngest.run(spark, flood, wh)
    // capped probe: a near-twin of the flood text finds NOTHING (all its
    // matching buckets are hot), while a near-twin of the cold doc still
    // pairs — the cap is per-bucket, not a probe kill-switch
    val drop2 = Seq(
      (999L, base.replace("winter", "summer")),
      (21L, unrelated.replace("today", "tomorrow"))).toDF("doc_id", "text")
    val (n2, p2) = CorpusIngest.run(spark, drop2, wh,
      maxBucketCandidates = Some(50))
    assert(n2 == 2L, s"drop2 landed $n2")
    assert(p2 == 1L, s"flood buckets must be skipped, cold pair kept: $p2")
    val pairRows = spark.read.parquet(s"$wh/corpus/pairs")
      .filter(col("doc_a") === 999L || col("doc_b") === 999L).count()
    assert(pairRows == 0L, "no pair may come from a capped bucket")
    // the recall trade is RECORDED, never silent: the ledger names the
    // skipped buckets with their sizes
    val capped = spark.read.parquet(s"$wh/corpus/capped_buckets")
    assert(capped.count() == 16L &&
      capped.agg(min(col("n_docs"))).head().getLong(0) >= 60L,
      "every flooded (band, sig) bucket must be ledgered")
    // later capped drops re-detect the same hot buckets; the keyed ledger
    // append no-ops instead of duplicating rows
    CorpusIngest.run(spark,
      Seq((22L, "entirely new content about telescopes observing distant quiet galaxies"))
        .toDF("doc_id", "text"), wh, maxBucketCandidates = Some(50))
    assert(spark.read.parquet(s"$wh/corpus/capped_buckets").count() == 16L)
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("hot-bucket salt: flooded buckets keep their pairs through the salted branch") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whsalt").toString
    // the same flood shape as the skip test: 60 identical docs heat 16
    // (band, sig) buckets; one cold doc alongside
    val flood = ((100L until 160L).map(i => (i, base)) :+ (20L, unrelated))
      .toDF("doc_id", "text")
    CorpusIngest.run(spark, flood, wh)
    // salt mode: the near-twin of the flood text derives ALL 60 pairs
    // (through the salted branch) plus the cold pair — the uncapped pair
    // set, where skip mode kept only the cold pair
    val drop2 = Seq(
      (999L, base.replace("winter", "summer")),
      (21L, unrelated.replace("today", "tomorrow"))).toDF("doc_id", "text")
    val (n2, p2) = CorpusIngest.run(spark, drop2, wh,
      maxBucketCandidates = Some(50), hotBucketSalt = 4)
    assert(n2 == 2L, s"drop2 landed $n2")
    assert(p2 == 61L, s"salted probe must keep the flood's recall: $p2")
    assert(spark.read.parquet(s"$wh/corpus/pairs")
      .filter(col("doc_a") === 999L || col("doc_b") === 999L).count() == 60L,
      "every flood pair must derive through the salted branch")
    // no recall was traded, so nothing may be ledgered as capped
    assert(!Sinks.pathExists(spark, s"$wh/corpus/capped_buckets"),
      "salt mode must not write the capped ledger")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("hot-bucket salt: embedding and media salted probes equal the uncapped pair sets") {
    import graft.operators.{Multimodal, SimilarityOps}
    def v(eps: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(0) = 1f; a(1) = eps; a
    }
    val storedEmb = (0L until 60L).map(i => (i, v(0f))).toDF("vec_id", "embedding")
    val storedBands = graft.core.GraftCaches.acquire(
      SimilarityOps.embBandTable(storedEmb))
    val storedVecs = graft.core.GraftCaches.acquire(
      SimilarityOps.embVecTable(storedEmb))
    val probe = Seq((999L, v(0.01f))).toDF("vec_id", "embedding")
    val uncapped = SimilarityOps.cosinePairsLshIncremental(
      storedBands, storedVecs, probe, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hotE = SimilarityOps.overflowingCodeBuckets(storedBands, cap = 50)
    val salted = SimilarityOps.cosinePairsLshIncremental(
      storedBands, storedVecs, probe, threshold = 0.9,
      excludeBuckets = Some(hotE), saltHotBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 60 && salted == uncapped,
      s"salted emb probe must equal uncapped: ${salted.size} vs ${uncapped.size}")

    val floodHashes = (0L until 60L).map(i => (i, 0x0f0f0f0fL))
      .toDF("media_id", "phash")
    val storedMb = graft.core.GraftCaches.acquire(
      Multimodal.phashBandTableFromHashes(floodHashes))
    val freshMb = graft.core.GraftCaches.acquire(
      Multimodal.phashBandTableFromHashes(
        Seq((999L, 0x0f0f0f0eL)).toDF("media_id", "phash")))
    val uncappedM = Multimodal.phashIncrementalFromBands(storedMb, freshMb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hotM = Multimodal.overflowingChunkBuckets(storedMb, cap = 50)
    val saltedM = Multimodal.phashIncrementalFromBands(storedMb, freshMb,
      excludeBuckets = Some(hotM), saltHotBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncappedM.size == 60 && saltedM == uncappedM,
      s"salted media probe must equal uncapped: ${saltedM.size} vs ${uncappedM.size}")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("hot-bucket cap: embedding and media incremental probes skip overflowing buckets") {
    import graft.operators.{Multimodal, SimilarityOps}
    // EMBEDDINGS, operator level: 60 identical stored vectors flood every
    // (band, code) bucket they occupy; a near-twin probe under the cap
    // yields nothing, uncapped yields 60 pairs
    def v(eps: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(0) = 1f; a(1) = eps; a
    }
    val storedEmb = (0L until 60L).map(i => (i, v(0f))).toDF("vec_id", "embedding")
    val storedBands = graft.core.GraftCaches.acquire(
      SimilarityOps.embBandTable(storedEmb))
    val storedVecs = graft.core.GraftCaches.acquire(
      SimilarityOps.embVecTable(storedEmb))
    val probe = Seq((999L, v(0.01f))).toDF("vec_id", "embedding")
    val uncapped = SimilarityOps.cosinePairsLshIncremental(
      storedBands, storedVecs, probe, threshold = 0.9).count()
    assert(uncapped == 60L, s"uncapped control: $uncapped")
    val hotE = SimilarityOps.overflowingCodeBuckets(storedBands, cap = 50)
    val capped = SimilarityOps.cosinePairsLshIncremental(
      storedBands, storedVecs, probe, threshold = 0.9,
      excludeBuckets = Some(hotE)).count()
    assert(capped == 0L, s"capped probe must skip the flood: $capped")

    // MEDIA, operator level: 60 identical stored hashes flood the
    // (ci, chunk) buckets; same skip-vs-control contract
    val floodHashes = (0L until 60L).map(i => (i, 0x0f0f0f0fL))
      .toDF("media_id", "phash")
    val storedMb = graft.core.GraftCaches.acquire(
      Multimodal.phashBandTableFromHashes(floodHashes))
    val freshMb = graft.core.GraftCaches.acquire(
      Multimodal.phashBandTableFromHashes(
        Seq((999L, 0x0f0f0f0eL)).toDF("media_id", "phash")))
    val uncappedM = Multimodal.phashIncrementalFromBands(
      storedMb, freshMb).count()
    assert(uncappedM == 60L, s"uncapped media control: $uncappedM")
    val hotM = Multimodal.overflowingChunkBuckets(storedMb, cap = 50)
    val cappedM = Multimodal.phashIncrementalFromBands(
      storedMb, freshMb, excludeBuckets = Some(hotM)).count()
    assert(cappedM == 0L, s"capped media probe must skip the flood: $cappedM")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("salted probe: the cold store path stays exchange-free; hot candidates join on the salt key") {
    import graft.core.Sinks
    import graft.operators.DedupOps
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val wh = java.nio.file.Files.createTempDirectory("corpus-whsaltplan").toString
    // a 10-doc flood heats every bucket it occupies (cap = 5); one cold doc
    CorpusIngest.run(spark,
      ((100L until 110L).map(i => (i, base)) :+ (20L, unrelated))
        .toDF("doc_id", "text"), wh, storeBuckets = 4)
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val bands = Sinks.readBucketedPath(spark, s"$wh/corpus/bands")
      val sh = Sinks.readBucketedPath(spark, s"$wh/corpus/shingles")
      val drop = Seq((999L, base.replace("winter", "summer")),
        (21L, unrelated.replace("today", "tomorrow"))).toDF("doc_id", "text")
      val salted = DedupOps.minhashLshIncremental(bands, sh, drop,
        threshold = 0.5,
        excludeBuckets = Some(DedupOps.overflowingBuckets(bands, cap = 5)),
        saltHotBuckets = 4)
      val plan = salted.queryExecution.executedPlan
      // the hot branch's candidates must carry the salt key (that is what
      // bounds per-task fan-in to ~membership/salts)
      assert(plan.toString.contains("_salt"),
        s"salted branch must join on _salt:\n$plan")
      // the COLD new-old join still streams the band store straight off
      // its bucketed scan: no exchange, no sort anywhere beneath it — the
      // salted branch must not cost the cold path its zero-exchange shape
      val coldOk = plan.collect { case j: ShuffledHashJoinExec => j }
        .exists { j =>
          val streamed = j.buildSide match {
            case BuildLeft => j.right
            case BuildRight => j.left
          }
          val leaves = streamed.collectLeaves()
          leaves.nonEmpty &&
            leaves.forall(_.toString.contains("corpus/bands")) &&
            streamed.collect { case e: ShuffleExchangeLike => e }.isEmpty &&
            streamed.collect {
              case s: org.apache.spark.sql.execution.SortExec => s
            }.isEmpty
        }
      assert(coldOk,
        s"cold store side must stream exchange-free and unsorted:\n$plan")
      graft.core.GraftCaches.releaseAll(spark)
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("overflow scan and commit guard stay co-located on the bucketed stores") {
    import graft.core.Sinks
    import graft.operators.{DedupOps, Multimodal}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val wh = java.nio.file.Files.createTempDirectory("corpus-whcoloc").toString
    val seed = (1 to 40).map(i =>
      (i.toLong, s"seed document number $i about topic ${i % 5} with enough " +
        s"distinct words to shingle reliably across the corpus variant ${i % 3}"))
      .toDF("doc_id", "text")
    CorpusIngest.run(spark, seed, wh, storeBuckets = 4)
    CorpusIngest.ingestMedia(spark, Multimodal.syntheticImageCorpus(
      (0L until 20L).toDF("doc_id")), wh, storeBuckets = 4)

    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def storeShuffles(df: org.apache.spark.sql.DataFrame, token: String) =
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeLike
            if e.child.collectLeaves().nonEmpty &&
               e.child.collectLeaves().forall(_.toString.contains(token)) => e
        }
      // 1. the hot-bucket overflow scan: its groupBy keys ARE the store's
      //    bucket keys, so partial aggregation collapses per bucket file
      //    and the final aggregate reads the scan's own distribution —
      //    zero exchange ANYWHERE, or the per-drop skew guard would itself
      //    cost a store-wide shuffle
      val hot = DedupOps.overflowingBuckets(
        Sinks.readBucketedPath(spark, s"$wh/corpus/bands"), cap = 2)
      assert(hot.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }.isEmpty,
        s"overflow scan shuffles:\n${hot.queryExecution.executedPlan}")

      // 2. the media commit guard: the hash commit table streams off its
      //    media_id buckets — never re-shuffled, never sorted; only the
      //    pair-bounded guard input moves
      val freshB = graft.core.GraftCaches.acquire(
        Multimodal.phashBandTable(Multimodal.syntheticImageCorpus(
          Seq(1000L, 1001L).toDF("doc_id"))))
      def guarded(commit: org.apache.spark.sql.DataFrame) =
        Multimodal.phashIncrementalFromBands(
          Sinks.readBucketedPath(spark, s"$wh/corpus/media_bands"), freshB,
          commitIds = Some(commit))
      val pairs = guarded(Sinks
        .readBucketedPath(spark, s"$wh/corpus/media_hashes")
        .select("media_id"))
      for (t <- Seq("corpus/media_bands", "corpus/media_hashes"))
        assert(storeShuffles(pairs, t).isEmpty,
          s"commit guard re-shuffles $t:\n${pairs.queryExecution.executedPlan}")
      def storeSorts(df: org.apache.spark.sql.DataFrame, token: String) =
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.SortExec
            if s.child.collectLeaves().nonEmpty &&
               s.child.collectLeaves().forall(_.toString.contains(token)) => s
        }
      assert(storeSorts(pairs, "corpus/media_hashes").isEmpty,
        s"commit guard sorts the hash store:\n${pairs.queryExecution.executedPlan}")

      // plain-parquet control: the same guard MUST shuffle the commit
      // table, or the assertions above are vacuous
      val plainDir =
        java.nio.file.Files.createTempDirectory("plainhash").toString
      spark.read.parquet(s"$wh/corpus/media_hashes")
        .write.parquet(s"$plainDir/corpus/media_hashes")
      val ctrl = guarded(spark
        .read.parquet(s"$plainDir/corpus/media_hashes").select("media_id"))
      assert(storeShuffles(ctrl, "corpus/media_hashes").nonEmpty,
        "plain-parquet control should shuffle the commit table")
      assert(ctrl.collect().toSet == pairs.collect().toSet,
        "guarded pairs must be layout-independent")
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("forget: one call purges every fingerprint of a content key across all modalities") {
    import graft.core.Sinks
    import graft.operators.Multimodal
    val wh = java.nio.file.Files.createTempDirectory("corpus-whforget").toString
    def vec(major: Int, eps: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f; a((major + 1) % 64) = eps; a
    }
    // content key 7 reached all three modalities (doc 70, vec 700, media
    // 7000), each with a near-twin so pair rows exist in every pair table
    CorpusIngest.run(spark, Seq((70L, base),
      (71L, base.replace("winter", "summer")), (72L, unrelated))
      .toDF("doc_id", "text"), wh)
    CorpusIngest.ingestEmbeddings(spark, Seq((700L, vec(0)),
      (701L, vec(0, 0.01f)), (702L, vec(30))).toDF("vec_id", "embedding"), wh)
    CorpusIngest.ingestMedia(spark,
      Multimodal.syntheticImageCorpus(Seq(7000L, 7001L, 7002L).toDF("doc_id"))
        .withColumnRenamed("doc_id", "media_id"), wh)
    CorpusIngest.registerLinks(spark, wh,
      Seq((7L, "doc", 70L), (7L, "vec", 700L), (7L, "media", 7000L))
        .toDF("content_key", "modality", "id"))

    val audit = CorpusIngest.forget(spark, wh, Seq(7L))
    assert(audit.contains("doc.documents") && audit.contains("vec.emb_vecs") &&
      audit.contains("media.media_hashes") && audit.contains("links"),
      s"audit keys: ${audit.keySet}")

    // zero fingerprints across every store table, all nine + links
    def tbl(t: String) = {
      val p = s"$wh/corpus/$t"
      if (Sinks.isBucketedStore(spark, p)) Sinks.readBucketedPath(spark, p)
      else spark.read.parquet(p)
    }
    def gone(t: String, cond: org.apache.spark.sql.Column): Unit =
      assert(tbl(t).filter(cond).isEmpty, s"$t still holds fingerprints")
    gone("documents", col("doc_id") === 70L)
    gone("shingles", col("doc_id") === 70L)
    gone("bands", col("doc_id") === 70L)
    gone("doc_stats", col("doc_id") === 70L)
    gone("pairs", col("doc_a") === 70L || col("doc_b") === 70L)
    gone("emb_vecs", col("vec_id") === 700L)
    gone("emb_bands", col("vec_id") === 700L)
    gone("emb_pairs", col("vec_a") === 700L || col("vec_b") === 700L)
    gone("media_hashes", col("media_id") === 7000L)
    gone("media_bands", col("media_id") === 7000L)
    gone("media_pairs", col("media_a") === 7000L || col("media_b") === 7000L)
    gone("links", col("content_key") === 7L)
    // every modality tombstoned in one call (stream-path resurrection guard)
    assert(spark.read.parquet(s"$wh/corpus/tombstones")
      .as[Long].collect().toSeq == Seq(70L))
    assert(spark.read.parquet(s"$wh/corpus/emb_tombstones")
      .as[Long].collect().toSeq == Seq(700L))
    assert(spark.read.parquet(s"$wh/corpus/media_tombstones")
      .as[Long].collect().toSeq == Seq(7000L))
    // the twins survive in every modality — forget is key-scoped
    assert(tbl("documents").filter(col("doc_id") === 71L).count() == 1L)
    assert(tbl("emb_vecs").filter(col("vec_id") === 701L).count() == 1L)
    assert(tbl("media_hashes").filter(col("media_id") === 7001L).count() == 1L)
    // forgetting never-registered content is a no-op, not an error
    val noop = CorpusIngest.forget(spark, wh, Seq(999L))
    assert(noop.keySet == Set("links"), s"$noop")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("curated survivors: cross-modality dedup losses restrict the doc view; governance calls leave a durable audit trail") {
    import graft.core.Sinks
    import graft.operators.Multimodal
    val wh = java.nio.file.Files.createTempDirectory("corpus-whcur").toString
    def vec(major: Int, eps: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f; a((major + 1) % 64) = eps; a
    }
    assert(CorpusIngest.governanceAudit(spark, wh).isEmpty,
      "no governance call yet — the audit must be empty-but-schema'd")
    // three TEXT-unique docs; vectors 10/11 are cosine twins (11 loses to
    // the smaller id), media 9000/9001 are planted perceptual twins (9001
    // loses); vec 12 and media 9002 survive their modalities
    CorpusIngest.run(spark, Seq((1L, base), (2L, unrelated),
      (3L, "completely different text about mountain weather stations " +
        "reporting hourly pressure and wind readings to the valley network"))
      .toDF("doc_id", "text"), wh)
    CorpusIngest.ingestEmbeddings(spark, Seq((10L, vec(0)),
      (11L, vec(0, 0.01f)), (12L, vec(30))).toDF("vec_id", "embedding"), wh)
    CorpusIngest.ingestMedia(spark,
      Multimodal.syntheticImageCorpus(Seq(9000L, 9001L, 9002L).toDF("doc_id"))
        .withColumnRenamed("doc_id", "media_id"), wh)
    def curated() = CorpusIngest.curatedSurvivors(spark, wh)
      .select("doc_id").as[Long].collect().toSet
    // no links table: curated degenerates to the text survivors
    assert(curated() == Set(1L, 2L, 3L), s"pre-links curated: ${curated()}")
    // doc 1's embedding is the losing twin 11; doc 2's image is the losing
    // twin 9001; doc 3 links only to survivors
    CorpusIngest.registerLinks(spark, wh, Seq(
      (100L, "doc", 1L), (100L, "vec", 11L),
      (200L, "doc", 2L), (200L, "media", 9001L),
      (300L, "doc", 3L), (300L, "vec", 12L), (300L, "media", 9002L))
      .toDF("content_key", "modality", "id"))
    // text kept all three, but 1 and 2 are semantically/perceptually
    // duplicated content — the curated view drops them
    assert(curated() == Set(3L), s"curated: ${curated()}")

    // governance audit trail: delete + reinstate + forget each leave
    // durable per-table rows with the exact counts the call returned
    CorpusIngest.delete(spark, wh, Seq(3L))
    CorpusIngest.reinstate(spark, wh, Seq(3L))
    CorpusIngest.forget(spark, wh, Seq(100L))
    val audit = CorpusIngest.governanceAudit(spark, wh)
      .select("op", "table", "rows_before", "rows_after")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(audit.contains(("delete", "documents", 3L, 2L)), s"$audit")
    // the tombstone stamp is a touched table too — the audit must show
    // the streamed-resurrection block was placed, not just the purge
    assert(audit.contains(("delete", "tombstones", 0L, 1L)), s"$audit")
    assert(audit.contains(("reinstate", "tombstones", 1L, 0L)), s"$audit")
    assert(audit.exists(r => r._1 == "forget" && r._2 == "links"), s"$audit")
    assert(audit.exists(r => r._1 == "delete_embeddings"), s"$audit")
    // same-millisecond events stay ordered: the seq number is strictly
    // monotonic per governance call, so reinstate sorts after its delete
    val seqs = CorpusIngest.governanceAudit(spark, wh)
      .select("seq", "op").as[(Long, String)].collect().toSeq
    val delSeq = seqs.filter(_._2 == "delete").map(_._1).min
    val reinSeq = seqs.filter(_._2 == "reinstate").map(_._1).min
    assert(delSeq < reinSeq, s"seq must order the events: $seqs")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("survivors label store: maintained per drop, merges and relabels, dropped and rebuilt around deletes") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whlab").toString
    def surv() = CorpusIngest.survivors(spark, wh)
      .select("doc_id").as[Long].collect().toSet
    CorpusIngest.run(spark,
      Seq((10L, base), (20L, unrelated)).toDF("doc_id", "text"), wh)
    CorpusIngest.run(spark, Seq(
      (30L, base.replace("winter", "summer")), (40L, unrelated))
      .toDF("doc_id", "text"), wh)
    // pairs (10,30) and (20,40): the label store exists and the survivors
    // view READS it — no contraction rounds at read time
    assert(Sinks.isBucketedStore(spark, s"$wh/corpus/cc_labels"),
      "label store must be created by the pair-bearing drop")
    // leaves print catalog names, so recognize the label store by its
    // (node, component, seq) schema — and the pair table must be absent
    // from the read entirely (no contraction input at read time)
    val plan = CorpusIngest.survivors(spark, wh)
      .queryExecution.optimizedPlan.collectLeaves().map(_.toString)
    assert(plan.exists(s => s.contains("node#") && s.contains("seq#")),
      s"survivors must read the label store, leaves: $plan")
    assert(!plan.exists(s => s.contains("doc_a#")),
      s"survivors must not read the pair table when labels exist: $plan")
    assert(surv() == Set(10L, 20L), s"survivors: ${surv()}")

    // a later drop can RELABEL an existing component: doc 5 joins the
    // base cluster and, as the new minimum, becomes its canonical
    CorpusIngest.run(spark,
      Seq((5L, base.replace("winter", "autumn"))).toDF("doc_id", "text"), wh)
    assert(surv() == Set(5L, 20L),
      s"new minimum must relabel the touched component: ${surv()}")

    // a governance delete can split components — incremental merge cannot
    // express that, so the cascade rebuilds the store EAGERLY from the
    // purged pair table: reads stay label-scan priced immediately, and
    // the view result matches the full recompute
    CorpusIngest.delete(spark, wh, Seq(5L))
    assert(Sinks.isBucketedStore(spark, s"$wh/corpus/cc_labels"),
      "delete must rebuild the label store eagerly")
    val planPostDelete = CorpusIngest.survivors(spark, wh)
      .queryExecution.optimizedPlan.collectLeaves().map(_.toString)
    assert(planPostDelete.exists(s => s.contains("node#") && s.contains("seq#")),
      s"post-delete survivors must read the rebuilt store: $planPostDelete")
    assert(!planPostDelete.exists(s => s.contains("doc_a#")),
      s"post-delete survivors must not re-run the contraction: $planPostDelete")
    assert(surv() == Set(10L, 20L), s"post-delete survivors: ${surv()}")

    // the next pair-bearing drop merges INCREMENTALLY into the rebuilt
    // store (no drop-then-recreate churn), and the view stays correct
    CorpusIngest.run(spark,
      Seq((60L, unrelated.replace("today", "tonight")))
        .toDF("doc_id", "text"), wh)
    assert(Sinks.isBucketedStore(spark, s"$wh/corpus/cc_labels"),
      "label store must survive the post-delete drop")
    assert(surv() == Set(10L, 20L), s"post-rebuild survivors: ${surv()}")

    // torn-create residue: a label DIRECTORY without its spec ledger
    // (crash mid-first-write — the ledger is stamped last) must read as
    // "no store": the view falls back to the recompute instead of
    // serving a partial labeling, and the next writer clears the residue
    val labDir = new java.io.File(s"$wh/corpus/cc_labels")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(labDir)
    new java.io.File(s"$wh/corpus/cc_labels._bucketspec").delete()
    spark.sql(s"DROP TABLE IF EXISTS `${Sinks.bucketedTableName(s"$wh/corpus/cc_labels")}`")
    labDir.mkdirs()
    Seq((999L, 999L, 0L)).toDF("node", "component", "seq")
      .coalesce(1).write.mode("overwrite").parquet(labDir.toString)
    assert(surv() == Set(10L, 20L),
      s"torn-create residue must fall back to the recompute: ${surv()}")
    CorpusIngest.run(spark,
      Seq((70L, unrelated.replace("today", "tomorrow")))
        .toDF("doc_id", "text"), wh)
    assert(Sinks.isBucketedStore(spark, s"$wh/corpus/cc_labels"),
      "next writer must clear torn-create residue and recreate the store")
    assert(surv() == Set(10L, 20L), s"post-heal survivors: ${surv()}")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("label stores equal the batch contraction of their pair tables across text and sem-maintained embedding drops") {
    import graft.app.CorpusStore
    import graft.core.Sinks
    import graft.operators.{Components, SimilarityOps}
    val wh = java.nio.file.Files.createTempDirectory("corpus-whlabeq").toString
    // the maintained view must equal a from-scratch contraction of the
    // cumulative pair table after EVERY drop — through extensions, new
    // minima relabelling old members, and replays
    def agrees(labels: String, pairs: String, a: String, b: String): Unit = {
      val lp = s"$wh/corpus/$labels"
      if (Sinks.isBucketedStore(spark, lp)) {
        val view = CorpusStore.labelView(Sinks.readBucketedPath(spark, lp))
          .as[(Long, Long)].collect().toMap
        val batch = Components.connectedComponents(
          Sinks.readBucketedPath(spark, s"$wh/corpus/$pairs").select(a, b))
          .as[(Long, Long)].collect().toMap
        assert(view == batch, s"$labels: maintained $view != batch $batch")
      }
    }
    val third = "parquet footers carry row group statistics that let readers " +
      "skip whole chunks of columnar data without decoding a single page"
    val textDrops = Seq(
      Seq((100L, base), (200L, unrelated)),
      Seq((150L, base.replace("winter", "summer")),
        (250L, unrelated.replace("today", "tonight")), (300L, third)),
      // new minima: 50 relabels {100, 150}, 120 relabels {300}
      Seq((50L, base.replace("quick", "sly")),
        (120L, third.replace("single", "lone"))),
      Seq((20L, base.replace("lazy", "idle")),
        (30L, unrelated.replace("spark", "flink")), (400L, third)))
    for (d <- textDrops :+ textDrops(2)) {
      CorpusIngest.run(spark, d.toDF("doc_id", "text"), wh)
      agrees("cc_labels", "pairs", "doc_a", "doc_b")
    }
    // the relabel path ran: the base family ends labelled by its last,
    // smallest arrival
    val textView = CorpusStore.labelView(
      Sinks.readBucketedPath(spark, s"$wh/corpus/cc_labels"))
      .as[(Long, Long)].collect().toMap
    assert(Seq(20L, 50L, 100L, 150L).map(textView.get).distinct == Seq(Some(20L)),
      s"base family labels: $textView")

    def vec(major: Int, eps: Float = 0f, minor: Int = -1): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f
      a(if (minor < 0) (major + 1) % 64 else minor) += eps; a
    }
    val embDrops = Seq(
      Seq((100L, vec(0)), (200L, vec(30)), (300L, vec(1))),
      Seq((150L, vec(0, 0.01f)), (250L, vec(30, 0.01f))),
      // 50 is a new minimum for {100, 150}; 120 sits between the 0- and
      // 1-families, close enough to pair with both under the LSH cut
      Seq((50L, vec(0, 0.02f)), (120L, vec(0, 1f))),
      Seq((20L, vec(30, 0.02f)), (10L, vec(1, 0.01f, minor = 2))))
      .map(_.toDF("vec_id", "embedding"))
    val cents = graft.core.GraftCaches.acquire(
      SimilarityOps.kmeansCentroids(embDrops.head, k = 2, iters = 1))
    for (d <- embDrops :+ embDrops(2)) {
      CorpusIngest.ingestEmbeddings(spark, d, wh, trainedCentroids = Some(cents))
      agrees("emb_cc_labels", "emb_pairs", "vec_a", "vec_b")
      agrees("sem_cc_labels", "sem_pairs", "vec_a", "vec_b")
    }
    for (t <- Seq("cc_labels", "emb_cc_labels", "sem_cc_labels"))
      assert(Sinks.isBucketedStore(spark, s"$wh/corpus/$t"), s"$t never created")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("incremental pair frames reach the pair append without a global sort") {
    import graft.core.Sinks
    import graft.operators.{DedupOps, Multimodal, SimilarityOps}
    import org.apache.spark.sql.execution.SortExec
    val wh = java.nio.file.Files.createTempDirectory("corpus-whnosort").toString
    CorpusIngest.run(spark, Seq((10L, base), (20L, unrelated))
      .toDF("doc_id", "text"), wh, storeBuckets = 4)
    def vec(major: Int, eps: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f; a((major + 1) % 64) = eps; a
    }
    val embs = Seq((1L, vec(0)), (2L, vec(30))).toDF("vec_id", "embedding")
    val cents = graft.core.GraftCaches.acquire(
      SimilarityOps.kmeansCentroids(embs, k = 2, iters = 1))
    CorpusIngest.ingestEmbeddings(spark, embs, wh, storeBuckets = 4,
      trainedCentroids = Some(cents))
    def imgs(ids: Seq[Long]) = Multimodal.syntheticImageCorpus(ids.toDF("doc_id"))
    CorpusIngest.ingestMedia(spark, imgs(Seq(0L, 20L)), wh, storeBuckets = 4)

    val textInc = Seq((30L, base.replace("winter", "summer"))).toDF("doc_id", "text")
    val embInc = Seq((3L, vec(0, 0.01f))).toDF("vec_id", "embedding")
    // AQE off: the executed plan is then the whole static plan
    val olds = Seq("spark.sql.adaptive.enabled").map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def store(t: String) = Sinks.readBucketedPath(spark, s"$wh/corpus/$t")
      def globalSorts(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case s: SortExec if s.global => s }
      val pairs = Seq(
        "text" -> DedupOps.minhashLshIncremental(store("bands"),
          store("shingles"), textInc, threshold = 0.5),
        "embedding" -> SimilarityOps.cosinePairsLshIncremental(store("emb_bands"),
          store("emb_vecs"), embInc, threshold = 0.42),
        "sem" -> SimilarityOps.semDedupPairsIncremental(cents, store("sem_asg"),
          embInc, threshold = 0.9),
        "media" -> Multimodal.phashNearDupIncremental(store("media_bands"),
          imgs(Seq(1L))))
      for ((name, df) <- pairs) {
        assert(globalSorts(df).isEmpty,
          s"$name pair frame sorts globally:\n${df.queryExecution.executedPlan}")
        assert(df.count() == 1L, s"$name pairs: ${df.collect().toSeq}")
      }
      // control: the same guard sees a declared query's re-added sort
      assert(globalSorts(pairs.head._2.orderBy("doc_a", "doc_b")).nonEmpty,
        "a global sort must be visible to this guard")
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("audit-log lifecycle: ledger-fed seq stays contiguous, the log compacts, and fsck audits the auditor") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whaud").toString
    CorpusIngest.run(spark, (0L until 12L).map(i =>
      (i, s"wholly unique document number $i about topic ${i * 31} " +
        s"with enough words ${i * 7} to shingle cleanly every time"))
      .toDF("doc_id", "text"), wh)
    // a governance CADENCE: 18 audited events (9 delete + 9 reinstate) —
    // enough one-file-per-event appends to cross the compaction gate
    (0L until 9L).foreach { i =>
      CorpusIngest.delete(spark, wh, Seq(i))
      CorpusIngest.reinstate(spark, wh, Seq(i))
    }
    val audit = CorpusIngest.governanceAudit(spark, wh)
    val seqs = audit.select("seq").distinct().as[Long].collect().sorted.toSeq
    assert(seqs == (0L until 18L), s"seq must be contiguous from 0: $seqs")
    // the seq ledger replaced the full-log scan and must track the log.
    // Tampering writes RAW, the way the engine writes its ledgers: a
    // checksummed write would leave a .crc sidecar that the engine's raw
    // re-stamp then leaves stale, failing the checksummed reads below
    val ledgerP = new org.apache.hadoop.fs.Path(
      s"$wh/corpus/audit_log._audit_seq")
    val fsH = graft.core.AtomicFiles.raw(
      ledgerP.getFileSystem(spark.sparkContext.hadoopConfiguration))
    def readLedger(): String = {
      val in = fsH.open(ledgerP)
      try new java.io.BufferedReader(
        new java.io.InputStreamReader(in)).readLine().trim
      finally in.close()
    }
    def stampLedger(v: String): Unit = {
      val o = fsH.create(ledgerP, true)
      try o.write(v.getBytes("UTF-8")) finally o.close()
    }
    assert(fsH.exists(ledgerP) && readLedger() == "17")
    // lifecycle: one file per event would be 18 — the 4×-gate compaction
    // keeps the log bounded at a real compliance cadence
    assert(Sinks.dataFileCount(spark, s"$wh/corpus/audit_log") <= 8L,
      "audit log must compact past the fragmentation gate")
    def fsckRows() = CorpusIngest.fsck(spark, wh)
      .filter(col("check").startsWith("audit_") && col("violations") > 0)
      .select("check", "severity").as[(String, String)].collect().toSet
    assert(fsckRows().isEmpty, s"healthy trail flagged: ${fsckRows()}")
    // crash window: ledger stamped, rows never landed → the NEXT event
    // leaves a seq gap; fsck warns on both shapes, never errors
    stampLedger("19")
    assert(fsckRows() == Set(("audit_seq_ledger_ahead", "warn")))
    CorpusIngest.delete(spark, wh, Seq(0L))
    assert(fsckRows() == Set(("audit_seq_gaps", "warn")),
      s"skipped seq must read as an under-reporting gap: ${fsckRows()}")
    // corruption: a ledger BEHIND the log is how a seq gets reused — error
    stampLedger("3")
    assert(fsckRows().contains(("audit_seq_ledger_behind", "error")))
    // legacy tolerance: no ledger at all → one full-log scan re-derives
    // the numbering and re-stamps; no duplicate seq is ever minted
    assert(fsH.delete(ledgerP, false))
    CorpusIngest.delete(spark, wh, Seq(1L))
    val events = CorpusIngest.governanceAudit(spark, wh)
      .select("seq", "at_ms", "op", "id_col", "n_ids").distinct()
      .groupBy("seq").count().filter(col("count") > 1).count()
    assert(events == 0L, "scan fallback must never reuse a seq")
    assert(readLedger() == "21")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("corpus snapshots: as-of membership is pinned, takedowns flow through, retention and crash residue behave") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whsnap").toString
    def vec(major: Int, eps: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f; a((major + 1) % 64) = eps; a
    }
    // doc 1's linked vector is the losing cosine twin → curated = {2}
    CorpusIngest.run(spark, Seq((1L, base), (2L, unrelated))
      .toDF("doc_id", "text"), wh)
    CorpusIngest.ingestEmbeddings(spark, Seq((10L, vec(0)),
      (11L, vec(0, 0.01f))).toDF("vec_id", "embedding"), wh)
    CorpusIngest.registerLinks(spark, wh, Seq(
      (100L, "doc", 1L), (100L, "vec", 11L), (200L, "doc", 2L),
      (200L, "vec", 10L)).toDF("content_key", "modality", "id"))
    val t1 = CorpusIngest.snapshotCorpus(spark, wh)
    def asOfIds(t: Long) = CorpusIngest.curatedAsOf(spark, wh, t)
      .select("doc_id").as[Long].collect().toSet
    assert(asOfIds(t1) == Set(2L))
    // a later drop moves the LIVE view but not the pinned one
    CorpusIngest.run(spark, Seq((3L, "completely fresh text about gardens " +
      "and rivers flowing through quiet mountain valleys at dawn"))
      .toDF("doc_id", "text"), wh)
    assert(CorpusIngest.curatedSurvivors(spark, wh)
      .select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
    assert(asOfIds(t1) == Set(2L), "pinned membership must not drift")
    val t2 = CorpusIngest.snapshotCorpus(spark, wh)
    assert(t2 > t1, "stamps are strictly monotonic")
    assert(asOfIds(t2) == Set(2L, 3L))
    // as-of resolves the LATEST snapshot at or before t
    assert(asOfIds(t2 - 1) == Set(2L))
    assert(asOfIds(Long.MaxValue) == Set(2L, 3L))
    // a takedown flows through every HISTORICAL snapshot: membership is
    // pinned, bytes come from the live store
    CorpusIngest.delete(spark, wh, Seq(2L))
    assert(asOfIds(t1) == Set.empty, "reading removed content via an old " +
      "snapshot must be impossible")
    assert(asOfIds(t2) == Set(3L))
    // no snapshot covers t1-1 → refuse, never silently serve live
    intercept[IllegalArgumentException](
      CorpusIngest.curatedAsOf(spark, wh, t1 - 1))
    // an explicit stamp not past the latest snapshot → refuse
    intercept[IllegalArgumentException](
      CorpusIngest.snapshotCorpus(spark, wh, atMs = Some(t2)))
    // census reads commit markers only; the audit trail records the census
    assert(CorpusIngest.listCorpusSnapshots(spark, wh)
      .as[(Long, Long)].collect().toSeq == Seq((t1, 1L), (t2, 2L)))
    assert(CorpusIngest.governanceAudit(spark, wh)
      .filter(col("op") === "snapshot")
      .select("table", "rows_before", "rows_after")
      .as[(String, Long, Long)].collect().toSet ==
      Set(("snapshots", 0L, 1L), ("snapshots", 1L, 2L)))
    // crash residue: a manifest without its commit marker is invisible to
    // reads and the census, warned by fsck, cleared by repair
    Seq(3L).toDF("doc_id").write
      .parquet(s"$wh/corpus/snapshots/snap_ts=${t2 + 5}")
    assert(asOfIds(Long.MaxValue) == Set(3L))
    assert(CorpusIngest.listCorpusSnapshots(spark, wh).count() == 2L)
    def fsckSnap() = CorpusIngest.fsck(spark, wh)
      .filter(col("check").startsWith("snapshot_") && col("violations") > 0)
      .select("check", "severity").as[(String, String)].collect().toSet
    assert(fsckSnap() == Set(("snapshot_uncommitted", "warn")))
    assert(CorpusIngest.repair(spark, wh)
      .filter(col("action") === "cleared_uncommitted_snapshot").count() == 1L)
    assert(fsckSnap().isEmpty, s"after repair: ${fsckSnap()}")
    // retention: oldest beyond keepLast expire; expired reads refuse
    assert(CorpusIngest.expireCorpusSnapshots(spark, wh, keepLast = 1) == 1L)
    intercept[IllegalArgumentException](
      CorpusIngest.curatedAsOf(spark, wh, t1))
    assert(asOfIds(t2) == Set(3L))
    assert(CorpusIngest.listCorpusSnapshots(spark, wh)
      .as[(Long, Long)].collect().toSeq == Seq((t2, 2L)))
    // post-commit corruption (marker count vs manifest rows) is an error
    val markerP = new org.apache.hadoop.fs.Path(
      s"$wh/corpus/snapshots/snap_ts=$t2/_snap_commit")
    val fsH = markerP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fsH.create(markerP, true)
    try o.write("99".getBytes("UTF-8")) finally o.close()
    assert(fsckSnap() == Set(("snapshot_manifest_drift", "error")))
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("corpus exports: pinned shard placement survives takedowns; census, retention, crash residue behave") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-whexp").toString
    def vec(major: Int, eps: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f; a((major + 1) % 64) = eps; a
    }
    // doc 1's linked vector is the losing cosine twin → curated = {2}
    CorpusIngest.run(spark, Seq((1L, base), (2L, unrelated))
      .toDF("doc_id", "text"), wh)
    CorpusIngest.ingestEmbeddings(spark, Seq((10L, vec(0)),
      (11L, vec(0, 0.01f))).toDF("vec_id", "embedding"), wh)
    CorpusIngest.registerLinks(spark, wh, Seq(
      (100L, "doc", 1L), (100L, "vec", 11L), (200L, "doc", 2L),
      (200L, "vec", 10L)).toDF("content_key", "modality", "id"))
    // no snapshot yet → exporting refuses (never silently serves live)
    intercept[IllegalArgumentException](
      CorpusIngest.exportCorpus(spark, wh, System.currentTimeMillis(), 1))
    val t1 = CorpusIngest.snapshotCorpus(spark, wh)
    val e1 = CorpusIngest.exportCorpus(spark, wh, asOfMs = t1, numShards = 1)
    def exp(ts: Long) = CorpusIngest.readExport(spark, wh, ts)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)]
      .collect().toSet
    assert(exp(e1) == Set((2L, 0L, 1L)))
    // grow the corpus; a fresh snapshot+export places both docs in the
    // portable-hash order (orderHash(2)=7066 < orderHash(3)=10599)
    CorpusIngest.run(spark, Seq((3L, "completely fresh text about gardens " +
      "and rivers flowing through quiet mountain valleys at dawn"))
      .toDF("doc_id", "text"), wh)
    val t2 = CorpusIngest.snapshotCorpus(spark, wh)
    val e2 = CorpusIngest.exportCorpus(spark, wh, asOfMs = t2, numShards = 1)
    assert(e2 > e1, "export stamps are strictly monotonic")
    assert(exp(e2) == Set((2L, 0L, 1L), (3L, 0L, 2L)))
    // takedown: the doc vanishes from BOTH exports while every survivor
    // keeps its PRE-takedown placement — a gap, never a re-shuffle
    CorpusIngest.delete(spark, wh, Seq(2L))
    assert(exp(e1) == Set.empty)
    assert(exp(e2) == Set((3L, 0L, 2L)),
      "surviving docs must keep their pinned (shard, pos)")
    // an unknown export handle must fail the run, not resolve fuzzily
    intercept[IllegalArgumentException](
      CorpusIngest.readExport(spark, wh, e2 + 1))
    // census off the sidecar ledgers (base_ts = -1: both are root cuts);
    // the audit trail records each cut
    assert(CorpusIngest.listCorpusExports(spark, wh)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq((e1, t1, 1L, 1L, -1L), (e2, t2, 1L, 2L, -1L)))
    assert(CorpusIngest.governanceAudit(spark, wh)
      .filter(col("op") === "export")
      .select("table", "rows_before", "rows_after")
      .as[(String, Long, Long)].collect().toSet ==
      Set(("exports", 0L, 1L), ("exports", 1L, 2L)))
    // crash residue: a manifest without its commit marker is invisible to
    // reads and the census, warned by fsck, cleared by repair
    Seq((3L, 0L, 1L)).toDF("doc_id", "shard", "pos").write
      .parquet(s"$wh/corpus/exports/export_ts=${e2 + 7}")
    assert(CorpusIngest.listCorpusExports(spark, wh).count() == 2L)
    def fsckExp() = CorpusIngest.fsck(spark, wh)
      .filter(col("check").startsWith("export_") && col("violations") > 0)
      .select("check", "severity").as[(String, String)].collect().toSet
    assert(fsckExp() == Set(("export_uncommitted", "warn")))
    assert(CorpusIngest.repair(spark, wh)
      .filter(col("action") === "cleared_uncommitted_export").count() == 1L)
    assert(fsckExp().isEmpty, s"after repair: ${fsckExp()}")
    // a committed export is SELF-CONTAINED: expiring its source snapshot
    // must not invalidate it
    assert(CorpusIngest.expireCorpusSnapshots(spark, wh, keepLast = 1) == 1L)
    assert(exp(e2) == Set((3L, 0L, 2L)))
    // retention on exports; expired handles refuse
    assert(CorpusIngest.expireCorpusExports(spark, wh, keepLast = 1) == 1L)
    intercept[IllegalArgumentException](
      CorpusIngest.readExport(spark, wh, e1))
    assert(CorpusIngest.listCorpusExports(spark, wh)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq((e2, t2, 1L, 2L, -1L)))
    // post-commit corruption (marker count vs manifest rows) is an error
    val markerP = new org.apache.hadoop.fs.Path(
      s"$wh/corpus/exports/export_ts=$e2/_export_commit")
    val fsH = markerP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fsH.create(markerP, true)
    try o.write("99".getBytes("UTF-8")) finally o.close()
    assert(fsckExp() == Set(("export_manifest_drift", "error")))
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("corpus evolution: snapshot diff classifies changes; extended exports pin the base prefix and append past it") {
    val wh = java.nio.file.Files.createTempDirectory("corpus-whevo").toString
    // portable per-placement fingerprint, mirrored from exportIntegrity
    def fp(docId: Long, pos: Long): Long =
      ((docId % 1000003L) * 40503L + pos * 69069L) % 2147483647L
    def exp(ts: Long) = CorpusIngest.readExport(spark, wh, ts)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)]
      .collect().toSet
    def integrity(ts: Long) = CorpusIngest.exportIntegrity(spark, wh, ts)
      .as[(Long, Long, Long, Long, Long)].collect().toSet

    CorpusIngest.run(spark, Seq((2L, base), (3L, unrelated))
      .toDF("doc_id", "text"), wh)
    val t1 = CorpusIngest.snapshotCorpus(spark, wh)
    val e1 = CorpusIngest.exportCorpus(spark, wh, asOfMs = t1, numShards = 1)
    // orderHash(2) = 7066 < orderHash(3) = 10599 fixes the base order
    assert(exp(e1) == Set((2L, 0L, 1L), (3L, 0L, 2L)))
    // a healthy export verifies clean: live side ≡ manifest side
    assert(integrity(e1) ==
      Set((0L, 2L, 2L, fp(2L, 1L) ^ fp(3L, 2L), fp(2L, 1L) ^ fp(3L, 2L))))

    // evolve: a smaller-id near-dup DEMOTES keeper 2; takedown removes 3
    CorpusIngest.run(spark,
      Seq((1L, base.replace("winter", "summer"))).toDF("doc_id", "text"), wh)
    CorpusIngest.delete(spark, wh, Seq(3L))
    val t2 = CorpusIngest.snapshotCorpus(spark, wh)

    // the diff reads every change class: 1 arrived (and took 2's
    // cluster), 2 was demoted, 3 was taken down
    assert(CorpusIngest.snapshotDiff(spark, wh, t1, t2)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "added"), (2L, "removed"), (3L, "removed")))
    intercept[IllegalArgumentException](
      CorpusIngest.snapshotDiff(spark, wh, t1, t2 + 1))

    // extend export 1 at snap 2: the base prefix — including demoted
    // keeper 2 and taken-down 3 — keeps its placement verbatim in the
    // manifest; the addition lands past the shard's high-water mark
    val e2 = CorpusIngest.extendExport(spark, wh, baseExportTs = e1,
      asOfMs = t2)
    intercept[IllegalArgumentException](
      CorpusIngest.extendExport(spark, wh, baseExportTs = e1 - 1,
        asOfMs = t2))
    // the trainer's read: 2 still streams (demotion is not a takedown —
    // membership was pinned), 3 is a gap, 1 is appended at pos 3
    assert(exp(e2) == Set((2L, 0L, 1L), (1L, 0L, 3L)))
    // integrity prices the gap: one manifest row is not live, and the
    // placement fingerprints drift by exactly the missing row
    assert(integrity(e2) == Set((0L, 3L, 2L,
      fp(2L, 1L) ^ fp(3L, 2L) ^ fp(1L, 3L), fp(2L, 1L) ^ fp(1L, 3L))))
    // census: the extended cut carries its base lineage, the root -1
    assert(CorpusIngest.listCorpusExports(spark, wh)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq((e1, t1, 1L, 2L, -1L), (e2, t2, 1L, 3L, e1)))
    // the audit trail records the extension as its own operation
    assert(CorpusIngest.governanceAudit(spark, wh)
      .filter(col("op") === "extend_export")
      .select("table", "rows_before", "rows_after")
      .as[(String, Long, Long)].collect().toSet ==
      Set(("exports", 1L, 2L)))
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("a crash-parked store heals at leased entry points and fails loudly in lease-free views") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whgate").toString
    CorpusIngest.run(spark, Seq((10L, base), (20L, unrelated))
      .toDF("doc_id", "text"), wh)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def park(table: String): Unit = assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$wh/corpus/$table"),
      new org.apache.hadoop.fs.Path(s"$wh/corpus/$table._compact_old")))
    // lease-free VIEW over a parked pair table: serving the corpus
    // unfiltered (the old raw-pathExists gate read parked as "no pairs")
    // would silently admit every duplicate — it must fail and point at
    // repair instead
    park("pairs")
    val ex = intercept[IllegalStateException](
      CorpusIngest.survivors(spark, wh).count())
    assert(ex.getMessage.contains("crash-parked") &&
      ex.getMessage.contains("repair"), ex.getMessage)
    assert(CorpusIngest.repair(spark, wh)
      .select("action").as[String].collect().toSeq == Seq("recovered_swap"))
    assert(CorpusIngest.survivors(spark, wh).count() == 2L)
    // LEASED entry point over a parked trim store: the old gate read the
    // warehouse as FIRST-DROP (no trim, batch pair derivation) and every
    // new-old pair was lost forever; under the lease the gate now heals
    // the swap and takes the incremental branch
    park("shingles")
    val (n2, p2) = CorpusIngest.run(spark,
      Seq((30L, base.replace("winter", "summer"))).toDF("doc_id", "text"), wh)
    assert((n2, p2) == (1L, 1L), s"parked-store drop landed ($n2, $p2)")
    val pairs = spark.read.parquet(s"$wh/corpus/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 30L)),
      s"cross-drop pair lost through the parked gate: $pairs")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("fsck: a crash-parked rewrite swap is surfaced and recoverSwap heals it") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whpark").toString
    CorpusIngest.run(spark, Seq((1L, base), (2L, unrelated))
      .toDF("doc_id", "text"), wh)
    def findings() = CorpusIngest.fsck(spark, wh)
      .filter(col("violations") > 0)
      .select("check", "table", "severity")
      .as[(String, String, String)].collect().toSeq
    assert(findings().isEmpty, s"healthy warehouse flagged: ${findings()}")
    // simulate a crash between swapInto's two renames: live dir gone, data
    // parked complete at ._compact_old
    val p = new org.apache.hadoop.fs.Path(s"$wh/corpus/doc_stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p,
      new org.apache.hadoop.fs.Path(s"$wh/corpus/doc_stats._compact_old")))
    assert(findings().contains(("parked_swap", "corpus/doc_stats", "warn")),
      s"parked swap not surfaced: ${findings()}")
    assert(Sinks.recoverSwap(spark, s"$wh/corpus/doc_stats"))
    assert(findings().isEmpty, s"recoverSwap must heal: ${findings()}")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("repair: every drop-independent fsck state heals in one leased call") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whrepair").toString
    CorpusIngest.run(spark, Seq((10L, base), (20L, unrelated),
      (30L, base.replace("winter", "summer"))).toDF("doc_id", "text"), wh)
    def findings() = CorpusIngest.fsck(spark, wh)
      .filter(col("violations") > 0)
      .select("check", "severity").as[(String, String)].collect().toSeq
    assert(findings().isEmpty)
    assert(CorpusIngest.repair(spark, wh).isEmpty,
      "a healthy warehouse repairs nothing")
    // plant all four repairable states: a parked swap, a torn label
    // create (on the emb store path), label coverage drift (a pair
    // row the merge never saw), and writeAtomic's `.tmp-*` crash
    // residue next to a live table
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$wh/corpus/doc_stats"),
      new org.apache.hadoop.fs.Path(s"$wh/corpus/doc_stats._compact_old")))
    new java.io.File(s"$wh/corpus/emb_cc_labels").mkdirs()
    Seq((1L, 1L, 0L)).toDF("node", "component", "seq")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$wh/corpus/emb_cc_labels")
    Sinks.bucketedIdempotentAppend(
      Seq((10L, 20L, 1.0)).toDF("doc_a", "doc_b", "jac"),
      s"$wh/corpus/pairs", keys = Seq("doc_a", "doc_b"),
      bucketKeys = Seq("doc_a", "doc_b"), buckets = 8)
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$wh/corpus/documents._watermark.tmp-deadbeef"),
      "torn".getBytes("UTF-8"))
    // backdate past the census age bound (a fresh temp is presumed a
    // live writer's in-flight file and neither counted nor cleared)
    fs.setTimes(new org.apache.hadoop.fs.Path(
      s"$wh/corpus/documents._watermark.tmp-deadbeef"),
      System.currentTimeMillis() - 3600000L, -1L)
    // and a FRESH temp — a live writer mid-publish; the age bound must
    // keep both the census and the clear off it (clearing would fail
    // the writer's rename out from under it)
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$wh/corpus/documents._threshold.tmp-0badf00d"),
      "inflight".getBytes("UTF-8"))
    assert(findings().toSet == Set(("parked_swap", "warn"),
      ("label_store_torn_create", "warn"), ("label_missing_nodes", "warn"),
      ("writeatomic_tmp_residue", "warn")),
      s"${findings()}")
    val actions = CorpusIngest.repair(spark, wh)
      .select("action", "table").as[(String, String)].collect().toSet
    assert(actions == Set(("recovered_swap", "corpus/doc_stats"),
      ("cleared_torn_label_create", "emb_cc_labels"),
      ("rebuilt_label_store", "cc_labels"),
      ("cleared_tmp_residue", "documents._watermark.tmp-deadbeef")),
      s"$actions")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$wh/corpus/documents._threshold.tmp-0badf00d")),
      "repair cleared a fresh (live-writer) temp the age bound protects")
    assert(findings().isEmpty, s"repair must heal to clean: ${findings()}")
    // the repair is itself on the audit trail
    assert(CorpusIngest.governanceAudit(spark, wh)
      .filter(col("op") === "repair").count() == 4L)
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("fsck: label stores audited against their pair tables") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whfscklab").toString
    def findings() = CorpusIngest.fsck(spark, wh)
      .filter(col("violations") > 0)
      .select("check", "violations", "severity")
      .as[(String, Long, String)].collect().toSeq
    // a pair-bearing corpus: (10, 30) near-dups, 20 unrelated
    CorpusIngest.run(spark, Seq((10L, base), (20L, unrelated),
      (30L, base.replace("winter", "summer"))).toDF("doc_id", "text"), wh)
    assert(Sinks.isBucketedStore(spark, s"$wh/corpus/cc_labels"))
    assert(findings().isEmpty, s"healthy labeled warehouse flagged: ${findings()}")

    // crash residue: a pair row whose label merge never ran (pairs land
    // BEFORE the merge) — warn, and a governance delete's eager rebuild
    // (even a no-match delete) heals it
    Sinks.bucketedIdempotentAppend(
      Seq((10L, 20L, 1.0)).toDF("doc_a", "doc_b", "jac"),
      s"$wh/corpus/pairs", keys = Seq("doc_a", "doc_b"),
      bucketKeys = Seq("doc_a", "doc_b"), buckets = 8)
    assert(findings().exists(f =>
      f._1 == "label_missing_nodes" && f._2 == 1L && f._3 == "warn"),
      s"uncovered pair id not detected: ${findings()}")
    CorpusIngest.delete(spark, wh, Seq(999999L))
    assert(findings().isEmpty,
      s"delete's eager rebuild must heal label coverage: ${findings()}")

    // a label node with NO pair evidence cannot arise from any documented
    // flow and could suppress a real row from the survivors view — error
    Sinks.bucketedIdempotentAppend(
      Seq((424242L, 424242L, 99L)).toDF("node", "component", "seq"),
      s"$wh/corpus/cc_labels", keys = Seq("node", "seq"),
      bucketKeys = Seq("node"), buckets = 8)
    assert(findings().exists(f =>
      f._1 == "label_orphan_nodes" && f._2 == 1L && f._3 == "error"),
      s"orphan label node not detected: ${findings()}")

    // torn store create: a label directory without its spec ledger reads
    // as "no store" everywhere — fsck still surfaces it for review (warn)
    val embLab = new java.io.File(s"$wh/corpus/emb_cc_labels")
    embLab.mkdirs()
    Seq((1L, 1L, 0L)).toDF("node", "component", "seq")
      .coalesce(1).write.mode("overwrite").parquet(embLab.toString)
    assert(findings().exists(f =>
      f._1 == "label_store_torn_create" && f._3 == "warn"),
      s"torn label create not detected: ${findings()}")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("fsck: healthy warehouse audits clean; planted corruption and crash residue are detected") {
    import graft.core.Sinks
    val wh = java.nio.file.Files.createTempDirectory("corpus-whfsck").toString
    val drop1 = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    CorpusIngest.run(spark, drop1, wh)
    CorpusIngest.ingestEmbeddings(spark,
      Seq((1L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding"), wh)
    CorpusIngest.ingestMedia(spark, graft.operators.Multimodal
      .syntheticImageCorpus(Seq(0L, 1L, 2L).toDF("doc_id")), wh)
    def findings() = CorpusIngest.fsck(spark, wh)
      .filter(col("violations") > 0)
      .select("check", "violations", "severity")
      .as[(String, Long, String)].collect().toSeq
    assert(findings().isEmpty, s"healthy warehouse flagged: ${findings()}")

    // crash residue: a doc whose commit-point shingle row never landed —
    // fsck WARNS (stranded doc + its now-orphan band rows), and the
    // drop's retry heals it back to clean
    Sinks.deleteBucketedByKey(spark, s"$wh/corpus/shingles",
      Seq(1L).toDF("doc_id"), Seq("doc_id"))
    val residue = findings()
    assert(residue.exists(f => f._1 == "stranded_docs" && f._3 == "warn") &&
      residue.exists(f => f._1 == "orphan_bands" && f._3 == "warn"),
      s"crash residue not detected: $residue")
    assert(residue.forall(_._3 == "warn"),
      s"crash residue must never be an error: $residue")
    CorpusIngest.run(spark, drop1, wh)
    assert(findings().isEmpty, s"retry must heal the residue: ${findings()}")

    // ghost pair references: crash residue too (pairs land BEFORE the
    // commit point), detected at severity warn — a retry heals it and the
    // probe guards keep the ghosts inert meanwhile
    Sinks.bucketedIdempotentAppend(
      Seq((9998L, 9999L, 1.0)).toDF("doc_a", "doc_b", "jac"),
      s"$wh/corpus/pairs", keys = Seq("doc_a", "doc_b"),
      bucketKeys = Seq("doc_a", "doc_b"), buckets = 8)
    assert(findings().exists(f =>
      f._1 == "ghost_pair_refs" && f._2 == 2L && f._3 == "warn"),
      s"ghost pair not detected: ${findings()}")

    // tombstoned id still present upstream: legal after a pure-batch
    // re-submission, so warn-and-review rather than error
    Sinks.idempotentAppend(Seq(2L).toDF("doc_id"), s"$wh/corpus/tombstones",
      keys = Seq("doc_id"), partitionCols = Nil)
    assert(findings().exists(f =>
      f._1 == "tombstone_leak" && f._3 == "warn"),
      s"tombstone leak not detected: ${findings()}")

    // a genuine write-order violation IS an error: a shingle commit row
    // whose document never landed cannot arise from any documented flow
    Sinks.deleteBucketedByKey(spark, s"$wh/corpus/documents",
      Seq(2L).toDF("doc_id"), Seq("doc_id"))
    assert(findings().exists(f =>
      f._1 == "headless_shingles" && f._3 == "error"),
      s"write-order violation not detected: ${findings()}")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("geometry ledger: signature stores refuse appends and probes under drifted params") {
    import graft.core.Sinks
    import graft.operators.DedupOps
    val wh = java.nio.file.Files.createTempDirectory("corpus-whgeo").toString
    CorpusIngest.run(spark, Seq((1L, base)).toDF("doc_id", "text"), wh)
    // the band store carries its geometry; a direct append under different
    // numHashes/bands is refused before any write — replayed rows keyed on
    // (band, sig, doc_id) could not no-op under a different sig function
    val err = intercept[IllegalArgumentException] {
      DedupOps.appendSignatureStoreBucketed(
        Seq((2L, unrelated)).toDF("doc_id", "text"),
        s"$wh/corpus/bands", s"$wh/corpus/shingles", buckets = 8,
        numHashes = 32, bands = 8)
    }
    assert(err.getMessage.contains("numHashes=32"), err.getMessage)
    // matching geometry still lands
    val (n, _) = CorpusIngest.run(spark,
      Seq((2L, unrelated)).toDF("doc_id", "text"), wh)
    assert(n == 1L)

    // a TORN stamp (crash between the ledger file's create and its write
    // leaves it empty) is not drift: stamp-first ordering means nothing
    // landed under it, so the next run restamps and proceeds instead of
    // bricking the store behind an unsatisfiable params compare
    val pp = new org.apache.hadoop.fs.Path(s"$wh/corpus/bands._params")
    val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(pp, true).close() // truncate to empty
    val (nt, _) = CorpusIngest.run(spark,
      Seq((3L, unrelated.replace("today", "tonight"))).toDF("doc_id", "text"),
      wh)
    assert(nt == 1L, "torn params stamp must restamp, not refuse")
    // ...and the restamp restored the real geometry guard
    val err2 = intercept[IllegalArgumentException] {
      DedupOps.appendSignatureStoreBucketed(
        Seq((4L, base)).toDF("doc_id", "text"),
        s"$wh/corpus/bands", s"$wh/corpus/shingles", buckets = 8,
        numHashes = 32, bands = 8)
    }
    assert(err2.getMessage.contains("numHashes=32"), err2.getMessage)

    // frozen-centroid identity: a sem drop under DIFFERENT centroids than
    // the assignment store was built with is refused before work
    import graft.operators.SimilarityOps
    def vv(major: Int): Array[Float] = {
      val a = Array.fill(64)(0f); a(major) = 1f; a
    }
    val seed = Seq((1L, vv(0)), (2L, vv(30))).toDF("vec_id", "embedding")
    val cents = graft.core.GraftCaches.acquire(
      SimilarityOps.kmeansCentroids(seed, k = 2, iters = 1))
    CorpusIngest.ingestEmbeddings(spark, seed, wh,
      trainedCentroids = Some(cents))
    val otherCents = graft.core.GraftCaches.acquire(
      SimilarityOps.kmeansCentroids(
        Seq((1L, vv(5)), (2L, vv(40))).toDF("vec_id", "embedding"),
        k = 2, iters = 1))
    val errC = intercept[IllegalArgumentException] {
      CorpusIngest.ingestEmbeddings(spark,
        Seq((3L, vv(0))).toDF("vec_id", "embedding"), wh,
        trainedCentroids = Some(otherCents))
    }
    assert(errC.getMessage.contains("cents_fp"), errC.getMessage)
    // the retrain cadence re-stamps: drops under the NEW centroids work
    val cents2 = CorpusIngest.retrainSemStore(spark, wh, k = 2, iters = 1)
    val (n3, _) = CorpusIngest.ingestEmbeddings(spark,
      Seq((3L, vv(0))).toDF("vec_id", "embedding"), wh,
      trainedCentroids = Some(cents2))
    assert(n3 == 1L, "post-retrain drop under the new centroids must land")
    graft.core.GraftCaches.releaseAll(spark)
  }
}
