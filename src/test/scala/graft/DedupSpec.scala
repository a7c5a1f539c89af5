package graft

import graft.operators.DedupOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral tests for the near-dup operators on constructed corpora with
  * known ground truth (the fixture corpus' planted dups are asserted too).
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire in winter"
  private val nearDup = base.replace("winter", "summer") // 1-word edit
  private val unrelated =
    "spark executes distributed dataframe plans with catalyst optimizing every stage of the physical query pipeline today"

  private def corpus = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated),
    (3L, "short text"), // below shingle threshold, must be ignored not crash
    (4L, base) // exact copy of 0
  ).toDF("doc_id", "text")

  test("minhashLsh finds the planted near-dup and exact dup, not the unrelated pair") {
    val pairs = DedupOps.minhashLsh(corpus, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"missed planted near-dup: $pairs")
    assert(pairs.contains((0L, 4L)) && pairs.contains((1L, 4L)), s"missed exact dup: $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), s"false positive: $pairs")
  }

  test("simhash: identical docs at hamming 0, near-dup within threshold, unrelated outside") {
    val out = DedupOps.simhash(corpus, maxHamming = 16)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect()
    val m = out.map(t => (t._1, t._2) -> t._3).toMap
    assert(m.get((0L, 4L)).contains(0L), s"exact dup not at hamming 0: $m")
    assert(m.get((0L, 1L)).exists(_ <= 16), s"near-dup missed: $m")
    assert(!m.contains((0L, 2L)) && !m.contains((1L, 2L)), s"unrelated pair matched: $m")
  }

  test("ngram df-cap keeps a corpus-frequent shingle's bucket linear") {
    // 122 docs all sharing one boilerplate trigram ("all rights reserved"),
    // plus one planted twin pair sharing rare shingles. Cap = ceil(1%) = 2:
    // the df-122 boilerplate shingle is dropped from candidate generation
    // (it alone would emit C(122,2) = 7381 candidate pairs — the quadratic
    // bucket), while the df-2 twin shingles survive.
    val docs = (0 until 120).map(i =>
      (i.toLong, s"u${i}a u${i}b all rights reserved u${i}c")) ++
      Seq((200L, "alpha beta gamma delta all rights reserved"),
          (201L, "alpha beta gamma delta all rights reserved"))
    val df = docs.toDF("doc_id", "text")
    val cand = DedupOps.ngramCandidates(DedupOps.shingleTable(df), 1).collect()
    assert(cand.length == 1 &&
      cand.head.getLong(0) == 200L && cand.head.getLong(1) == 201L,
      s"expected only the twin pair, got ${cand.length} candidates")
    // verification runs over the FULL uncapped sets: the twins' jaccard is
    // 1.0 (the capped boilerplate shingle still counts in the intersection)
    val out = DedupOps.ngramJaccard(df, threshold = 0.2).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 1.0, out.mkString(";"))
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("dfCap is exact ceil for non-divisor percentages") {
    // the old formula ceil'd via 100/pct integer division — exact only when
    // pct divides 100 (pct=3 silently became ~3.03%)
    assert(DedupOps.dfCap(1000L, 3) == 30L)  // old formula gave 31
    assert(DedupOps.dfCap(1000L, 1) == 10L)
    assert(DedupOps.dfCap(101L, 1) == 2L)    // ceil(1.01) = 2
    assert(DedupOps.dfCap(99L, 3) == 3L)     // ceil(2.97) = 3
    assert(DedupOps.dfCap(100L, 7) == 7L)
  }

  test("exact dedup is idempotent and keyed by normalized content") {
    val messy = Seq(
      (10L, "Hello   World"), (11L, "hello world"), (12L, "different entirely")
    ).toDF("doc_id", "text")
    val fp = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary"))
    val once = messy.groupBy(fp.as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    assert(once.count() == 2) // case/whitespace variants collapse
    val canon = once.select(col("canonical_id").as("doc_id"))
      .join(messy, "doc_id")
    val twice = canon.groupBy(fp.as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    assert(twice.count() == once.count(), "dedup not idempotent")
  }

  test("fixture corpus: minhash candidates are verified-jaccard >= threshold") {
    val out = DedupOps.minhashLsh(
      Tables.documents(spark, TestSpark.Sf0001), threshold = 0.5)
    val jacs = out.select("jac").as[Double].collect()
    assert(jacs.nonEmpty, "no near-dups found in fixture corpus (dups are planted)")
    assert(jacs.forall(_ >= 0.5))
  }

  test("incremental dedup equals the full recompute restricted to new-side pairs") {
    // fixture corpus split into "existing corpus" and a "new drop"; the
    // increment path must produce EXACTLY the full-recompute pairs that
    // touch a new doc — no misses (store join covers new-old, fresh union
    // covers new-new) and no extras (old-old never re-derived)
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val isNew = col("doc_id") % 7 === 0
    val full = DedupOps.minhashLsh(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val wantNewSide = full.filter(p => p._1 % 7 == 0 || p._2 % 7 == 0)
    val oldSh = DedupOps.shingleTable(docs.filter(!isNew))
    val got = DedupOps.minhashLshIncremental(
      DedupOps.minhashBandTable(oldSh), oldSh, docs.filter(isNew),
      threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == wantNewSide,
      s"extra=${got -- wantNewSide} missing=${wantNewSide -- got}")
    assert(got.nonEmpty, "fixture should plant at least one new-side pair")
    assert((full -- wantNewSide).nonEmpty,
      "split should leave old-old pairs out of the increment")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("incremental dedup: Parquet store across two increments, old text never re-read") {
    val dir = java.nio.file.Files.createTempDirectory("incstore").toString
    val bandPath = s"$dir/store_bands"
    val shPath = s"$dir/store_shingles"
    val oldDocsPath = s"$dir/corpus_docs"
    // the base corpus lives in PARQUET so re-reading its text would be
    // visible as a FileScan of corpus_docs in the increment plan
    Seq((0L, base), (2L, unrelated)).toDF("doc_id", "text")
      .write.parquet(oldDocsPath)
    DedupOps.appendSignatureStoreBucketed(
      spark.read.parquet(oldDocsPath), bandPath, shPath, buckets = 2)
    graft.core.GraftCaches.releaseAll(spark)

    // increment 1: the near-dup of stored doc 0 arrives
    val inc1 = Seq((1L, nearDup)).toDF("doc_id", "text")
    val got1 = DedupOps.minhashLshIncremental(
      spark.read.parquet(bandPath), spark.read.parquet(shPath), inc1, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got1 == Set((0L, 1L)), s"increment 1 pairs: $got1")
    DedupOps.appendSignatureStoreBucketed(inc1, bandPath, shPath, buckets = 2)
    graft.core.GraftCaches.releaseAll(spark)

    // replaying the same drop is a no-op (keyed on (band, sig, doc_id))
    val bandRows = spark.read.parquet(bandPath).count()
    DedupOps.appendSignatureStoreBucketed(inc1, bandPath, shPath, buckets = 2)
    graft.core.GraftCaches.releaseAll(spark)
    assert(spark.read.parquet(bandPath).count() == bandRows,
      "replayed appendSignatureStoreBucketed duplicated store rows")

    // increment 2: an exact copy of doc 0 — pairs with BOTH stored docs,
    // including doc 1 which arrived in a previous increment
    val inc2 = Seq((4L, base), (3L, "short text")).toDF("doc_id", "text")
    val pairs2 = DedupOps.minhashLshIncremental(
      spark.read.parquet(bandPath), spark.read.parquet(shPath), inc2, 0.5)
    val plan = pairs2.queryExecution.executedPlan.toString
    assert(!plan.contains("corpus_docs"),
      "second increment re-reads the old corpus' text files")
    assert(plan.contains(bandPath) && plan.contains(shPath),
      s"second increment should scan only the persisted store:\n$plan")
    val got2 = pairs2.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got2 == Set((0L, 4L), (1L, 4L)), s"increment 2 pairs: $got2")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("containment catches a quote-inclusion pair Jaccard misses") {
    val quoted = "the quick brown fox jumps over the lazy sleeping dog tonight again"
    val docs = Seq(
      (1L, quoted),
      (2L, quoted + " extra trailing editorial commentary words"),
      (3L, "completely unrelated filler content about spark physical plans")
    ).toDF("doc_id", "text")
    // doc 1's shingles are a strict subset of doc 2's -> containment 1.0
    val cont = DedupOps.containmentPairs(docs, threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)),
      s"expected exactly the planted superset pair: ${cont.toSeq}")
    assert(cont.head._3 == 1.0 && cont.head._4 < 1.0,
      s"asymmetry must show: ${cont.head}")
    // the Jaccard screen at the same bar does NOT surface it
    val jac = DedupOps.minhashLsh(docs, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(jac.isEmpty, s"jaccard at 0.9 should miss the subset pair: $jac")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("operator persists are graft-owned: releaseAll empties the cache manager") {
    // clean slate so caches left by sibling suites don't mask the assertion;
    // the run under test itself never calls clearCache
    spark.catalog.clearCache()
    DedupOps.minhashLsh(Tables.documents(spark, TestSpark.Sf0001), threshold = 0.5)
      .write.format("noop").mode("overwrite").save()
    graft.operators.SimilarityOps
      .cosinePairsIvf(Tables.embeddings(spark, TestSpark.Sf0001), threshold = 0.42)
      .write.format("noop").mode("overwrite").save()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "expected graft-owned persists to be registered while queries run")
    graft.core.GraftCaches.releaseAll(spark)
    assert(spark.sharedState.cacheManager.isEmpty,
      "graft-owned persists leaked past GraftCaches.releaseAll")
    assert(graft.core.GraftCaches.registered(spark) == 0)
  }
}
