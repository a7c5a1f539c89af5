package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Corpus with a known neighbor structure: vec 1 ≈ vec 0 (tiny noise),
    * vec 2 orthogonal-ish, vec 3 = -vec 0.
    */
  private def vectors = Seq(
    (0L, Array(1f, 0f, 0f, 0f), 0),
    (1L, Array(0.99f, 0.01f, 0f, 0f), 0),
    (2L, Array(0f, 1f, 0f, 0f), 1),
    (3L, Array(-1f, 0f, 0f, 0f), 1),
    (4L, Array(0.7f, 0.7f, 0f, 0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("cosineTopK ranks the planted nearest neighbor first") {
    val out = SimilarityOps.cosineTopK(vectors, isQuery = col("vec_id") === 0, k = 4)
      .select("neighbor_id", "rank", "cos")
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    assert(out.head._1 == 1L, s"nearest neighbor wrong: ${out.toSeq}")
    assert(out.head._3 > 0.999)
    assert(out.last._1 == 3L && out.last._3 == -1.0, s"antipode not last: ${out.toSeq}")
  }

  test("annLshTopK only returns same-bucket candidates ranked by exact cosine") {
    val out = SimilarityOps.annLshTopK(
      Tables.embeddings(spark, TestSpark.Sf0001), planes = 4, k = 3)
    val rows = out.select("q_id", "rank", "cos").as[(Long, Long, Double)].collect()
    // ranks are 1..k dense per query and cosine is non-increasing within query
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 >= b._3
        case _ => true
      })
    }
  }

  test("cosinePairsLsh: precision 1 and recall >= 0.9 vs exact near-dup pairs") {
    // sf0.01: 500 near-uniform 64-d vectors, 34 exact pairs at cos >= 0.42 —
    // the hard regime for sign-LSH (mid-threshold), which is exactly why the
    // recall floor is asserted here and not just at easy high thresholds
    val emb = Tables.embeddings(spark, TestSpark.Sf001)
    val exact = graft.operators.SimilarityOps
      .cosinePairs(emb, threshold = 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val bucketed = graft.operators.SimilarityOps
      .cosinePairsLsh(emb, threshold = 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must contain qualifying pairs")
    assert(bucketed.subsetOf(exact),
      s"exact verification must give precision 1; extras: ${bucketed -- exact}")
    val recall = (exact intersect bucketed).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall < 0.9 (${bucketed.size}/${exact.size})")
  }

  test("cosinePairsIvf: precision 1 and recall >= 0.9 vs exact near-dup pairs") {
    val emb = Tables.embeddings(spark, TestSpark.Sf001)
    val exact = graft.operators.SimilarityOps
      .cosinePairs(emb, threshold = 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val ivf = graft.operators.SimilarityOps
      .cosinePairsIvf(emb, threshold = 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(ivf.subsetOf(exact),
      s"exact verification must give precision 1; extras: ${ivf -- exact}")
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall < 0.9 (${ivf.size}/${exact.size})")
  }

  test("IVF with trained k-means centroids: recall holds or improves at equal probes") {
    val emb = Tables.embeddings(spark, TestSpark.Sf001)
    val exact = graft.operators.SimilarityOps
      .cosinePairs(emb, threshold = 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    def recallOf(pairs: Set[(Long, Long)]): Double =
      (exact intersect pairs).size.toDouble / exact.size
    // same k, same probe count — only the list shapes differ
    val fixed = graft.operators.SimilarityOps
      .cosinePairsIvf(emb, threshold = 0.42, nProbe = 3, numCentroids = 8)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val trained = graft.operators.SimilarityOps
      .cosinePairsIvf(emb, threshold = 0.42, nProbe = 3,
        trainedCentroids = Some(
          graft.operators.SimilarityOps.kmeansCentroids(emb, k = 8, iters = 3)))
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(trained.subsetOf(exact),
      s"exact verification must keep precision 1; extras: ${trained -- exact}")
    assert(recallOf(trained) >= recallOf(fixed),
      s"trained lists must not lose recall: trained=${recallOf(trained)} " +
        s"fixed=${recallOf(fixed)} (|exact|=${exact.size})")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("kmeans recovers planted well-separated blobs and assigns to the nearest centroid") {
    // 3 tight blobs far apart; k=3 must partition them exactly regardless
    // of which blob each init centroid lands in
    val rnd = new scala.util.Random(11)
    val blobs = Seq.tabulate(90) { i =>
      val b = i % 3
      val center = Array.tabulate(64)(d => if (d % 3 == b) 10f else 0f)
      (i.toLong, center.map(c => c + rnd.nextGaussian().toFloat * 0.1f))
    }.toDF("vec_id", "embedding")
    val out = graft.operators.SimilarityOps.kmeansAssign(blobs, k = 3, iters = 3)
      .as[(Long, Long, Double)].collect()
    val byBlob = out.groupBy(_._1 % 3).map { case (b, rows) =>
      b -> rows.map(_._2).distinct
    }
    assert(byBlob.values.forall(_.size == 1),
      s"a planted blob split across clusters: $byBlob")
    assert(byBlob.values.flatten.toSet.size == 3,
      s"planted blobs merged into fewer clusters: $byBlob")
    // within a tight blob, distance to own centroid is small
    assert(out.forall(_._3 < 10.0), "assignment distance implausibly large")
  }

  test("kmeans inertia is non-increasing across Lloyd rounds") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    def inertia(iters: Int): Double =
      graft.operators.SimilarityOps.kmeansAssign(emb, k = 8, iters = iters)
        .agg(sum("d2")).head().getDouble(0)
    val i1 = inertia(1); val i2 = inertia(2); val i3 = inertia(3)
    assert(i2 <= i1 + 1e-9 && i3 <= i2 + 1e-9,
      s"inertia increased across rounds: $i1 -> $i2 -> $i3")
  }

  test("kmeans update averages only non-null vectors") {
    // k = 1: every vector, the null one included, lands in cluster 0, so
    // after one round the centroid is the mean of the non-null vectors
    val vecs = Seq((1L, Array(2f, 4f)), (2L, Array(4f, 8f)))
    val withNull = vecs.map { case (i, e) => (i, Option(e)) } :+ ((3L, None))
    def centroid(df: org.apache.spark.sql.DataFrame) =
      graft.operators.SimilarityOps.kmeansCentroids(df, k = 1, iters = 1)
        .select("ce").as[Seq[Double]].head()
    assert(centroid(withNull.toDF("vec_id", "embedding")) == Seq(3.0, 6.0))
    assert(centroid(vecs.toDF("vec_id", "embedding")) == Seq(3.0, 6.0))
  }

  test("semDedup is exactly the cosine pair set restricted to shared clusters") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val exact = SimilarityOps.cosinePairs(emb, threshold = 0.42)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val cid = SimilarityOps.kmeansAssign(emb, k = 8, iters = 3)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val sem = SimilarityOps.semDedupPairs(emb, threshold = 0.42)
      .as[(Long, Long, Long, Double)].collect()
    assert(sem.nonEmpty, "fixture should have within-cluster near-dups")
    // soundness: every reported pair is an exact-threshold pair, co-resident
    // in the cluster the row names, with the family's cosine value
    sem.foreach { case (c, a, b, cos) =>
      assert(exact.get((a, b)).contains(cos), s"pair ($a,$b) cos drifted")
      assert(cid(a) == c && cid(b) == c, s"pair ($a,$b) not co-resident in $c")
    }
    // completeness: every exact pair sharing a trained cluster is reported
    val expected = exact.keySet.filter { case (a, b) => cid(a) == cid(b) }
    assert(sem.map(p => (p._2, p._3)).toSet == expected,
      "semdedup must equal the cluster-restricted exact pair set")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("semDedup mega-cluster cap: LSH path matches brute force, plan is bucketed") {
    // collapsed-embedding-space fixture: 100 identical vectors (one k-means
    // cluster holds 83% of the corpus — identical points tie on d2 to every
    // centroid and the (d2, cid) tie-break sends them all to one cid) plus
    // 20 spread vectors. The within-cluster all-pairs join would be
    // quadratic in the 100; the cap must route that cluster through the
    // banded sign-LSH instead.
    val mega = Array.tabulate(64)(j => (math.sin(j + 1).toFloat))
    def spread(i: Int): Array[Float] =
      Array.tabulate(64) { j =>
        val h = ((i.toLong * 64 + j) * 2654435761L % 4294967296L)
        (((h ^ (h >> 16)) % 65536L).toFloat / 65536f * 2 - 1)
      }
    val emb = (
      (0 until 100).map(i => (i.toLong, mega)) ++
      (100 until 120).map(i => (i.toLong, spread(i)))
    ).toDF("vec_id", "embedding")

    val uncapped = SimilarityOps.semDedupPairs(emb, threshold = 0.42)
    val capped = SimilarityOps.semDedupPairs(emb, threshold = 0.42,
      maxClusterSize = 50)

    // the planted collapse really happened: one cluster holds >= 80%
    val maxCluster = SimilarityOps.kmeansAssign(emb, k = 8, iters = 3)
      .groupBy("cid").count().agg(max("count")).as[Long].head()
    assert(maxCluster >= 96, s"mega cluster only $maxCluster/120")

    val exactPairs = uncapped.select("vec_a", "vec_b")
      .as[(Long, Long)].collect().toSet
    val cappedPairs = capped.select("vec_a", "vec_b")
      .as[(Long, Long)].collect().toSet
    assert(exactPairs.size >= 100 * 99 / 2, "mega cluster must pair fully")
    assert(cappedPairs.subsetOf(exactPairs),
      s"capped path must keep precision 1; extras: ${cappedPairs -- exactPairs}")
    val recall = (exactPairs intersect cappedPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"capped recall $recall < 0.9")

    // the oversized cluster actually took the bucketed path: the LSH band
    // signature expression appears in the capped plan and not the uncapped
    // analyzed plans print the resolved expression (SignBandCodes), not the
    // registered function name
    val cappedPlan = capped.queryExecution.analyzed.toString.toLowerCase
    val uncappedPlan = uncapped.queryExecution.analyzed.toString.toLowerCase
    assert(cappedPlan.contains("signbandcodes"),
      "capped plan must contain the sign-LSH banding stage")
    assert(!uncappedPlan.contains("signbandcodes"),
      "uncapped plan must stay the exact all-pairs path")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("lsh recall vs brute force baseline is measurable and sane") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val exact = SimilarityOps.cosineTopK(emb, col("vec_id") % 100 === 0, k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = SimilarityOps.annLshTopK(emb, planes = 2, k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // with only 2 planes (4 buckets) recall should be well above zero
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.0, s"zero recall: exact=$exact approx=$approx")
  }

  test("embedding survivors drop exactly the non-minimum ids of each pair-graph component") {
    val emb = Tables.embeddings(spark, TestSpark.Sf001)
    val pairs = SimilarityOps.cosinePairsLsh(emb, threshold = 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must contain qualifying pairs")
    // driver-side union-find ground truth over the same pair set
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val losers = members.groupBy(find).values
      .flatMap(c => c.sorted.drop(1).map(identity)).toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    val got = SimilarityOps.dropNearDuplicateVectors(emb, threshold = 0.42)
      .select("vec_id").as[Long].collect().toSet
    assert(got == all -- losers,
      s"extra=${got -- (all -- losers)} missing=${(all -- losers) -- got}")
    assert(losers.nonEmpty, "fixture should drop at least one near-dup vector")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("incremental semdedup equals the frozen-centroid recompute restricted to new-side pairs") {
    val emb = Tables.embeddings(spark, TestSpark.Sf001)
    val isNew = col("vec_id") % 7 === 0
    val old = emb.filter(!isNew)
    val cents = graft.core.GraftCaches.acquire(
      SimilarityOps.kmeansCentroids(old, k = 8, iters = 3))
    // batch characterization under the SAME frozen centroids: assign all,
    // pair within shared clusters, exact rounded cosine
    val all = SimilarityOps.semAssignTable(emb, cents)
    val aF = all.select(col("cid"), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val bF = all.select(col("cid"), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    val full = aF.join(bF, Seq("cid")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(expr("graft_dot(ea, eb)") /
        sqrt(col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val wantNewSide = full.filter(p => p._1 % 7 == 0 || p._2 % 7 == 0)
    val got = SimilarityOps.semDedupPairsIncremental(cents,
      SimilarityOps.semAssignTable(old, cents), emb.filter(isNew),
      threshold = 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got == wantNewSide,
      s"extra=${got -- wantNewSide} missing=${wantNewSide -- got}")
    assert(got.nonEmpty, "fixture should yield at least one new-side pair")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("semdedup assignment store: bucketed round-trip, zero store-side exchange/sort") {
    import graft.core.Sinks
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val dir = java.nio.file.Files.createTempDirectory("semasg").toString
    val asgP = s"$dir/sem_asg"
    def vec(major: Int, eps: Float = 0f): Array[Float] = {
      val a = Array.fill(8)(0f); a(major) = 1f; a((major + 1) % 8) = eps; a
    }
    val base = Seq((10L, vec(0)), (11L, vec(3)), (12L, vec(5, 0.2f)))
      .toDF("vec_id", "embedding")
    val cents = graft.core.GraftCaches.acquire(
      SimilarityOps.kmeansCentroids(base, k = 2, iters = 1))
    SimilarityOps.appendSemAssignStoreBucketed(base, cents, asgP, buckets = 2)
    assert(Sinks.isBucketedStore(spark, asgP))
    val rows = spark.read.parquet(asgP).count()
    SimilarityOps.appendSemAssignStoreBucketed(base, cents, asgP, buckets = 2)
    assert(spark.read.parquet(asgP).count() == rows,
      "replayed append duplicated store rows")

    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val drop = Seq((20L, vec(0))).toDF("vec_id", "embedding")
      val pairs = SimilarityOps.semDedupPairsIncremental(cents,
        Sinks.readBucketedPath(spark, asgP), drop, threshold = 0.9)
      def storeNodes(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, org.apache.spark.sql.execution.SparkPlan]) =
        pairs.queryExecution.executedPlan.collect(pf).filter { n =>
          val leaves = n.children.flatMap(_.collectLeaves())
          leaves.nonEmpty && leaves.forall(_.toString.contains("sem_asg"))
        }
      assert(storeNodes { case e: ShuffleExchangeLike => e }.isEmpty,
        s"store side re-shuffles:\n${pairs.queryExecution.executedPlan}")
      assert(storeNodes {
        case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
        s"store side re-sorts:\n${pairs.queryExecution.executedPlan}")
      val got = pairs.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      assert(got == Set((10L, 20L)), s"incremental sem pairs: $got")
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("incremental embedding dedup equals the full recompute restricted to new-side pairs") {
    // fixture split into "existing corpus" and a "new drop"; the increment
    // path must produce EXACTLY the full-LSH pairs touching a new vector —
    // no misses (store probe covers new-old, fresh self-join covers
    // new-new) and no extras (old-old never re-derived)
    val emb = Tables.embeddings(spark, TestSpark.Sf001)
    val isNew = col("vec_id") % 7 === 0
    val full = SimilarityOps.cosinePairsLsh(emb, threshold = 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val wantNewSide = full.filter(p => p._1 % 7 == 0 || p._2 % 7 == 0)
    val got = SimilarityOps.cosinePairsLshIncremental(
      SimilarityOps.embBandTable(emb.filter(!isNew)),
      SimilarityOps.embVecTable(emb.filter(!isNew)),
      emb.filter(isNew), threshold = 0.42)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got == wantNewSide,
      s"extra=${got -- wantNewSide} missing=${wantNewSide -- got}")
    assert(got.nonEmpty, "fixture should yield at least one new-side pair")
    assert((full -- wantNewSide).nonEmpty,
      "split should leave old-old pairs out of the increment")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("embedding signature store: bucketed round-trip, zero store-side exchange") {
    import graft.core.Sinks
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val dir = java.nio.file.Files.createTempDirectory("embstore").toString
    val bandP = s"$dir/emb_bands"; val vecP = s"$dir/emb_vecs"
    // base corpus: two distinct directions plus noise-mates (8-d, small
    // plane family keeps the unit test fast; the formula is the same)
    def vec(major: Int, eps: Float): Array[Float] = {
      val a = Array.fill(8)(0f); a(major) = 1f; a((major + 1) % 8) = eps; a
    }
    val base = Seq(
      (10L, vec(0, 0.0f)), (11L, vec(3, 0.0f)), (12L, vec(5, 0.2f)))
      .toDF("vec_id", "embedding")
    val bp = (4, 8, 8) // (rowsPerBand, bands, dims)
    SimilarityOps.appendEmbSignatureStoreBucketed(base, bandP, vecP,
      buckets = 2, rowsPerBand = bp._1, bands = bp._2, dims = bp._3)
    graft.core.GraftCaches.releaseAll(spark)
    assert(Sinks.isBucketedStore(spark, bandP) && Sinks.isBucketedStore(spark, vecP))

    // replayed drop is a data no-op on both tables
    val bandRows = spark.read.parquet(bandP).count()
    val vecRows = spark.read.parquet(vecP).count()
    SimilarityOps.appendEmbSignatureStoreBucketed(base, bandP, vecP,
      buckets = 2, rowsPerBand = bp._1, bands = bp._2, dims = bp._3)
    graft.core.GraftCaches.releaseAll(spark)
    assert(spark.read.parquet(bandP).count() == bandRows &&
      spark.read.parquet(vecP).count() == vecRows,
      "replayed append duplicated store rows")

    // increment 1: a near-dup of stored vec 10 arrives — new-old pair
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val inc1 = Seq((20L, vec(0, 0.01f)), (21L, vec(6, 0.0f))).toDF("vec_id", "embedding")
      val pairs1 = SimilarityOps.cosinePairsLshIncremental(
        Sinks.readBucketedPath(spark, bandP),
        Sinks.readBucketedPath(spark, vecP), inc1, threshold = 0.9,
        rowsPerBand = bp._1, bands = bp._2, dims = bp._3)
      // an exchange whose child subtree reads ONLY the store is a
      // store-side re-shuffle — the cost cliff bucketing removes
      def storeShuffles(df: org.apache.spark.sql.DataFrame, token: String) =
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeLike
            if e.child.collectLeaves().nonEmpty &&
               e.child.collectLeaves().forall(_.toString.contains(token)) => e
        }
      for (t <- Seq("emb_bands", "emb_vecs"))
        assert(storeShuffles(pairs1, t).isEmpty,
          s"store side of the incremental join re-shuffles $t:\n" +
            pairs1.queryExecution.executedPlan)
      // the exchange-free store scan is never SORTED either (SHUFFLE_HASH
      // hints keep the corpus-sized store off the sort-merge path)
      def storeSorts(df: org.apache.spark.sql.DataFrame, token: String) =
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.SortExec
            if s.child.collectLeaves().nonEmpty &&
               s.child.collectLeaves().forall(_.toString.contains(token)) => s
        }
      for (t <- Seq("emb_bands", "emb_vecs"))
        assert(storeSorts(pairs1, t).isEmpty,
          s"store side of the incremental join re-sorts $t:\n" +
            pairs1.queryExecution.executedPlan)
      val got1 = pairs1.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      assert(got1 == Set((10L, 20L)), s"increment 1 pairs: $got1")

      // store the increment; increment 2 pairs with vectors from BOTH the
      // base corpus and the previous increment
      SimilarityOps.appendEmbSignatureStoreBucketed(inc1, bandP, vecP,
        buckets = 2, rowsPerBand = bp._1, bands = bp._2, dims = bp._3)
      graft.core.GraftCaches.releaseAll(spark)
      val inc2 = Seq((30L, vec(0, 0.0f))).toDF("vec_id", "embedding")
      val got2 = SimilarityOps.cosinePairsLshIncremental(
        Sinks.readBucketedPath(spark, bandP),
        Sinks.readBucketedPath(spark, vecP), inc2, threshold = 0.9,
        rowsPerBand = bp._1, bands = bp._2, dims = bp._3)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      assert(got2 == Set((10L, 30L), (20L, 30L)), s"increment 2 pairs: $got2")
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.core.GraftCaches.releaseAll(spark)
  }
}
