package graft

import graft.functions.{Nonce, OhlcAggregator}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("nonce: 5-char [A-Z0-9], deterministic per (seed, partition), codegen path") {
    Nonce.register(spark)
    val df = spark.range(0, 1000, 1, numPartitions = 4)
      .withColumn("nonce", expr("nonce(42)"))
    val values = df.select("nonce").as[String].collect()
    assert(values.forall(_.matches("[A-Z0-9]{5}")))
    assert(values.distinct.length > 900, "nonces should rarely collide")
    // partition-seeded determinism: same seed → same sequence
    val again = spark.range(0, 1000, 1, numPartitions = 4)
      .withColumn("nonce", expr("nonce(42)")).select("nonce").as[String].collect()
    assert(values.toSeq == again.toSeq)
    // different seed → different stream
    val other = spark.range(0, 1000, 1, numPartitions = 4)
      .withColumn("nonce", expr("nonce(7)")).select("nonce").as[String].collect()
    assert(values.toSeq != other.toSeq)
  }

  test("graft_dot: codegen and interpreted paths agree with the sequential fold") {
    graft.functions.VectorFunctions.register(spark)
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b")
    val viaExprs = df.selectExpr("graft_dot(a, b) AS d").as[Double].head()
    assert(viaExprs == 32.0)
    // parity with the interpreted higher-order fold it replaces
    val viaFold = df.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x) AS d")
      .as[Double].head()
    assert(viaExprs == viaFold)
    // interpreted path (codegen off) matches
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.selectExpr("graft_dot(a, b) AS d").as[Double].head()
      assert(interp == viaExprs)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // length mismatch: shorter array bounds the loop, no crash
    val short = Seq((Array(1.0, 2.0), Array(3.0))).toDF("a", "b")
      .selectExpr("graft_dot(a, b) AS d").as[Double].head()
    assert(short == 3.0)
  }

  test("graft_band_codes: codegen and interpreted agree; bits match per-plane dots") {
    graft.functions.VectorFunctions.register(spark)
    // 2 bands x 2 planes over 3 dims: plane dots with signs +,-,+,- →
    // band 0 = bit0 only (1), band 1 = bit0 only (1)
    val planes = Seq(
      Seq(1.0, 0.0, 0.0),   // dot > 0 → band0 bit0
      Seq(-1.0, 0.0, 0.0),  // dot < 0
      Seq(0.0, 1.0, 0.0),   // dot > 0 → band1 bit0
      Seq(0.0, -1.0, 0.0))  // dot < 0
    val df = Seq(Tuple1(Array(2.0, 3.0, 4.0))).toDF("e")
      .select(call_function("graft_band_codes", col("e"),
        typedlit(planes), lit(2)).as("codes"))
    assert(df.as[Seq[Long]].head() == Seq(1L, 1L))
    // interpreted path (codegen off) matches
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = Seq(Tuple1(Array(2.0, 3.0, 4.0))).toDF("e")
        .select(call_function("graft_band_codes", col("e"),
          typedlit(planes), lit(2)).as("codes"))
        .as[Seq[Long]].head()
      assert(interp == Seq(1L, 1L))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // parity with independent graft_dot signs on random data
    val rng = new scala.util.Random(7)
    val v = Array.fill(8)(rng.nextGaussian())
    val pl8 = Seq.fill(6)(Seq.fill(8)(rng.nextGaussian()))
    val row = Seq(Tuple1(v)).toDF("e")
    val codes = row.select(call_function("graft_band_codes", col("e"),
      typedlit(pl8), lit(3)).as("c")).as[Seq[Long]].head()
    val expected = (0 until 2).map { b =>
      (0 until 3).map { j =>
        val d = v.zip(pl8(b * 3 + j)).map { case (x, y) => x * y }.sum
        if (d > 0) 1L << j else 0L
      }.sum
    }
    assert(codes == expected)
  }

  test("graft_d2: bit-identical to the aggregate(zip_with) fold it replaces, both eval paths") {
    graft.functions.VectorFunctions.register(spark)
    // adversarial doubles: denormal-adjacent, sign flips, non-representable
    // decimals — any reordering or fused-multiply difference would surface
    val rng = new scala.util.Random(11)
    val rows = Seq.tabulate(20) { i =>
      (Array.fill(64)(rng.nextInt(2000001).toLong - 1000000L),
        Array.fill(64)(rng.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("vi", "ce")
    val hof = df.selectExpr(
      """aggregate(zip_with(vi, ce,
        |    (a, b) -> (CAST(a AS DOUBLE) / 1000000D - b)
        |            * (CAST(a AS DOUBLE) / 1000000D - b)),
        |  0D, (acc, x) -> acc + x) AS d""".stripMargin).as[Double].collect()
    val viaExpr = df.selectExpr("graft_d2(vi, ce) AS d").as[Double].collect()
    assert(viaExpr.toSeq == hof.toSeq, "codegen d2 must match the HOF bit-for-bit")
    // length mismatch: no distance, on either eval path — a loud failure,
    // not a fold over the shorter prefix (an RDD-backed frame, so the
    // optimizer cannot fold the projection into a local relation)
    val ragged = spark.sparkContext
      .parallelize(Seq((Array(2000000L), Array(1.0, 9.0))), 1).toDF("vi", "ce")
    def raggedFails(): Unit = {
      val e = intercept[Exception](
        ragged.selectExpr("graft_d2(vi, ce) AS d").collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.getMessage != null &&
          c.getMessage.contains("graft_d2: vector and centroid differ in length")),
        e.toString)
    }
    raggedFails()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.selectExpr("graft_d2(vi, ce) AS d").as[Double].collect()
      assert(interp.toSeq == hof.toSeq, "interpreted d2 must match too")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      raggedFails()
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    // type mismatch fails analysis with the pointed message
    val e = intercept[Exception] {
      Seq((Array(1.0), Array(1.0))).toDF("vi", "ce")
        .selectExpr("graft_d2(vi, ce)").collect()
    }
    assert(e.getMessage.contains("graft_d2") || e.getMessage.contains("DATATYPE"),
      e.getMessage)
  }

  test("graft_vec_sum: equals the exploded groupBy sum under any partitioning") {
    graft.functions.VectorFunctions.register(spark)
    val rng = new scala.util.Random(13)
    val rows = Seq.tabulate(50) { i =>
      (i % 5L, Array.fill(16)(rng.nextInt(2000001).toLong - 1000000L))
    }
    // reference: the posexplode → groupBy(cid, j) → groupBy(cid) reshape
    // the aggregate replaced (the Lloyd update's prior shape)
    def exploded(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cid"), posexplode(col("vi")).as(Seq("j", "x")))
      .groupBy(col("cid"), col("j")).agg(sum(col("x")).as("sx"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(j, sx))), t -> t.sx)")
        .as("sx"))
      .as[(Long, Seq[Long])].collect().toMap
    // 1, 3 and 8 partitions: partial buffers merge across every layout
    val results = Seq(1, 3, 8).map { p =>
      rows.toDF("cid", "vi").repartition(p)
        .groupBy(col("cid")).agg(expr("graft_vec_sum(vi)").as("sx"))
        .as[(Long, Seq[Long])].collect().toMap
    }
    val ref = exploded(rows.toDF("cid", "vi"))
    results.foreach(r => assert(r == ref,
      "map-side-combined vector sum must equal the exploded two-level sum"))
    // sum over no rows per SQL semantics: aggregating an empty frame is empty
    val empty = rows.toDF("cid", "vi").filter(col("cid") < 0)
      .groupBy(col("cid")).agg(expr("graft_vec_sum(vi)").as("sx"))
    assert(empty.count() == 0)
    // null inputs are skipped like sum(): only non-null arrays contribute
    val withNull = Seq((0L, Some(Array(1L, 2L))), (0L, None), (0L, Some(Array(3L, 4L))))
      .toDF("cid", "vi")
      .groupBy(col("cid")).agg(expr("graft_vec_sum(vi)").as("sx"))
      .as[(Long, Seq[Long])].head()
    assert(withNull == ((0L, Seq(4L, 6L))))
    // ragged vectors and null elements fail loudly instead of summing an
    // order-dependent prefix
    def refused(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val e = intercept[Exception](
        df.groupBy(col("cid")).agg(expr("graft_vec_sum(vi)")).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.getMessage != null && c.getMessage.contains(what)), e)
    }
    val ragged = Seq((0L, Seq(1L, 2L)), (0L, Seq(3L)))
    // one partition: the mismatch meets an update; two: a merge
    refused(ragged.toDF("cid", "vi").coalesce(1), "different lengths")
    refused(spark.sparkContext.parallelize(ragged, 2).toDF("cid", "vi"),
      "different lengths")
    refused(Seq((0L, Seq(Some(1L), None))).toDF("cid", "vi"), "null element")
  }

  test("sketch/band-code expressions reject bad arguments at analysis and tolerate null elements") {
    graft.functions.VectorFunctions.register(spark)
    graft.functions.SketchFunctions.register(spark)
    // null shingles are skipped, not NPE'd (null-tolerance of the replaced
    // xxhash64 aggregate formulation)
    val withNull = spark.sql(
      "SELECT graft_minhash(array('a b c', CAST(NULL AS STRING)), 8) AS mh, " +
        "graft_simhash(array('a b c', CAST(NULL AS STRING))) AS sh")
    val clean = spark.sql(
      "SELECT graft_minhash(array('a b c'), 8) AS mh, graft_simhash(array('a b c')) AS sh")
    assert(withNull.collect().toSeq == clean.collect().toSeq)
    // non-literal / null / wrong-typed numHashes fails with a pointed error
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array('a'), CAST(NULL AS INT))").collect()
    }
    assert(e1.getMessage.contains("integer literal"), e1.getMessage)
    // band geometry that does not divide fails analysis, not per-task AIOOBE
    val e2 = intercept[Exception] {
      spark.sql(
        "SELECT graft_band_codes(array(1.0D), array(array(1.0D), array(2.0D), array(3.0D)), 2)")
        .collect()
    }
    assert(e2.getMessage.contains("divide") || e2.getMessage.contains("DATATYPE"),
      e2.getMessage)
  }

  test("graft_minhash/graft_simhash: codegen and interpreted agree; dup shingles collide") {
    graft.functions.SketchFunctions.register(spark)
    val docs = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c", "b c d", "c d e")), // identical shingle set
      (3L, Seq("x y z", "y z w", "z w v")) // disjoint
    ).toDF("doc_id", "sh")
    def sigs(): Seq[(Long, Seq[Long], Long)] = docs
      .selectExpr("doc_id", "graft_minhash(sh, 64) AS mh", "graft_simhash(sh) AS sh64")
      .as[(Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    val codegen = sigs()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = try sigs()
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(codegen == interp, "codegen and interpreted sketches must agree")
    val bySig = codegen.map(r => r._1 -> (r._2, r._3)).toMap
    assert(bySig(1L) == bySig(2L), "identical shingle sets must collide exactly")
    assert(bySig(1L)._1 != bySig(3L)._1, "disjoint sets must not share minhash sigs")
    assert(bySig(1L)._2 != bySig(3L)._2, "disjoint sets must not share simhash")
    assert(bySig(1L)._1.length == 64)
  }

  test("OhlcAggregator: order-insensitive and merge-safe across partitionings") {
    import OhlcAggregator._
    val ticks = Seq(
      In(t = 3, 30, 30, 30, 30, v = 10, vw = 30, n = 1),
      In(t = 1, 10, 10, 10, 10, v = 20, vw = 10, n = 1),
      In(t = 2, 25, 25, 25, 25, v = 5, vw = 25, n = 1))
    // single partition vs many partitions vs reversed order: identical result
    val results = Seq(
      spark.createDataset(ticks).repartition(1),
      spark.createDataset(ticks).repartition(3),
      spark.createDataset(ticks.reverse).repartition(2)
    ).map(_.select(OhlcAggregator.agg.toColumn).collect().head)
    results.foreach { r =>
      assert(r.o == 10.0 && r.c == 30.0 && r.h == 30.0 && r.l == 10.0)
      assert(r.v == 35.0 && r.n == 3)
      assert(math.abs(r.vw - (10 * 20 + 25 * 5 + 30 * 10) / 35.0) < 1e-12)
    }
    assert(results.distinct.size == 1)
  }

  test("OhlcAggregator: duplicate timestamps tie-break identically under any partitioning") {
    import OhlcAggregator._
    // two ticks share the earliest t and two share the latest t: o/c must
    // not depend on which copy a partition sees first (min-on-tie policy)
    val ticks = Seq(
      In(t = 1, 10, 10, 10, 10, v = 1, vw = 10, n = 1),
      In(t = 1, 12, 12, 12, 12, v = 1, vw = 12, n = 1),
      In(t = 9, 90, 90, 90, 90, v = 1, vw = 90, n = 1),
      In(t = 9, 85, 85, 85, 85, v = 1, vw = 85, n = 1))
    val perms = Seq(ticks, ticks.reverse, ticks.sortBy(_.o))
    val results = (1 to 4).flatMap { p =>
      perms.map(ts =>
        spark.createDataset(ts).repartition(p)
          .select(OhlcAggregator.agg.toColumn).collect().head)
    }
    results.foreach { r =>
      assert(r.o == 10.0, s"open tie must take min of tied values: $r")
      assert(r.c == 85.0, s"close tie must take min of tied values: $r")
    }
    assert(results.distinct.size == 1)
  }

  test("OhlcAggregator groups by key like the SQL OHLC aggregate") {
    import OhlcAggregator._
    val ev = Tables.events(spark, TestSpark.Sf0001).limit(200)
      .select(col("user_id"),
        unix_millis(col("ts")).as("t"), col("value"))
      .as[(Long, Long, Double)]
      .map { case (u, t, x) => (u, In(t, x, x, x, x, 1.0, x, 1)) }
    val typed = ev.groupByKey(_._1).mapValues(_._2)
      .agg(OhlcAggregator.agg.toColumn).toDF("user_id", "bar")
      .select(col("user_id"), col("bar.o").as("o"), col("bar.c").as("c"))
    val sql = Tables.events(spark, TestSpark.Sf0001).limit(200)
      .groupBy(col("user_id"))
      .agg(min_by(col("value"), col("ts")).as("o"),
           max_by(col("value"), col("ts")).as("c"))
    assert(typed.exceptAll(sql).isEmpty && sql.exceptAll(typed).isEmpty)
  }
}
