package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float] vectors).
  *
  * Baseline: brute-force cosine top-k — the query side is tiny and
  * broadcast, so the scan side streams once with no shuffle. Dot products
  * use the codegen'd DotProduct expression (graft.functions.VectorExprs):
  * a primitive double loop in whole-stage codegen, bit-identical to the
  * DuckDB oracle's sequential fold.
  *
  * Scale paths: sign-projection LSH codes, random-hyperplane LSH buckets,
  * and IVF inverted lists — each prunes the candidate set so a query
  * touches one bucket/list instead of the corpus; at 100 TB the bucketed
  * assignment is written partitionBy(code) so a probe is partition-pruned.
  */
object SimilarityOps {

  /** embeddings with the float vector cast to double + its squared norm. */
  private def withNorm(df: DataFrame): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    df.withColumn("e", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", expr("graft_dot(e, e)"))
  }

  /** The STREAM side of a broadcast compare: repartitioned by vec_id so the
    * quadratic probe work spreads across the cluster — the fixture is one
    * parquet row group (one input split), and a broadcast nested-loop or
    * bucket join against a single-partition stream side runs on ONE task no
    * matter how many cores exist. One narrow shuffle of the corpus buys
    * full parallelism on the O(n·m) compare; never applied to the
    * broadcast side.
    */
  private def probeSide(df: DataFrame): DataFrame =
    withNorm(df).repartition(col("vec_id"))

  /** Deterministic FIXED-k centroid sample for the IVF operators: vectors
    * ranked by a multiplicative hash of vec_id (a uniform pseudo-random
    * order both engines compute identically — `vec_id % 1000003` first so
    * the product can't overflow BIGINT on either side), top k taken.
    * Fixed k is the 100 TB contract: the assignment broadcast is O(k*dims)
    * bytes and never grows with the corpus; `limit(k)` plans as
    * TakeOrderedAndProject, so selection is one distributed pass.
    * `centroidOrderSql` is the same rule for the DuckDB oracle twin.
    */
  private[operators] def centroids(emb: DataFrame, k: Int): DataFrame =
    emb.orderBy(pmod((col("vec_id") % 1000003L) * 40503L, lit(65536L)),
        col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))

  private[operators] val centroidOrderSql =
    "((vec_id % 1000003) * 40503) % 65536, vec_id"

  /** Fixture embedding dimensionality (TESTDATA.md); the oracle twin needs
    * the constant because DuckDB's range() cannot read the list length of a
    * sibling column lambda. Spark-side code uses the actual array length.
    */
  private val embDim = 64

  /** DuckDB twin of the k-means squared distance: identical IEEE operation
    * sequence to the Spark aggregate/zip_with form, including the 0-seed
    * bracketing ((0+t1)+t2)+... — term j = (vi[j]/1e6 - ce[j])².
    */
  private val kmeansD2Sql: String = {
    val term = "(CAST(vi[j+1] AS DOUBLE) / 1000000 - ce[j+1])"
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range($embDim), j -> $term * $term)), (acc, x) -> acc + x)"
  }

  /** Oracle SQL for `ann_kmeans`: the full Lloyd iteration unrolled as a
    * CTE chain (init -> iters × (assign, update) -> final assign). Every
    * arithmetic step is either EXACT (BIGINT sums of integerized vectors —
    * order-independent, so group-by parallelism cannot perturb them) or a
    * deterministic IEEE double op applied to identical operands in both
    * engines (casts, divisions, ordered fold), so the oracle is hash-exact,
    * not approximate.
    */
  private def kmeansOracleSql(k: Int, iters: Int): String = {
    val (ctes, fin) = kmeansCtes(k, iters)
    s"""WITH $ctes
       |SELECT vec_id, cid, round(d2, 6) AS d2 FROM $fin
       |ORDER BY vec_id""".stripMargin
  }

  /** The unrolled Lloyd CTE chain (init -> iters × (assign, update) ->
    * final assign) as a reusable fragment: returns (ctes, finalRelation)
    * where finalRelation holds (vec_id, cid, d2). Shared by `ann_kmeans`
    * and `ann_semdedup` so the cluster assignment SemDeDup prunes with is
    * definitionally the assignment the clustering query reports.
    */
  private[graft] def kmeansCtes(k: Int, iters: Int,
                         where: String = ""): (String, String) = {
    val sb = new StringBuilder
    sb ++= s"""v AS (SELECT vec_id, list_transform(embedding,
              |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vi
              |  FROM embeddings$where),
              |c0 AS (SELECT CAST(row_number() OVER (ORDER BY $centroidOrderSql)
              |           AS BIGINT) - 1 AS cid,
              |         list_transform(vi, x -> CAST(x AS DOUBLE) / 1000000) AS ce
              |       FROM v ORDER BY $centroidOrderSql LIMIT $k),""".stripMargin
    for (i <- 1 to iters + 1) {
      sb ++= s"""
                |a$i AS (SELECT vec_id, cid, d2 FROM (
                |  SELECT vec_id, cid, d2,
                |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
                |  FROM (SELECT v.vec_id, c.cid, $kmeansD2Sql AS d2
                |        FROM v CROSS JOIN c${i - 1} c))
                |  WHERE rk = 1)""".stripMargin
      if (i <= iters)
        sb ++= s""",
                  |c$i AS (SELECT cid, list(m ORDER BY j) AS ce FROM (
                  |  SELECT a.cid, jj.j,
                  |    CAST(sum(v.vi[jj.j + 1]) AS DOUBLE) / count(*) / 1000000 AS m
                  |  FROM a$i a JOIN v USING (vec_id)
                  |  CROSS JOIN (SELECT unnest(range($embDim)) AS j) jj
                  |  GROUP BY a.cid, jj.j)
                  |  GROUP BY cid),""".stripMargin
    }
    (sb.toString, s"a${iters + 1}")
  }

  /** Lloyd's k-means over the embedding corpus — the clustering stage of
    * corpus curation (topic balancing, cluster-level filtering, diversity
    * sampling). Returns the final (vec_id, cid, d2) assignment after
    * `iters` full rounds from the deterministic fixed-k init shared with
    * the IVF operators.
    *
    * Exactness design (what makes this ORACLE-EXACT, not approximately
    * right): vectors are integerized once (floor(x·1e6) as BIGINT), so the
    * per-cluster, per-dimension sums in the update step are exact integer
    * arithmetic — immune to float summation order, the usual source of
    * k-means nondeterminism on a cluster. Means then divide two
    * identically-valued operands in double; distances fold in a fixed
    * dimension order. Every double op has identical operands in both
    * engines, so results match bit-for-bit.
    *
    * Scale shape: centroids are a k×dims DataFrame BROADCAST into the
    * assignment (never collected to the driver); the update is a partial-
    * aggregated groupBy over (cid, dim) — k·dims result rows; each round
    * is one broadcast join + two shuffles bounded by k·dims, and the
    * corpus is scanned once per round from the persisted integerized
    * table.
    */
  def kmeansAssign(embeddings: DataFrame, k: Int = 8,
                   iters: Int = 3): DataFrame =
    kmeansAssignUnordered(embeddings, k, iters).orderBy(col("vec_id"))

  /** `kmeansAssign` without the declared query's final global sort — the
    * form internal consumers (semDedupPairs) compose under their own
    * ordering; the ann_kmeans sort was riding into the pair path as a
    * pure extra range exchange.
    */
  private[graft] def kmeansAssignUnordered(embeddings: DataFrame, k: Int,
                                           iters: Int): DataFrame = {
    val v = integerized(embeddings)
    assignStep(v, trainedFrom(v, k, iters))
      .select(col("vec_id"), col("cid"), round(col("d2"), 6).as("d2"))
  }

  /** The trained centroids themselves, (cid, ce) after `iters` Lloyd
    * rounds — the bridge from the clustering stage to IVF: pass the result
    * to `cosinePairsIvf(trainedCentroids = ...)` to probe data-shaped
    * inverted lists instead of the fixed-k sampled ones (the sampled init
    * stays the oracle-exactness device for the declared queries; trained
    * lists are the production path for list quality at scale).
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8,
                      iters: Int = 3): DataFrame =
    trainedFrom(integerized(embeddings), k, iters)

  /** The persisted integerized corpus the k-means passes share (exact
    * BIGINT update sums — see kmeansAssign's exactness design).
    */
  private def integerized(embeddings: DataFrame): DataFrame =
    graft.core.GraftCaches.acquire(
      embeddings.select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000D) AS BIGINT))")
        .as("vi"))
        .repartition(col("vec_id")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Codegen'd d2 (KmeansDistSq — guide §4: no interpreted expressions on
    * the hot path): bit-identical operation sequence to the interpreted
    * `aggregate(zip_with(vi, ce, (a,b) -> (a/1e6-b)*(a/1e6-b)), 0D, +)` it
    * replaces — ascending-j fold from 0.0 of ((double)vi[j]/1e6 - ce[j])²
    * — so the Lloyd trajectory is unchanged to the last ulp. The HOF form
    * evaluated a lambda per (vector × centroid × dim × round) and showed up
    * as `lambdafunction` outside WholeStageCodegen in the ann_kmeans plan.
    */
  private def kmeansD2Expr = expr("graft_d2(vi, ce)")

  /** One assignment pass: nearest centroid (and its d2) per vector. */
  private def assignStep(v: DataFrame, cs: DataFrame): DataFrame = {
    VectorFunctions.register(v.sparkSession)
    v.crossJoin(broadcast(cs))
      .withColumn("d2", kmeansD2Expr)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"), col("best.d2").as("d2"))
  }

  /** Lloyd iterations from the deterministic fixed-k init; returns the
    * final (cid, ce) centroid frame (never collected to the driver).
    */
  private def trainedFrom(v: DataFrame, k: Int, iters: Int): DataFrame = {
    VectorFunctions.register(v.sparkSession)
    val hk = pmod((col("vec_id") % 1000003L) * 40503L, lit(65536L))
    // k-row global TopK (orderBy.limit plans TakeOrderedAndProject), then
    // rank WITHOUT a window: the unpartitioned row_number this used to run
    // was the one single-partition window frame in main — harmless on a
    // k-row input, but its per-job "WindowExec: No Partition Defined"
    // warning spam would mask any future genuinely unbounded window in the
    // logs. sort_array over one collected-struct row reproduces the
    // (hash, vec_id) rank order bit-for-bit (vec_id is unique, so the
    // struct prefix is a total order and the trailing vi never compares).
    var cents = v.orderBy(hk, col("vec_id")).limit(k)
      .select(struct(hk.as("hk"), col("vec_id"), col("vi")).as("s"))
      .agg(sort_array(collect_list(col("s"))).as("ks"))
      .select(posexplode(col("ks")).as(Seq("cid", "kk")))
      .select(col("cid").cast("long").as("cid"),
        expr("transform(kk.vi, x -> CAST(x AS DOUBLE) / 1000000D)").as("ce"))

    // Lloyd update as ONE map-side-combined aggregate (VecSumLong — guide
    // §2.3 "aggregate before you shuffle" / §2.4): each input partition
    // reduces to ≤k element-wise BIGINT sum buffers, so the one Exchange
    // carries partitions·k·dims·8 bytes of partials — the posexplode →
    // groupBy(cid, j) → groupBy(cid) form this replaces exploded dims rows
    // per vector and paid TWO exchanges per round. Integer addition is
    // order-independent and the mean divides the same operands in the same
    // order ((double)Σvi[j] / n / 1e6), so the centroid trajectory is
    // bit-identical to the exploded form's. n counts the vectors the sum
    // saw: graft_vec_sum skips a null vi, so counting rows would deflate
    // the mean of any cluster a null embedding was assigned to.
    def update(assigned: DataFrame): DataFrame =
      assigned.join(v, "vec_id")
        .groupBy(col("cid"))
        .agg(expr("graft_vec_sum(vi)").as("sx"), count(col("vi")).as("n"))
        .select(col("cid"),
          expr("transform(sx, x -> CAST(x AS DOUBLE) / n / 1000000D)").as("ce"))

    for (_ <- 1 to iters) cents = update(assignStep(v, cents))
    cents
  }

  val defs: Seq[QueryDef] = Seq(

    // Brute-force cosine top-5 for each query vector (vec_id % 100 = 0).
    // Exact oracle: DuckDB's list_cosine_similarity over double-cast lists
    // is the same sequential loop; scores rounded to 6 dp to absorb any
    // final-ulp divergence in sqrt/divide ordering.
    QueryDef.sqlBacked(
      "ann_cosine_topk",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, ed AS qe FROM e WHERE vec_id % 100 = 0)
        |SELECT q_id, vec_id AS neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY round(list_cosine_similarity(qe, ed), 6) DESC, vec_id)
        |    AS BIGINT) AS rank,
        |  round(list_cosine_similarity(qe, ed), 6) AS cos
        |FROM e, q
        |WHERE vec_id <> q_id
        |QUALIFY rank <= 5
        |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
      cosineTopK(Tables.embeddings(s, d),
        isQuery = col("vec_id") % 100 === 0, k = 5)
    },

    // Sign-projection LSH bucketing: 16-bit code from the signs of the first
    // 16 dimensions. Exact oracle (pure integer/sign arithmetic).
    QueryDef.sqlBacked(
      "ann_lsh_buckets",
      """SELECT CAST(list_sum(list_transform(range(0, 16),
        |    i -> CASE WHEN embedding[i + 1] > 0
        |              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS code,
        |  count(*) AS n
        |FROM embeddings
        |GROUP BY 1
        |ORDER BY code""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("code", expr(
          """aggregate(sequence(0, 15), bigint(0), (acc, i) ->
            |  acc + if(cast(element_at(embedding, i + 1) as double) > cast(0 as double),
            |           shiftleft(bigint(1), i), bigint(0)))""".stripMargin))
        .groupBy(col("code"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("code"))
    },

    // LSH-bucketed ANN: queries search only their own random-hyperplane
    // bucket. The planes are seed-deterministic, so the oracle embeds the
    // SAME plane literals (shortest round-trip double repr parses to
    // identical bits) and recomputes the bucket codes + exact in-bucket
    // ranking in SQL; recall vs brute force additionally in SimilaritySpec.
    QueryDef.sqlBacked(
      "ann_lsh_topk", {
        val planes = lshPlanes(planes = 8, dims = 64, seed = 42L)
        val codeExpr = planes.zipWithIndex.map { case (p, i) =>
          val arr = p.map(_.toString).mkString("[", ", ", "]")
          s"CASE WHEN list_dot_product(ed, $arr) > 0 THEN ${1L << i} ELSE 0 END"
        }.mkString("(", " + ", ")")
        s"""WITH e AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           |  FROM embeddings),
           |coded AS (SELECT vec_id, ed, $codeExpr AS code FROM e),
           |q AS (SELECT vec_id AS q_id, ed AS qe, code AS qcode
           |      FROM coded WHERE vec_id % 100 = 0)
           |SELECT q_id, vec_id AS neighbor_id,
           |  CAST(row_number() OVER (PARTITION BY q_id
           |    ORDER BY round(list_cosine_similarity(qe, ed), 6) DESC, vec_id)
           |    AS BIGINT) AS rank,
           |  round(list_cosine_similarity(qe, ed), 6) AS cos
           |FROM coded JOIN q ON code = qcode AND vec_id <> q_id
           |QUALIFY rank <= 3
           |ORDER BY q_id, rank""".stripMargin
      }) { (s, d) =>
      annLshTopK(Tables.embeddings(s, d), planes = 8, k = 3)
    },

    // IVF-bucketed ANN — the other scale path: corpus assigned to its
    // nearest centroid once (inverted lists), queries probe only the
    // nProbe nearest lists. Centroids are a FIXED-k deterministic sample
    // (hash-ordered top 32 — see `centroids`), so the whole operator is
    // oracle-expressible AND the assignment broadcast stays constant-size
    // at any corpus scale; assignment/probe/rank orderings all use
    // 6-dp-rounded cosines on both sides to keep tie-breaks
    // engine-independent.
    QueryDef.sqlBacked(
      "ann_ivf_topk",
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, ed AS ce FROM e
        |      ORDER BY $centroidOrderSql LIMIT 32),
        |assigned AS (
        |  SELECT e.vec_id, e.ed, c.cid
        |  FROM e CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.ed, c.ce), 6) DESC, c.cid) = 1),
        |probes AS (
        |  SELECT q.vec_id AS q_id, q.ed AS qe, c.cid
        |  FROM e q CROSS JOIN c
        |  WHERE q.vec_id % 100 = 0
        |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY round(list_cosine_similarity(q.ed, c.ce), 6) DESC, c.cid) <= 2),
        |cand AS (
        |  SELECT p.q_id, a.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(p.qe, a.ed), 6) AS cos
        |  FROM probes p JOIN assigned a USING (cid)
        |  WHERE a.vec_id <> p.q_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
        |  cos
        |FROM cand
        |QUALIFY rank <= 3
        |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
      annIvfTopK(Tables.embeddings(s, d), nProbe = 2, k = 3)
    },

    // K-means clustering of the embedding corpus (3 Lloyd rounds, k=8,
    // deterministic init). See kmeansAssign for the exactness design: the
    // update step's sums are integer-exact, so both engines walk the SAME
    // centroid trajectory and the final assignment is hash-exact — a
    // clustering you can ship for curation decisions with a bitwise
    // correctness gate, not "roughly similar clusters".
    QueryDef.sqlBacked(
      "ann_kmeans",
      kmeansOracleSql(k = 8, iters = 3)) { (s, d) =>
      kmeansAssign(Tables.embeddings(s, d), k = 8, iters = 3)
    },

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    // prunes pair candidates to TRAINED k-means cluster co-membership,
    // then verifies with the exact cosine — the curation move for a corpus
    // where LSH recall is wasted on cross-topic pairs. The oracle shares
    // `kmeansCtes` with ann_kmeans (same centroid trajectory bit-for-bit)
    // and the cosine/round contract with the embedding near-dup family.
    // Scale: the pair search becomes a cid-equi self-join — id rows
    // shuffle to their cluster, quadratic work is per-list (k grows with
    // the corpus to bound list sizes; hot clusters split by salting),
    // never the corpus-wide BNLJ of the brute-force baseline.
    QueryDef.sqlBacked(
      "ann_semdedup", {
        val (ctes, fin) = kmeansCtes(k = 8, iters = 3)
        s"""WITH $ctes,
           |e AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           |  FROM embeddings)
           |SELECT a.cid AS cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  round(list_cosine_similarity(ea.ed, eb.ed), 6) AS cos
           |FROM $fin a JOIN $fin b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |JOIN e ea ON ea.vec_id = a.vec_id
           |JOIN e eb ON eb.vec_id = b.vec_id
           |WHERE round(list_cosine_similarity(ea.ed, eb.ed), 6) >= 0.42
           |ORDER BY vec_a, vec_b""".stripMargin
      }) { (s, d) =>
      semDedupPairs(Tables.embeddings(s, d), threshold = 0.42, k = 8, iters = 3)
    },

    // INCREMENTAL SemDeDup — an embedding drop (vec_id % 7 = 0) checked
    // against the persisted cluster-assignment store under FROZEN
    // centroids trained on the existing corpus (vec_id % 7 <> 0): the
    // production retrain-cadence shape, where drops are assigned to the
    // current centroids and only pairs touching a new vector are derived.
    // The oracle re-trains the Lloyd chain over the OLD subset only (the
    // same kmeansCtes fragment, WHERE-filtered — bit-identical trajectory),
    // assigns ALL vectors to those frozen centroids with the chain's exact
    // (d2, cid) tie-break, and keeps same-cluster verified pairs with a
    // new side — the increment path must agree exactly on that subset.
    QueryDef.sqlBacked(
      "ann_semdedup_incremental", {
        val (ctes, _) = kmeansCtes(k = 8, iters = 3,
          where = " WHERE vec_id % 7 <> 0")
        s"""WITH $ctes,
           |vall AS (SELECT vec_id, list_transform(embedding,
           |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vi
           |  FROM embeddings),
           |af AS (SELECT vec_id, cid FROM (
           |  SELECT vec_id, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
           |  FROM (SELECT vall.vec_id, c.cid, $kmeansD2Sql AS d2
           |        FROM vall CROSS JOIN c3 c))
           |  WHERE rk = 1),
           |e AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           |  FROM embeddings)
           |SELECT a.cid AS cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  round(list_cosine_similarity(ea.ed, eb.ed), 6) AS cos
           |FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |JOIN e ea ON ea.vec_id = a.vec_id
           |JOIN e eb ON eb.vec_id = b.vec_id
           |WHERE round(list_cosine_similarity(ea.ed, eb.ed), 6) >= 0.42
           |  AND (a.vec_id % 7 = 0 OR b.vec_id % 7 = 0)
           |ORDER BY vec_a, vec_b""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val isNew = col("vec_id") % 7 === 0
      val old = emb.filter(!isNew)
      // persisted: the tiny (k × dims) centroid frame has the full Lloyd
      // lineage behind it and feeds both the store build and the fresh
      // assignment — without the cache the chain would run twice
      val cents = graft.core.GraftCaches.acquire(
        kmeansCentroids(old, k = 8, iters = 3))
      semDedupPairsIncremental(cents, semAssignTable(old, cents),
        emb.filter(isNew), threshold = 0.42)
        .orderBy(col("vec_a"), col("vec_b"))
    }
  )

  /** Within-cluster near-dup pairs over trained k-means clusters — see the
    * ann_semdedup QueryDef. Reuses kmeansAssignUnordered for the assignment
    * (the oracle-exact trajectory, minus ann_kmeans' declared-output sort —
    * a pure extra range exchange here, where the pair join imposes its own
    * ordering) and the family's raw-dot-first verify (the cheap unrounded
    * superset test guards the rounded exact one).
    *
    * `maxClusterSize` is the mega-cluster guard: the within-cluster
    * self-join is quadratic in the LARGEST cluster, and a collapsed
    * embedding space (one topic dominating a crawl, a degenerate encoder)
    * can put most of the corpus in one cluster — at which point "cluster
    * pruning" is the corpus-wide all-pairs join SemDeDup exists to avoid.
    * Clusters at or under the cap keep the exact all-pairs path (recall 1);
    * oversized clusters route through `cosinePairsLsh`'s banded
    * sign-LSH (precision still 1 — candidates verify with the same exact
    * rounded cosine — recall >= 0.97 at the default (6, 48) banding), with
    * cluster co-membership enforced on the verified pairs. The default cap
    * (2^20 vectors ≈ 10^12 in-cluster pairs before LSH pruning) never
    * triggers on the fixture, so the declared query stays oracle-exact;
    * production corpora tune it toward (target pair budget)^0.5.
    */
  def semDedupPairs(embeddings: DataFrame, threshold: Double, k: Int = 8,
                    iters: Int = 3, maxClusterSize: Int = 1 << 20): DataFrame = {
    // persisted: the assignment feeds the size probe AND the pair join —
    // without the cache the oversized-cluster existence check would re-run
    // the full Lloyd assignment pipeline (measured 2x on the bench query)
    val asg = graft.core.GraftCaches.acquire(
      kmeansAssignUnordered(embeddings, k, iters)
        .select(col("vec_id"), col("cid")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // k rows — the size tag rides a broadcast join, never a shuffle
    val sizes = asg.groupBy(col("cid")).agg(count(lit(1)).as("_csz"))
    val tagged = asg.join(broadcast(sizes), "cid")
    val small = tagged.filter(col("_csz") <= maxClusterSize)
      .select(col("vec_id"), col("cid"))
    val big = tagged.filter(col("_csz") > maxClusterSize)
      .select(col("vec_id"), col("cid"))

    val e = withNorm(embeddings).join(small, "vec_id")
    val a = e.select(col("cid"), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = e.select(col("cid"), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    val rawDot = expr("graft_dot(ea, eb)")
    val normProd = sqrt(col("na") * col("nb"))
    val exact = a.join(b, Seq("cid"))
      .filter(col("vec_a") < col("vec_b") &&
        rawDot >= lit(threshold - 1e-6) * normProd &&
        round(rawDot / normProd, 6) >= threshold)
      .select(col("cid"), col("vec_a"), col("vec_b"),
        round(rawDot / normProd, 6).as("cos"))

    // driver-edge existence probe on the k-row size aggregate (one pass
    // over the cached assignment): when no cluster is oversized — every
    // declared-query run — the plan is the exact path alone, with no idle
    // LSH stages appended
    val all =
      if (sizes.filter(col("_csz") > maxClusterSize).isEmpty) exact
      else {
        val bigA = big.toDF("vec_a", "cid_a")
        val bigB = big.toDF("vec_b", "cid_b")
        // the banding planes must span the REAL embedding width — the
        // default 64 would silently sign-hash only a 64-dim prefix of a
        // wider production embedding and collapse recall on exactly the
        // degenerate-corpus path this cap exists for
        val dims = embeddings.select(size(col("embedding"))).head().getInt(0)
        val lsh = cosinePairsLsh(
            embeddings.join(big.select(col("vec_id")), "vec_id"), threshold,
            dims = dims)
          .join(bigA, "vec_a").join(bigB, "vec_b")
          .filter(col("cid_a") === col("cid_b"))
          .select(col("cid_a").as("cid"), col("vec_a"), col("vec_b"), col("cos"))
        exact.unionByName(lsh)
      }
    all.orderBy(col("vec_a"), col("vec_b"))
  }

  /** The SemDeDup ASSIGNMENT table: every vector of `embeddings` assigned
    * to its nearest FROZEN centroid, carrying the verify payload —
    * (cid, vec_id, e, nrm). This is what a production pipeline persists per
    * drop (`appendSemAssignStoreBucketed`) so `semDedupPairsIncremental`
    * probes old vectors by cluster without re-assigning them. Centroids
    * come from `kmeansCentroids` trained on the existing corpus and stay
    * frozen between retrains — the standard production cadence: assignment
    * drift across drops is bounded by retraining, not per-drop re-runs.
    * Tie-breaks match the Lloyd chain exactly (min (d2, cid)), so an
    * assignment computed at ingest equals the one a batch re-run would
    * produce from the same centroids.
    */
  def semAssignTable(embeddings: DataFrame,
                     trainedCents: DataFrame): DataFrame = {
    val asg = assignStep(integerized(embeddings), trainedCents)
      .select(col("vec_id"), col("cid"))
    withNorm(embeddings)
      .select(col("vec_id"), col("e"), col("nrm"))
      .join(asg, "vec_id")
      .select(col("cid"), col("vec_id"), col("e"), col("nrm"))
  }

  /** `integerized` for the (vec_id, e, nrm) VECTOR-STORE form: `e` is the
    * double cast of the original float embedding, so floor(e·1e6) equals
    * the raw-table integerization bit-for-bit — a retrain over the
    * persisted store walks the same Lloyd trajectory a retrain over the
    * raw embeddings would.
    */
  private def integerizedFromVecs(vecs: DataFrame): DataFrame =
    graft.core.GraftCaches.acquire(
      vecs.select(col("vec_id"),
        expr("transform(e, x -> CAST(floor(x * 1000000D) AS BIGINT))")
          .as("vi"))
        .repartition(col("vec_id")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** `kmeansCentroids` over the persisted vector store — the retrain
    * entry point: train from (vec_id, e, nrm) without re-reading the raw
    * embeddings table.
    */
  def kmeansCentroidsFromVecs(vecs: DataFrame, k: Int = 8,
                              iters: Int = 3): DataFrame =
    trainedFrom(integerizedFromVecs(vecs), k, iters)

  /** `semAssignTable` over the persisted vector store (same frozen-centroid
    * assignment, no raw-table read).
    */
  def semAssignTableFromVecs(vecs: DataFrame,
                             trainedCents: DataFrame): DataFrame = {
    val asg = assignStep(integerizedFromVecs(vecs), trainedCents)
      .select(col("vec_id"), col("cid"))
    vecs.select(col("vec_id"), col("e"), col("nrm")).join(asg, "vec_id")
      .select(col("cid"), col("vec_id"), col("e"), col("nrm"))
  }

  /** Train AND assign off ONE integerized pass over the vector store — the
    * retrain entry point. Composing `kmeansCentroidsFromVecs` with
    * `semAssignTableFromVecs` would scan and cache the integerized store
    * twice (each builds its own persisted copy); here the Lloyd rounds and
    * the final assignment share a single frame. Returns (centroids,
    * assignment table).
    */
  def semRetrainFromVecs(vecs: DataFrame, k: Int = 8,
                         iters: Int = 3): (DataFrame, DataFrame) = {
    val v = integerizedFromVecs(vecs)
    val cents = trainedFrom(v, k, iters)
    val asg = assignStep(v, cents).select(col("vec_id"), col("cid"))
    (cents,
      vecs.select(col("vec_id"), col("e"), col("nrm")).join(asg, "vec_id")
        .select(col("cid"), col("vec_id"), col("e"), col("nrm")))
  }

  /** Within-cluster verified pairs from a FULL assignment table — the
    * batch pair derivation a retrain uses to rebuild the pair table from
    * the fresh assignments (cid-equi self-join, the family's raw-dot-first
    * exact rounded verify).
    */
  def semPairsFromAssignments(asg: DataFrame, threshold: Double): DataFrame = {
    val a = asg.select(col("cid"), col("vec_id").as("ida"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = asg.select(col("cid"), col("vec_id").as("idb"),
      col("e").as("eb"), col("nrm").as("nb"))
    val rawDot = expr("graft_dot(ea, eb)")
    val normProd = sqrt(col("na") * col("nb"))
    a.join(b, Seq("cid")).filter(col("ida") < col("idb"))
      .filter(rawDot >= lit(threshold - 1e-6) * normProd &&
        round(rawDot / normProd, 6) >= threshold)
      .select(col("cid"), col("ida").as("vec_a"), col("idb").as("vec_b"),
        round(rawDot / normProd, 6).as("cos"))
  }

  /** Deterministic identity of a frozen centroid frame — the value the
    * sem_asg store's params ledger pins: an order-insensitive 64-bit fold
    * of every (cid, ce) row. A drop assigned under DIFFERENT centroids
    * than the store was built with silently fragments clusters (the same
    * vector maps to different cids across drops, and within-cluster pair
    * search misses across the split); the fingerprint turns that into a
    * refuse-before-work. Cheap: one tiny job over the k-row frame.
    */
  def centroidFingerprint(cents: DataFrame): Long = {
    val d = cents.agg(
      sum(xxhash64(col("cid"), col("ce")).cast("decimal(38,0)"))).head()
    if (d.isNullAt(0)) 0L else d.getDecimal(0).longValue()
  }

  /** Persist a drop's SemDeDup assignments as a path-anchored BUCKETED
    * table on the pair-join key (cid), keyed vec_id (replayed drops are
    * data no-ops). One table carries assignment AND verify payload, so the
    * incremental pair search needs no second store join.
    */
  def appendSemAssignStoreBucketed(newEmb: DataFrame,
                                   trainedCents: DataFrame, path: String,
                                   buckets: Int): Unit =
    // idempotence keys include the bucket key: within one table's lifetime
    // the centroids are FROZEN (a retrain rebuilds the table from
    // scratch), so cid is a deterministic function of vec_id and matching
    // on (cid, vec_id) is equivalent to vec_id alone — which lets the
    // cid-bucketed scan satisfy the existence anti-join's distribution
    // with no store-side exchange per append
    graft.core.Sinks.bucketedIdempotentAppend(
      semAssignTable(newEmb, trainedCents), path,
      keys = Seq("cid", "vec_id"), bucketKeys = Seq("cid"), buckets = buckets)

  /** INCREMENTAL SemDeDup: within-cluster near-dup pairs involving at
    * least one NEW vector, under FROZEN trained centroids — the drop shape
    * of `semDedupPairs`. The drop is assigned once against the broadcast
    * centroids; the corpus side arrives as the PERSISTED assignment store,
    * so old vectors are never re-assigned (let alone re-trained). Pairs
    * split exactly into new-old ∪ new-new on cluster co-membership; the
    * store side, bucketed on cid, plans no exchange, and the SHUFFLE_HASH
    * hint (increment builds, store streams) keeps it unsorted.
    * Verification is the family's raw-dot-first exact rounded cosine, so
    * the increment path and a frozen-centroid batch recompute cannot
    * drift.
    *
    * Cost bound: increment × largest cluster — the quadratic-mega-cluster
    * guard is the BATCH operator's device (`semDedupPairs.maxClusterSize`);
    * per-drop work here is bounded by admission-controlled drop size, and
    * cluster balance is restored at retrain cadence (retrain → rebuild the
    * assignment store → resume drops against the new centroids).
    */
  def semDedupPairsIncremental(trainedCents: DataFrame, storedAsg: DataFrame,
                               newEmb: DataFrame,
                               threshold: Double,
                               commitIds: Option[DataFrame] = None): DataFrame =
    // persisted: the fresh assignment feeds the new-old probe AND the
    // new-new self-join, and Spark does not CSE across join branches
    semPairsIncrementalFromAssign(storedAsg,
      graft.core.GraftCaches.acquire(
        semAssignTable(newEmb, trainedCents).repartition(col("vec_id"))),
      threshold, commitIds)

  /** The pair derivation half of `semDedupPairsIncremental`, taking the
    * increment's assignment frame directly — the entry point for a caller
    * (CorpusIngest.ingestEmbeddings) that also persists the assignment and
    * must not pay the broadcast-assign pass twice. `freshAsg` must be
    * materialized (persisted/checkpointed) by the caller: it feeds two
    * join branches.
    *
    * `commitIds`: the vec ids present in the COMMIT-POINT vector store
    * (one id column). The assignment store carries its verify payload
    * inline, so — unlike `cosinePairsLshIncremental`, whose vector-store
    * resolve naturally nulls out uncommitted ids — orphan sem_asg rows
    * left by a crashed-and-never-retried drop would emit GHOST pairs
    * referencing vectors absent from emb_vecs, and a ghost
    * component-minimum could mark a real vector as a loser in
    * semSurvivors. The guard semi-joins the VERIFIED new-old pairs
    * (pair-bounded, far below candidate volume) against the commit ids —
    * the vec store streams off its vec_id buckets exchange-free; the
    * cid-bucketed assignment scan is never re-keyed. Pass None only when
    * no commit table exists yet. The pairs come back unordered, like the
    * text twin's (DedupOps.verifyPairsSplit).
    */
  def semPairsIncrementalFromAssign(storedAsg: DataFrame,
                                    freshAsg: DataFrame,
                                    threshold: Double,
                                    commitIds: Option[DataFrame] = None): DataFrame = {
    val rawDot = expr("graft_dot(ea, eb)")
    val normProd = sqrt(col("na") * col("nb"))
    def verified(cand: DataFrame, extra: Column*): DataFrame = cand
      .filter(rawDot >= lit(threshold - 1e-6) * normProd &&
        round(rawDot / normProd, 6) >= threshold)
      .select(Seq(col("cid"),
        least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"),
        round(rawDot / normProd, 6).as("cos")) ++ extra: _*)
    val a = freshAsg.select(col("cid"), col("vec_id").as("ida"),
      col("e").as("ea"), col("nrm").as("na"))
    val store = storedAsg.select(col("cid"), col("vec_id").as("idb"),
      col("e").as("eb"), col("nrm").as("nb"))
    val newOldV = verified(
      a.hint("shuffle_hash").join(store, Seq("cid"))
        .filter(col("ida") =!= col("idb")),
      col("idb").as("_store_id"))
    // INNER join, not semi: the commit table is unique on vec_id (it is
    // the keyed commit point), so inner ≡ semi — and inner admits a
    // build-LEFT shuffle_hash, letting the pair-bounded side build the
    // hash table while the vec store streams off its buckets (a left_semi
    // can only build right, which would hash the corpus-sized store)
    val newOld = commitIds.fold(newOldV) { ids =>
      newOldV.hint("shuffle_hash").join(
        ids.select(col(ids.columns.head).as("_store_id")),
        Seq("_store_id"))
    }.drop("_store_id")
    val bFresh = freshAsg.select(col("cid"), col("vec_id").as("idb"),
      col("e").as("eb"), col("nrm").as("nb"))
    val newNew = verified(
      a.join(bFresh, Seq("cid")).filter(col("ida") < col("idb")))
    // the dedup matters in exactly one window: a crash-retry where the
    // previous attempt's sem rows landed but the vec-store commit point
    // did not — the retry's increment then OVERLAPS the stored
    // assignments, and a new-new pair would also surface as new-old
    newOld.unionByName(newNew).dropDuplicates("vec_a", "vec_b")
  }

  /** All pairs with cosine >= threshold (embedding near-dup). One side is
    * broadcast; the join is a broadcast nested loop by nature (all-pairs
    * comparison), with the codegen'd dot in the condition's hot path.
    */
  def cosinePairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val a = probeSide(embeddings).select(col("vec_id").as("vec_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = withNorm(embeddings).select(col("vec_id").as("vec_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    // The BNLJ evaluates its condition INTERPRETED per pair, left-to-right
    // with And short-circuit, and Catalyst PREPENDS any post-join filter it
    // pushes in — so the whole threshold test lives in the join condition,
    // ordered cheap-first by hand, and nothing is left to push: (1) the id
    // test drops half the pairs, (2) a raw-dot superset threshold with no
    // round() in it (Round allocates a BigDecimal per evaluation — measured
    // 5-10x slower when it led the pair loop) leaves only near-qualifiers,
    // (3) the exact rounded test runs on those few. The 1e-6 margin
    // strictly contains round-to-6dp's max displacement of 5e-7.
    val rawDot = expr("graft_dot(ea, eb)")
    val normProd = sqrt(col("na") * col("nb"))
    a.join(broadcast(b),
        col("vec_a") < col("vec_b") &&
        rawDot >= lit(threshold - 1e-6) * normProd &&
        round(rawDot / normProd, 6) >= threshold)
      .withColumn("cos", round(rawDot / normProd, 6))
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Bucketed embedding near-dup — the 100 TB path for `cosinePairs`: pairs
    * are compared only when they share a (band, code) bucket of a banded
    * random-hyperplane LSH (OR-of-ANDs construction, same shape as
    * MinHash-LSH banding: `bands` chances, each requiring `rowsPerBand`
    * matching sign bits). Candidates are then verified with the exact
    * codegen'd cosine, so precision is 1; recall is tunable via (r, b) —
    * the defaults give >= 0.97 at threshold ~0.42 on near-uniform 64-d
    * embeddings (measured in SimilaritySpec against `cosinePairs`).
    *
    * Scale shape: signature pass is one scan (288 dot products per vector,
    * map-only), bucket join shuffles on (band, code) — never all-pairs.
    * Pruning sharpens as the threshold rises: at cos >= 0.9 a (16, 8)
    * config prunes ~100x; at 0.42 the geometry only allows ~2-4x.
    */
  /** Hyperplane entries from exact integer arithmetic (Knuth multiply mod
    * 2^32, fold the halves with xor, scale to [-1, 1)) instead of seeded
    * gaussians: every op is BIGINT-exact and dyadic-rational, so the DuckDB
    * oracle REGENERATES the identical plane matrix from the same formula —
    * no 288×64 literal dump — and the xor fold breaks the linear structure
    * that would make pure-LCG planes shifted slices of one Weyl orbit.
    * Symmetric-about-zero entries are all sign-LSH needs; the recall floor
    * vs the exact twin is re-asserted in SimilaritySpec.
    */
  def lshPlanesArith(planes: Int, dims: Int): Seq[Seq[Double]] =
    Seq.tabulate(planes) { p =>
      Seq.tabulate(dims) { d =>
        val h = (p.toLong * dims + d) * 2654435761L % 4294967296L
        ((h ^ (h >> 16)) % 65536L).toDouble / 65536.0 * 2 - 1
      }
    }

  def cosinePairsLsh(embeddings: DataFrame, threshold: Double,
                     rowsPerBand: Int = 6, bands: Int = 48,
                     dims: Int = 64): DataFrame = {
    val planeVecs = lshPlanesArith(bands * rowsPerBand, dims)
    // The whole 288-dot signature pass is ONE codegen'd expression
    // (SignBandCodes) carrying the plane matrix as a codegen reference
    // object — a transform() lambda evaluates interpreted, and 288 inlined
    // per-plane dot trees blow past Janino's method limits (both measured
    // ~4-10x slower). The pass MUST also be materialized before the
    // self-join: Spark does not CSE across join branches, and without the
    // persist every candidate row would re-evaluate the plane projection
    // (the same trap DedupOps.shingleTable documents).
    val coded = graft.core.GraftCaches.acquire(
      withNorm(embeddings)
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("e"), col("nrm"),
          call_function("graft_band_codes", col("e"), typedlit(planeVecs),
            lit(rowsPerBand)).as("codes")))
    // candidate generation carries IDs only — the banded self-join and the
    // pair dedup shuffle 16-byte rows, never the embedding arrays
    val banded = coded.select(col("vec_id"),
      posexplode(col("codes")).as(Seq("band", "code")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.code") === col("b.code") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    // exact verification: vectors re-attached from the persisted coded
    // table (Catalyst broadcasts it while small; at corpus scale this is a
    // shuffle join on vec_id), cosine in codegen
    val vecs = coded.select(col("vec_id"), col("e"), col("nrm"))
    cand
      .join(vecs.as("va"), col("vec_a") === col("va.vec_id"))
      .join(vecs.as("vb"), col("vec_b") === col("vb.vec_id"))
      .withColumn("cos", round(expr("graft_dot(va.e, vb.e)") /
        sqrt(col("va.nrm") * col("vb.nrm")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The sign-LSH signature STORE schema: (vec_id, band, code) from an
    * embeddings frame — one codegen'd SignBandCodes pass per vector,
    * `bands` thin rows out. The embedding-side twin of
    * `DedupOps.minhashBandTable`: this is what a production pipeline
    * persists per corpus and APPENDS per drop so `cosinePairsLshIncremental`
    * probes old vectors' codes without ever re-projecting them.
    */
  def embBandTable(embeddings: DataFrame, rowsPerBand: Int = 6,
                   bands: Int = 48, dims: Int = 64): DataFrame = {
    val planeVecs = lshPlanesArith(bands * rowsPerBand, dims)
    withNorm(embeddings)
      .select(col("vec_id"),
        call_function("graft_band_codes", col("e"), typedlit(planeVecs),
          lit(rowsPerBand)).as("codes"))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("band", "code")))
  }

  /** The VECTOR store schema: (vec_id, e, nrm) — the double-cast vector and
    * its squared norm, the verify side of the incremental path. Persisted
    * once per drop so candidate verification is a point-lookup, never a
    * re-cast of the raw embeddings table.
    */
  def embVecTable(embeddings: DataFrame): DataFrame =
    withNorm(embeddings).select(col("vec_id"), col("e"), col("nrm"))

  /** Persist a drop's embedding signature store to the warehouse as
    * path-anchored BUCKETED tables — band codes on the band-join key
    * (band, code), double-cast vectors + norms on the verify key (vec_id).
    * The embedding twin of `DedupOps.appendSignatureStoreBucketed`, with
    * the same scale contract: each later increment's candidate join probes
    * the corpus-sized store exchange-free, and verification is a pruned
    * point-lookup of the vector store, never a re-read of the raw
    * embeddings. Both writes share one projection pass (the coded frame is
    * persisted for the duration); replayed drops are data no-ops via the
    * bucketed idempotent append. `buckets` only matters on the first drop
    * (the on-disk spec ledger wins thereafter).
    *
    * WRITE ORDER IS A CRASH CONTRACT (the embedding twin of
    * `DedupOps.appendSignatureStoreBucketed`'s): the vector store is the ingest
    * trim's existence key (`CorpusIngest.ingestEmbeddings` anti-joins
    * drops against it), so it is written LAST — the commit point. A crash
    * between the two writes leaves the vec's row absent from the vector
    * store, the retry re-admits it, and the band append no-ops the rows
    * already landed; vecs-first would strand a half-ingested vector.
    */
  /** The sign-LSH store's geometry identity (see DedupOps.minhashParams —
    * the same replay-no-op-requires-frozen-geometry argument, here over
    * the plane matrix, which is a pure function of (bands·rowsPerBand,
    * dims)).
    */
  def embLshParams(rowsPerBand: Int, bands: Int,
                   dims: Int): Seq[(String, String)] =
    Seq("rowsPerBand" -> rowsPerBand.toString, "bands" -> bands.toString,
      "dims" -> dims.toString)

  def appendEmbSignatureStoreBucketed(newEmb: DataFrame, bandPath: String,
                                      vecPath: String, buckets: Int,
                                      rowsPerBand: Int = 6, bands: Int = 48,
                                      dims: Int = 64): Unit = {
    graft.core.Sinks.checkAndStampParams(newEmb.sparkSession, bandPath,
      embLshParams(rowsPerBand, bands, dims))
    val planeVecs = lshPlanesArith(bands * rowsPerBand, dims)
    val coded = graft.core.GraftCaches.acquire(
      withNorm(newEmb).select(col("vec_id"), col("e"), col("nrm"),
        call_function("graft_band_codes", col("e"), typedlit(planeVecs),
          lit(rowsPerBand)).as("codes")))
    // idempotence keys include the bucket keys: code is a deterministic
    // function of (vec_id, band), so (band, code, vec_id) matches exactly
    // the (vec_id, band) rows — and the bucketed scan then satisfies the
    // existence anti-join's distribution, no store-side exchange per
    // append (the same equivalence DedupOps.appendSignatureStoreBucketed
    // documents)
    graft.core.Sinks.bucketedIdempotentAppend(
      coded.select(col("vec_id"),
        posexplode(col("codes")).as(Seq("band", "code"))), bandPath,
      keys = Seq("band", "code", "vec_id"), bucketKeys = Seq("band", "code"),
      buckets = buckets)
    graft.core.Sinks.bucketedIdempotentAppend(
      coded.select(col("vec_id"), col("e"), col("nrm")), vecPath,
      keys = Seq("vec_id"), bucketKeys = Seq("vec_id"), buckets = buckets)
  }

  /** INCREMENTAL embedding near-dup: pairs involving at least one NEW
    * vector — the production shape for a periodic embedding drop, and the
    * exact structural twin of `DedupOps.minhashLshIncremental` on the
    * embedding side. Sign-LSH codes are computed fresh ONLY for `newEmb`;
    * the corpus side arrives as the PERSISTED store — `storedBands`
    * (vec_id, band, code) and `storedVecs` (vec_id, e, nrm), written at
    * ingest by `appendEmbSignatureStoreBucketed` — so old vectors are never
    * re-projected through the plane matrix. Pairs touching a new vector
    * split EXACTLY into new-old ∪ new-new, so the corpus-sized store is
    * probed DIRECTLY: bucketed on (band, code) its side plans NO exchange
    * and only the increment shuffles (a union store ∪ fresh would erase the
    * scan's partitioning and re-shuffle the corpus per drop — the shape
    * this API exists to avoid). Old-old pairs are previous increments'
    * outputs and are deliberately not re-derived. Exact cosine verification
    * resolves each side's vector from the store OR the increment via
    * coalesced left joins (the two sources are disjoint by the store's key
    * contract) with arithmetic identical to `cosinePairsLsh`, so the two
    * paths can never drift.
    */
  /** The (band, code) buckets of a sign-LSH store holding more than `cap`
    * vectors — the embedding twin of `DedupOps.overflowingBuckets` (see
    * its scaling note: co-located aggregate off the bucketed scan, tiny
    * output, drop-with-ledger recall contract).
    */
  def overflowingCodeBuckets(storedBands: DataFrame, cap: Int): DataFrame =
    storedBands.groupBy(col("band"), col("code"))
      .agg(count(lit(1)).as("n_vecs"))
      .filter(col("n_vecs") > cap)

  /** `excludeBuckets`: hot (band, code) buckets the probe must skip —
    * anti-joined against the increment side only (the store scan keeps
    * its exchange-free shape); see DedupOps.minhashLshIncremental.
    * `saltHotBuckets` > 0 upgrades the skip to the recall-preserving
    * salted split — the hot buckets' candidates derive through
    * `Salting.saltedSkewJoin` with per-task fan-in bounded to
    * ~membership/salts, and the pair set equals the uncapped probe's
    * (same contract and trade-off notes as the text twin). The pairs come
    * back unordered, like the text twin's (DedupOps.verifyPairsSplit).
    */
  def cosinePairsLshIncremental(storedBands: DataFrame, storedVecs: DataFrame,
                                newEmb: DataFrame, threshold: Double,
                                rowsPerBand: Int = 6, bands: Int = 48,
                                dims: Int = 64,
                                excludeBuckets: Option[DataFrame] = None,
                                saltHotBuckets: Int = 0): DataFrame = {
    val planeVecs = lshPlanesArith(bands * rowsPerBand, dims)
    // persisted: the fresh codes feed the new-old probe AND the new-new
    // self-join, and Spark does not CSE across join branches
    val fresh = graft.core.GraftCaches.acquire(
      withNorm(newEmb)
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("e"), col("nrm"),
          call_function("graft_band_codes", col("e"), typedlit(planeVecs),
            lit(rowsPerBand)).as("codes")))
    val freshBandsAll = fresh.select(col("vec_id"),
      posexplode(col("codes")).as(Seq("band", "code")))
    val freshBands = excludeBuckets.fold(freshBandsAll)(hot =>
      freshBandsAll.join(broadcast(hot.select(col("band"), col("code"))),
        Seq("band", "code"), "left_anti"))
    // SHUFFLE_HASH with the increment as build side: the bucketed store
    // already satisfies the join's distribution off the scan, but a plain
    // join would then pick sort-merge and pay a full SORT of the
    // corpus-sized store per drop — the hash join streams the store
    // unsorted and hashes only the increment (bounded by admission
    // control). The SMJ sort of the store costs more than the exchange
    // bucketing removed; the hint removes both.
    val newOld = freshBands.hint("shuffle_hash").as("a").join(
        storedBands.select(col("vec_id"), col("band"), col("code")).as("b"),
        col("a.band") === col("b.band") && col("a.code") === col("b.code") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
              greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
    val newNew = freshBands.as("a").join(freshBands.as("b"),
        col("a.band") === col("b.band") && col("a.code") === col("b.code") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    // salted hot branch — the text twin's shape: store members arrive via
    // a broadcast semi against the tiny hot set (filtered scan, no
    // store-wide shuffle) and only screened-hot rows pay the salted
    // exchange
    val hotPairs = excludeBuckets.filter(_ => saltHotBuckets > 0).map { hot =>
      val hotSet = broadcast(hot.select(col("band"), col("code")))
      val hotFresh = graft.core.GraftCaches.acquire(
        freshBandsAll.join(hotSet, Seq("band", "code"), "left_semi"))
      val hotStore = storedBands.select(col("vec_id"), col("band"), col("code"))
        .join(hotSet, Seq("band", "code"), "left_semi")
      val hotNewOld = Salting.saltedSkewJoin(hotFresh, hotStore,
          Seq("band", "code"), col("vec_id"), saltHotBuckets,
          col("a.vec_id") =!= col("b.vec_id"))
        .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
                greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      val hotNewNew = Salting.saltedSkewJoin(hotFresh, hotFresh,
          Seq("band", "code"), col("vec_id"), saltHotBuckets,
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      hotNewOld.unionByName(hotNewNew)
    }
    val cand = hotPairs.foldLeft(newOld.unionByName(newNew))(_ unionByName _)
      .dropDuplicates("vec_a", "vec_b")
    // resolve each pair side's vector from the persisted store or the
    // increment — disjoint sources, so two left joins + coalesce keep the
    // corpus-sized vector store the probed side of plain equi-joins
    // (bucketed on vec_id it plans no exchange; only candidate rows move)
    val freshVecs = fresh.select(col("vec_id"), col("e"), col("nrm"))
    // same hash-probe shape for verification: candidates are
    // increment-bounded, so they build the hash table and the vector store
    // streams unsorted (an SMJ here would sort the store's 64-double
    // arrays once per resolve side)
    def resolve(df: DataFrame, pairCol: String, out: String): DataFrame =
      df.hint("shuffle_hash")
        .join(storedVecs.select(col("vec_id").as(pairCol),
          col("e").as(s"${out}_es"), col("nrm").as(s"${out}_ns")),
          Seq(pairCol), "left")
        .hint("shuffle_hash")
        .join(freshVecs.select(col("vec_id").as(pairCol),
          col("e").as(s"${out}_ef"), col("nrm").as(s"${out}_nf")),
          Seq(pairCol), "left")
        .withColumn(s"${out}_e", coalesce(col(s"${out}_es"), col(s"${out}_ef")))
        .withColumn(s"${out}_n", coalesce(col(s"${out}_ns"), col(s"${out}_nf")))
        .drop(s"${out}_es", s"${out}_ef", s"${out}_ns", s"${out}_nf")
    resolve(resolve(cand, "vec_a", "va"), "vec_b", "vb")
      .filter(col("va_e").isNotNull && col("vb_e").isNotNull)
      .withColumn("cos", round(expr("graft_dot(va_e, vb_e)") /
        sqrt(col("va_n") * col("vb_n")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Embedding near-dup clusters — the semantic twin of
    * `DedupOps.dedupClusters`: verified cosine pairs → connected components
    * → (vec_id, cluster_id, cluster_size), cluster_id = min vec_id of the
    * component. Vectors outside the pair graph are absent (implicit
    * singletons), so the output is proportional to the DUPLICATED subset.
    * Same alternating large-star/small-star contraction, O(log² n)
    * shuffle-bounded rounds.
    */
  def embDedupClusters(embeddings: DataFrame, threshold: Double,
                       maxRounds: Int = 50): DataFrame = {
    val pairs = cosinePairsLsh(embeddings, threshold)
    val lab = Components.connectedComponents(
      pairs.select(col("vec_a"), col("vec_b")), maxRounds)
    val sizes = lab.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, Seq("component"))
      .select(col("node").as("vec_id"), col("component").as("cluster_id"),
              col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  /** The embedding corpus with near-duplicates REMOVED (keep-the-minimum
    * policy) — `DedupOps.dropNearDuplicates` for the semantic modality:
    * every cosine-LSH cluster keeps only its canonical (minimum-id) vector;
    * vectors outside the pair graph pass through. The anti-join ships only
    * loser vec_ids — thin rows bounded by the duplicated subset, never the
    * embedding arrays.
    */
  def dropNearDuplicateVectors(embeddings: DataFrame,
                               threshold: Double): DataFrame = {
    val losers = embDedupClusters(embeddings, threshold)
      .filter(col("vec_id") =!= col("cluster_id"))
      .select(col("vec_id"))
    embeddings.join(losers, Seq("vec_id"), "left_anti")
  }

  /** IVF-bucketed embedding near-dup — the inverted-list twin of
    * `cosinePairsLsh`: every vector joins its nProbe nearest centroid
    * lists, a pair is a candidate iff the list sets intersect, and
    * candidates are verified with the exact codegen'd cosine (precision 1).
    * Multi-probing is what buys recall: with nProbe=3 the fixture measures
    * >= 0.9 of the exact pairs at threshold 0.42 (SimilaritySpec).
    * Candidate generation shuffles id pairs only; at corpus scale the
    * assigned table is written partitionBy(cid) so each list joins locally.
    *
    * 100 TB contract: `centroids` is a FIXED-k deterministic sample, so the
    * broadcast assignment side is O(k * dims) bytes and the assignment pass
    * O(n * k) compares regardless of corpus size (the round-2 `vec_id % 50`
    * rule grew the centroid set — and the broadcast — linearly with n).
    * Tune k toward sqrt(n / targetListSize) for a real corpus.
    */
  def cosinePairsIvf(embeddings: DataFrame, threshold: Double,
                     nProbe: Int = 4, numCentroids: Int = 16,
                     trainedCentroids: Option[DataFrame] = None): DataFrame = {
    val emb = graft.core.GraftCaches.acquire(
      probeSide(embeddings).select(col("vec_id"), col("e"), col("nrm")))
    // trained path: (cid, ce) from kmeansCentroids — data-shaped lists;
    // default path: the fixed-k deterministic sample (oracle-exact)
    val cents = trainedCentroids match {
      case Some(tc) => tc.select(col("cid"), col("ce"))
        .withColumn("cn", expr("graft_dot(ce, ce)"))
      case None => centroids(emb, numCentroids)
    }
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("ccos", round(expr("graft_dot(e, ce)") /
        sqrt(col("nrm") * col("cn")), 6))
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") <= nProbe)
      .select(col("vec_id"), col("cid"))
    val cand = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    cand
      .join(emb.as("va"), col("vec_a") === col("va.vec_id"))
      .join(emb.as("vb"), col("vec_b") === col("vb.vec_id"))
      .withColumn("cos", round(expr("graft_dot(va.e, vb.e)") /
        sqrt(col("va.nrm") * col("vb.nrm")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Brute-force cosine top-k: the exact baseline every ANN variant is
    * measured against. Query side is broadcast; the corpus streams once.
    */
  def cosineTopK(embeddings: DataFrame, isQuery: org.apache.spark.sql.Column,
                 k: Int): DataFrame = {
    val emb = probeSide(embeddings).select(col("vec_id"), col("e"), col("nrm"))
    val q = withNorm(embeddings).filter(isQuery)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(expr("graft_dot(qe, e)") /
        sqrt(col("qn") * col("nrm")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Random-hyperplane LSH top-k: `planes` seeded-random hyperplanes are
    * generated driver-side and embedded as literal arrays; each vector's
    * code is the sign pattern of its dot products with them (codegen'd).
    * Both sides of the candidate join compute the same code, so matching is
    * exact; ranking within a bucket is exact cosine.
    */
  /** Seed-deterministic uniform hyperplanes — one source of truth for
    * annLshTopK and its generated oracle SQL.
    */
  def lshPlanes(planes: Int, dims: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dims)(rng.nextDouble() * 2 - 1))
  }

  def annLshTopK(embeddings: DataFrame, planes: Int, k: Int,
                 dims: Int = 64, seed: Long = 42L): DataFrame = {
    val planeVecs = lshPlanes(planes, dims, seed)
    def addCode(df: DataFrame): DataFrame = {
      val withPlanes = planeVecs.zipWithIndex.foldLeft(df) {
        case (acc, (p, i)) => acc.withColumn(s"_pl$i", typedlit(p))
      }
      val code = (0 until planes).map(i =>
        when(expr(s"graft_dot(e, _pl$i)") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _)
      withPlanes.withColumn("code", code)
        .drop((0 until planes).map(i => s"_pl$i"): _*)
    }
    val coded = addCode(probeSide(embeddings))
    val q = coded.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("e").as("qe"),
              col("nrm").as("qn"), col("code").as("qcode"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    coded.join(broadcast(q),
        col("code") === col("qcode") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(expr("graft_dot(qe, e)") /
        sqrt(col("qn") * col("nrm")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF (inverted-file) ANN: deterministic "training-free" FIXED-k sampled
    * centroids (see `centroids` — constant-size broadcast at any corpus
    * scale), one broadcast assignment pass over the corpus, probe the
    * nProbe nearest inverted lists per query, exact cosine within them.
    */
  def annIvfTopK(embeddings: DataFrame, nProbe: Int, k: Int,
                 numCentroids: Int = 32): DataFrame = {
    val emb = probeSide(embeddings).select(col("vec_id"), col("e"), col("nrm"))
    val cents = centroids(
      withNorm(embeddings).select(col("vec_id"), col("e"), col("nrm")),
      numCentroids)
    // rounded: assignment/probe tie-breaks must not depend on last-ulp
    // differences between this dot/sqrt form and an oracle's norm product
    def centCos(qe: String, qn: String) =
      round(expr(s"graft_dot($qe, ce)") / sqrt(col(qn) * col("cn")), 6)
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("ccos", centCos("e", "nrm"))
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cid"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cid"))
    val probes = withNorm(embeddings).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", centCos("qe", "qn"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nProbe)
      .select(col("q_id"), col("qe"), col("qn"), col("cid"))
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(expr("graft_dot(qe, e)") /
        sqrt(col("qn") * col("nrm")), 6))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
}
