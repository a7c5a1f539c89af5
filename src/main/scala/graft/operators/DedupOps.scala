package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for a training-data pipeline: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash near-dup detection over `documents`.
  *
  * Scale design:
  * - The shingle table is computed ONCE and persisted (MEMORY_AND_DISK):
  *   every dedup variant self-joins its derivatives, and Spark does not CSE
  *   across join branches — without materialization the tokenize+shingle
  *   subtree (interpreted higher-order lambdas) runs 4-6× per query. At
  *   100 TB this is a real intermediate table, not a cache.
  * - Signatures (MinHash mins, SimHash bit sums) are computed as exploded
  *   rows + codegen'd hash/sum/min aggregates — NOT nested array lambdas,
  *   which fall off the codegen path and evaluate interpreted per element.
  * - All-pairs work only ever happens inside LSH buckets / shared-shingle
  *   groups, never across the corpus; candidate verification is exact.
  */
object DedupOps {

  /** 3-word shingle set of a document, after shared tokenization. */
  def withShingles(df: DataFrame): DataFrame =
    df.withColumn("w", TextOps.words(col("text")))
      .filter(size(col("w")) >= 3)
      .withColumn("sh", expr(
        """array_distinct(transform(sequence(0, size(w) - 3),
          |  i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2),
          |                 element_at(w, i + 3))))""".stripMargin))

  /** The materialized (doc_id, sh: array<string>) table — shared ancestor of
    * every near-dup pipeline. Identical logical plans share one cache entry
    * across queries in a session. Repartitioned by doc_id first: the corpus
    * arrives as one input split locally (one parquet row group), and the
    * tokenize+shingle lambdas plus the 64-way partial signature aggregates
    * would otherwise all run on a single task.
    *
    * The persist is graft-owned: callers release it after consuming results
    * via `GraftCaches.releaseAll(spark)` (Verify does this per query) so a
    * long-lived session doesn't accumulate storage memory.
    */
  def shingleTable(documents: DataFrame): DataFrame =
    graft.core.GraftCaches.acquire(
      withShingles(documents.repartition(col("doc_id")))
        .select(col("doc_id"), col("sh")),
      StorageLevel.MEMORY_AND_DISK)

  /** DuckDB twin of PortableHash.base: seed-17 fold of
    * (h * 31 + codepoint) mod 2^31-1 over the shingle's code points.
    * Expects the shingle bound as lambda variable `s`.
    */
  private val duckBaseHash =
    """list_reduce(list_prepend(CAST(17 AS BIGINT),
      |      list_transform(string_split(s, ''), ch -> CAST(unicode(ch) AS BIGINT))),
      |      (a, x) -> (a * 31 + x) % 2147483647)""".stripMargin

  /** DuckDB twin of PortableHash.mix: i-th universal-family hash of base
    * value `h` — (a_i * h + b_i) mod 2^31-1 with arithmetically derived
    * coefficients. `h` and `i` are SQL expressions spliced in.
    */
  private def duckMix(h: String, i: String): String =
    s"(((($i + 1) * 2654435761) % 2147483647) * $h" +
      s" + ((($i + 1) * 40503) % 2147483647)) % 2147483647"

  private def duckShinglesWhere(pred: String) =
    s"""SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |FROM (SELECT doc_id,
      |        list_filter(string_split_regex(lower(text), '\\s+'),
      |                    x -> len(x) > 0) AS w
      |      FROM documents WHERE $pred)
      |WHERE len(w) >= 3""".stripMargin

  private val duckShingles = duckShinglesWhere("TRUE")

  /** CTE chain recomputing the MinHash+LSH construction in DuckDB over
    * the `documents` rows matching `pred`, ending in
    * `v(doc_a, doc_b, inter, na, nb)` — verified candidate pairs with
    * exact intersection sizes. The predicate is how an oracle replays the
    * chain as of an EARLIER corpus state (pairs are pairwise, so the
    * chain over a doc subset equals the full chain minus pairs touching
    * the complement — exactly how the incremental pair table evolves).
    * The unrestricted `duckMinhashCtes` is shared by `dedup_minhash_lsh`
    * (pair listing) and `dedup_cluster` (connected components over the
    * same pairs) so the two oracles can never drift apart.
    */
  private[graft] def duckMinhashCtesWhere(pred: String) =
    s"""d2 AS (${duckShinglesWhere(pred)}),
       |hb AS (SELECT doc_id, sh, list_transform(sh, s -> $duckBaseHash) AS hb
       |       FROM d2),
       |mh AS (SELECT doc_id,
       |    list_transform(range(64), i ->
       |      list_min(list_transform(hb, h -> ${duckMix("h", "i")}))) AS mh
       |  FROM hb),
       |banded AS (
       |  SELECT doc_id, bb.band,
       |    list_reduce(
       |      list_prepend(CAST(17 AS BIGINT),
       |                   list_slice(mh, bb.band * 4 + 1, bb.band * 4 + 4)),
       |      (a, x) -> (a * 65599 + x) % 2147483647) AS code
       |  FROM mh CROSS JOIN (SELECT unnest(range(16)) AS band) bb),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.code = y.code AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, sh, len(sh) AS n FROM d2),
       |v AS (
       |  SELECT doc_a, doc_b, len(list_intersect(sa.sh, sb.sh)) AS inter,
       |         sa.n AS na, sb.n AS nb
       |  FROM cand
       |  JOIN sz sa ON sa.doc_id = doc_a
       |  JOIN sz sb ON sb.doc_id = doc_b)""".stripMargin

  private[graft] lazy val duckMinhashCtes = duckMinhashCtesWhere("TRUE")

  /** Exact pairwise Jaccard from intersection count and set sizes. */
  private def jaccard(inter: Column, sa: Column, sb: Column): Column =
    inter.cast("double") / (sa + sb - inter)

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the shingle table; keeps pairs with jac >= threshold.
    */
  private def verifyPairs(cand: DataFrame, sh: DataFrame,
                          threshold: Double): DataFrame =
    cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long"))
      .withColumn("jac", jaccard(col("inter"),
        size(col("sa.sh")).cast("long"), size(col("sb.sh")).cast("long")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
      .orderBy(col("doc_a"), col("doc_b"))

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: hash-groupBy on normalized content (the reference's
    // drop_duplicates contract, polygon-etl-container/src/reference_endpoints_etl.py:56,
    // restated README.md:20). One shuffle on the fingerprint.
    QueryDef.sqlBacked(
      "dedup_exact",
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY canonical_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))
          .cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("canonical_id"),
             count(lit(1)).as("n_copies"))
        .orderBy(col("canonical_id"))
    },

    // N-gram Jaccard near-dup over the full corpus: candidate pairs via
    // shared-shingle self-join with a document-frequency cap (default 1% of
    // the corpus, ceil'd) — the standard guard against the quadratic bucket
    // a corpus-frequent boilerplate shingle would otherwise create (a
    // shingle in f docs contributes f² candidate pairs; on a real crawl
    // "all rights reserved" dwarfs the corpus). Verification is EXACT over
    // the full uncapped shingle sets, so every reported pair's jaccard is
    // exact; pairs sharing only capped shingles are the declared (and
    // oracle-mirrored) recall trade. Non-vacuous at every fixture scale.
    QueryDef.sqlBacked(
      "dedup_ngram_jaccard",
      s"""WITH d2 AS ($duckShingles),
         |total AS (SELECT count(*) AS n FROM d2),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM d2),
         |df AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
         |exc AS (SELECT ex.doc_id, ex.s FROM ex JOIN df USING (s), total
         |        WHERE df.df <= (total.n + 99) // 100),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, sh, len(sh) AS n FROM d2),
         |v AS (SELECT doc_a, doc_b,
         |        len(list_intersect(sa.sh, sb.sh)) AS inter,
         |        sa.n AS na, sb.n AS nb
         |      FROM cand
         |      JOIN sz sa ON sa.doc_id = doc_a
         |      JOIN sz sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jac
         |FROM v
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      ngramJaccard(Tables.documents(s, d), threshold = 0.2)
    },

    // Benchmark decontamination — the eval-overlap gate every training-data
    // pipeline needs: a train document is flagged when it shares ANY word
    // 3-gram with the eval set (here doc_id % 100 = 0 stands in for the
    // benchmark suite). Scale shape: the eval shingle set is tiny next to
    // the corpus, so it BROADCASTS and the flagging is one map-side hash
    // join + partial count per train doc — the corpus is scanned once, no
    // corpus-sized shuffle of shingles.
    QueryDef.sqlBacked(
      "dedup_contamination",
      s"""WITH d2 AS ($duckShingles),
         |ev AS (SELECT DISTINCT unnest(sh) AS s FROM d2 WHERE doc_id % 100 = 0),
         |tr AS (SELECT doc_id, unnest(sh) AS s FROM d2 WHERE doc_id % 100 <> 0)
         |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM tr JOIN ev ON tr.s = ev.s
         |GROUP BY tr.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sh = shingleTable(Tables.documents(s, d))
      val ev = sh.filter(col("doc_id") % 100 === 0)
        .select(explode(col("sh")).as("s")).distinct()
      val tr = sh.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), explode(col("sh")).as("s"))
      tr.join(broadcast(ev), Seq("s"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"))
    },

    // MinHash + LSH near-dup over the FULL corpus — the scale path.
    // 64 minhashes, 16 bands × 4 rows, bucket self-join on (band, sig),
    // exact-Jaccard verification of candidates only. Oracle-exact since the
    // signatures moved to portable BIGINT arithmetic (PortableHash): the SQL
    // twin re-derives the per-shingle base hash from code points, the 64
    // universal-family minhashes, the 16 band fold codes, the candidate
    // join, and the exact-Jaccard verification — the whole construction is
    // recomputed end to end, no signature literals.
    QueryDef.sqlBacked(
      "dedup_minhash_lsh",
      s"""WITH $duckMinhashCtes
         |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jac
         |FROM v
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      minhashLsh(Tables.documents(s, d), threshold = 0.5)
    },

    // Dedup CLUSTERING — the stage after pair detection: connected
    // components over the MinHash-verified near-dup pairs (a~b, b~c → one
    // cluster {a,b,c}), so a keep-one-survivor policy drops transitive
    // duplicates, not just pairwise ones. Spark side runs the alternating
    // large-star/small-star algorithm (Components.scala — O(log² n)
    // shuffle-bounded rounds, no per-task component materialization); the
    // oracle recomputes the same pair set (shared CTE chain) and takes its
    // transitive closure with a recursive CTE — feasible for the oracle
    // because the sf-fixture graph is small; the closure is NOT the scale
    // path, the star algorithm is.
    QueryDef.sqlBacked(
      "dedup_cluster",
      s"""WITH RECURSIVE $duckMinhashCtes,
         |p AS (SELECT doc_a, doc_b FROM v
         |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(s, t) AS (
         |  SELECT s, t FROM edges
         |  UNION
         |  SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s),
         |lab AS (SELECT s AS doc_id, least(s, min(t)) AS cluster_id
         |        FROM reach GROUP BY s)
         |SELECT doc_id, cluster_id,
         |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM lab
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      dedupClusters(Tables.documents(s, d), threshold = 0.5)
    },

    // Dedup APPLIED: the surviving corpus under keep-the-minimum — every
    // cluster loses all members but its canonical doc; docs outside the
    // pair graph survive untouched. This is the step a pipeline actually
    // ships (the cluster listing is diagnostics). Losers join anti against
    // the corpus by doc_id — a thin-row hash join bounded by the
    // DUPLICATED subset.
    QueryDef.sqlBacked(
      "dedup_survivors",
      s"""WITH RECURSIVE $duckMinhashCtes,
         |p AS (SELECT doc_a, doc_b FROM v
         |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(s, t) AS (
         |  SELECT s, t FROM edges
         |  UNION
         |  SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s),
         |lab AS (SELECT s AS doc_id, least(s, min(t)) AS cluster_id
         |        FROM reach GROUP BY s)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d
         |WHERE d.doc_id NOT IN
         |  (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      dropNearDuplicates(Tables.documents(s, d), threshold = 0.5)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // INCREMENTAL dedup — a crawl drop (here: doc_id % 7 = 0 stands in for
    // the new batch) checked against the corpus SIGNATURE STORE: only the
    // increment's signatures are computed fresh, only pairs touching a new
    // document are derived; old-old pairs are previous increments' outputs.
    // The store is derived in-plan from the old docs here (a declared query
    // is a pure DataFrame); the round-trip through
    // appendSignatureStoreBucketed across two increments, with a plan assertion that the old corpus'
    // text files are never scanned — is locked in DedupSpec. The oracle
    // recomputes the full pair set (same shared CTEs) and keeps the pairs
    // with a new side — the increment path must agree with the full
    // recompute EXACTLY on that subset.
    QueryDef.sqlBacked(
      "dedup_incremental",
      s"""WITH $duckMinhashCtes
         |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jac
         |FROM v
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
         |  AND (doc_a % 7 = 0 OR doc_b % 7 = 0)
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val oldSh = shingleTable(docs.filter(col("doc_id") % 7 =!= 0))
      minhashLshIncremental(minhashBandTable(oldSh), oldSh,
        docs.filter(col("doc_id") % 7 === 0), threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // CAPPED incremental dedup — the production skew guard as a declared,
    // oracle-locked contract: the same drop-shaped probe with hot store
    // buckets (> cap OLD docs per (band, sig)) excluded from the
    // increment's candidate generation, the device that keeps one
    // boilerplate flood from serializing every later drop on a single
    // task (the bucketed store join opts out of AQE skew splitting). The
    // recall trade is EXACTLY specified, not heuristic: a pair survives
    // iff some shared band bucket is cold, and the oracle recomputes the
    // very same bucket counts from the shared banded CTE — bit-identical
    // sig arithmetic, exact integer cap compare. cap = 1 is deliberately
    // adversarial so the fixtures exercise BOTH sides of the cut at every
    // SF: a new doc probing an exact-dup GROUP (all its band buckets hold
    // the whole group, > 1 old member) loses those pairs, while pairs
    // whose old side is a loner (every shared bucket holds 1 old doc)
    // survive untouched. Production caps are orders of magnitude higher —
    // the contract, not the constant, is what this locks.
    QueryDef.sqlBacked(
      "dedup_incremental_capped",
      s"""WITH $duckMinhashCtes,
         |oldb AS (SELECT band, code, count(*) AS n FROM banded
         |         WHERE doc_id % 7 <> 0 GROUP BY 1, 2),
         |hot AS (SELECT band, code FROM oldb WHERE n > 1),
         |keptband AS (
         |  SELECT bn.doc_id, bn.band, bn.code FROM banded bn
         |  WHERE bn.doc_id % 7 = 0
         |    AND NOT EXISTS (SELECT 1 FROM hot h
         |                    WHERE h.band = bn.band AND h.code = bn.code)),
         |cand2 AS (
         |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
         |         greatest(x.doc_id, y.doc_id) AS doc_b
         |  FROM keptband x
         |  JOIN (SELECT doc_id, band, code FROM banded WHERE doc_id % 7 <> 0
         |        UNION ALL SELECT doc_id, band, code FROM keptband) y
         |    ON x.band = y.band AND x.code = y.code AND x.doc_id <> y.doc_id),
         |vc AS (
         |  SELECT doc_a, doc_b, len(list_intersect(sa.sh, sb.sh)) AS inter,
         |         sa.n AS na, sb.n AS nb
         |  FROM cand2
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jac
         |FROM vc
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val oldSh = shingleTable(docs.filter(col("doc_id") % 7 =!= 0))
      // persisted: in this declared query the "store" is derived in-plan,
      // and it feeds the overflow scan AND the probe joins — without the
      // cache the old corpus would be re-signed per consumer (production
      // reads the store off its bucketed parquet, where re-scans are the
      // cheap path and the overflow aggregate is exchange-free)
      val storedBands = graft.core.GraftCaches.acquire(minhashBandTable(oldSh))
      minhashLshIncremental(storedBands, oldSh,
        docs.filter(col("doc_id") % 7 === 0), threshold = 0.5,
        excludeBuckets = Some(overflowingBuckets(storedBands, cap = 1)))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // SALTED incremental dedup — the skew guard's recall-preserving form:
    // the same hot-bucket screen (cap = 1, adversarially low so every
    // fixture exercises it), but hot buckets route through the SALTED
    // branch instead of being dropped — store members of a flooded
    // (band, sig) bucket spread over deterministic sub-keys, the hot
    // increment rows replicate across them, and no task ever holds the
    // whole bucket. The contract this locks is the strongest one
    // available: the pair set EQUALS the uncapped probe's, so the oracle
    // is dedup_incremental's oracle verbatim — skew mitigation with zero
    // recall trade (the capped query keeps the drop-with-ledger trade for
    // degenerate boilerplate; this is the path for hot-but-legitimate
    // buckets).
    QueryDef.sqlBacked(
      "dedup_incremental_salted",
      s"""WITH $duckMinhashCtes
         |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jac
         |FROM v
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
         |  AND (doc_a % 7 = 0 OR doc_b % 7 = 0)
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val oldSh = shingleTable(docs.filter(col("doc_id") % 7 =!= 0))
      val storedBands = graft.core.GraftCaches.acquire(minhashBandTable(oldSh))
      minhashLshIncremental(storedBands, oldSh,
        docs.filter(col("doc_id") % 7 === 0), threshold = 0.5,
        excludeBuckets = Some(overflowingBuckets(storedBands, cap = 1)),
        saltHotBuckets = 4)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // CONTAINMENT near-dup: asymmetric overlap |A∩B|/|A| (and /|B|) over
    // the same LSH candidate set and exact shingle verify as the Jaccard
    // family — the quote-inclusion detector: a short document pasted
    // inside a long one scores containment ~1 while its Jaccard stays low.
    // Shares duckMinhashCtes, so candidates cannot drift from
    // dedup_minhash_lsh's. Exactness: both containments divide the same
    // exact integers (inter/na, inter/nb) — identical IEEE ops, bit-equal.
    QueryDef.sqlBacked(
      "dedup_containment",
      s"""WITH $duckMinhashCtes
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / na AS cont_a,
         |  CAST(inter AS DOUBLE) / nb AS cont_b
         |FROM v
         |WHERE greatest(CAST(inter AS DOUBLE) / na,
         |               CAST(inter AS DOUBLE) / nb) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      containmentPairs(Tables.documents(s, d), threshold = 0.5)
    },

    // SimHash near-dup: 64-bit signature from per-shingle parity votes,
    // banded into 4 16-bit chunks (guarantees detection at hamming ≤ 3).
    // Oracle-exact via the same portable arithmetic: the SQL twin recomputes
    // the 64 vote sums, packs the chunk codes, joins candidates, and counts
    // exact hamming distance from the recomputed bits.
    QueryDef.sqlBacked(
      "dedup_simhash",
      s"""WITH d2 AS ($duckShingles),
         |hb AS (SELECT doc_id, list_transform(sh, s -> $duckBaseHash) AS hb
         |       FROM d2),
         |ex AS (SELECT doc_id, unnest(hb) AS h FROM hb),
         |votes AS (
         |  SELECT doc_id, jj.j,
         |    sum(CASE WHEN (${duckMix("h", "jj.j")}) % 2 = 1
         |             THEN 1 ELSE -1 END) AS v
         |  FROM ex CROSS JOIN (SELECT unnest(range(64)) AS j) jj
         |  GROUP BY 1, 2),
         |bits AS (SELECT doc_id, j, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit
         |         FROM votes),
         |chunks AS (
         |  SELECT doc_id, j // 16 AS ci,
         |    sum(bit * (1 << CAST(j % 16 AS INT))) AS chunk
         |  FROM bits GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM chunks x JOIN chunks y
         |    ON x.ci = y.ci AND x.chunk = y.chunk AND x.doc_id < y.doc_id),
         |ham AS (
         |  SELECT doc_a, doc_b,
         |    CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS BIGINT)
         |      AS hamming
         |  FROM cand
         |  JOIN bits ba ON ba.doc_id = doc_a
         |  JOIN bits bb ON bb.doc_id = doc_b AND bb.j = ba.j
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, hamming FROM ham
         |WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      simhash(Tables.documents(s, d), maxHamming = 3)
    },

    // FUZZY KEY MATCHING — entity-resolution's core join: word pairs at
    // edit distance 1 over the corpus vocabulary, found by
    // DELETION-NEIGHBORHOOD blocking (SymSpell): two strings within one
    // edit share a single-deletion variant (substitution → both delete
    // that position; ins/del → the longer's deletion is the shorter
    // itself), so blocking on {word} ∪ {1-deletions} finds every
    // qualifying pair with a bucket join — never the O(V²) levenshtein
    // cross join. Exact-distance verification keeps precision 1. The
    // fixture's 31-word vocabulary has no natural typo pairs, so the
    // query plants a deterministic second-char-deleted variant per long
    // word (the PII-planting device) — both engines derive the same set.
    QueryDef.sqlBacked(
      "dedup_fuzzy_typos",
      """WITH w0 AS (SELECT DISTINCT
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> len(x) > 0)) AS w
        |  FROM documents),
        |pl AS (SELECT substr(w, 1, 1) || substr(w, 3) AS w FROM w0
        |       WHERE len(w) >= 5),
        |vocab AS (SELECT DISTINCT w FROM
        |          (SELECT w FROM w0 UNION ALL SELECT w FROM pl)),
        |keyed AS (SELECT w, unnest(list_distinct(list_prepend(w,
        |            list_transform(range(1, len(w) + 1),
        |              i -> substr(w, 1, i - 1) || substr(w, i + 1))))) AS k
        |          FROM vocab),
        |cand AS (SELECT DISTINCT a.w AS word_a, b.w AS word_b
        |         FROM keyed a JOIN keyed b ON a.k = b.k AND a.w < b.w)
        |SELECT word_a, word_b,
        |       CAST(levenshtein(word_a, word_b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(word_a, word_b) = 1
        |ORDER BY word_a, word_b""".stripMargin) { (s, d) =>
      val w0 = Tables.documents(s, d)
        .select(explode(TextOps.words(col("text"))).as("w")).distinct()
      val planted = w0.filter(length(col("w")) >= 5)
        .select(concat(substring(col("w"), 1, 1),
          expr("substr(w, 3)")).as("w"))
      fuzzyPairs(w0.unionByName(planted).distinct(), maxDist = 1)
    },

    // Embedding-cosine near-dup, EXACT SMALL-SCALE ORACLE TWIN: brute-force
    // all pairs above a cosine threshold, used to pin the oracle hash and
    // to measure dedup_embedding_lsh's recall. At 100 TB a user calls the
    // bucketed variant below; this one is the ground truth it is scored
    // against.
    QueryDef.sqlBacked(
      "dedup_embedding_cosine",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
        |  FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.ed, b.ed), 6) AS cos
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(a.ed, b.ed), 6) >= 0.42
        |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      SimilarityOps.cosinePairs(Tables.embeddings(s, d), threshold = 0.42)
    },

    // Embedding near-dup, bucketed — the declared 100 TB entry point:
    // banded hyperplane-LSH candidates, exact-cosine verification
    // (precision 1); recall >= 0.9 vs dedup_embedding_cosine asserted in
    // SimilaritySpec. Oracle-exact since the planes moved to exact integer
    // arithmetic (SimilarityOps.lshPlanesArith): the SQL twin REGENERATES
    // the identical 288x64 plane matrix from the same formula, refolds the
    // 48 band codes with the same bit order, and re-verifies candidates —
    // no plane literals, the whole construction is recomputed end to end.
    QueryDef.sqlBacked(
      "dedup_embedding_lsh",
      s"""WITH $duckEmbLshCtes
        |SELECT vec_a, vec_b, cos FROM v WHERE cos >= 0.42
        |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      SimilarityOps.cosinePairsLsh(Tables.embeddings(s, d), threshold = 0.42)
    },

    // Embedding near-dup, IVF-bucketed — the inverted-list twin of the LSH
    // variant (multi-probe centroid lists, exact verification, precision
    // 1); recall vs the exact twin asserted in SimilaritySpec. Fully
    // oracle-expressible since the round-3 fixed-k deterministic centroids:
    // the SQL twin recomputes centroid selection, multi-probe assignment
    // (same 6-dp tie-breaks), candidate pairing, and exact verification.
    QueryDef.sqlBacked(
      "dedup_embedding_ivf",
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, ed AS ce FROM e
        |      ORDER BY ${SimilarityOps.centroidOrderSql} LIMIT 16),
        |assigned AS (
        |  SELECT e.vec_id, c.cid
        |  FROM e CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.ed, c.ce), 6) DESC, c.cid)
        |    <= 4),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM assigned a JOIN assigned b
        |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |v AS (
        |  SELECT cand.vec_a, cand.vec_b,
        |         round(list_cosine_similarity(ea.ed, eb.ed), 6) AS cos
        |  FROM cand
        |  JOIN e ea ON cand.vec_a = ea.vec_id
        |  JOIN e eb ON cand.vec_b = eb.vec_id)
        |SELECT vec_a, vec_b, cos FROM v WHERE cos >= 0.42
        |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      SimilarityOps.cosinePairsIvf(Tables.embeddings(s, d), threshold = 0.42)
    },

    // INCREMENTAL embedding dedup — an embedding drop (vec_id % 7 = 0
    // stands in for the new batch) checked against the persisted sign-LSH
    // SIGNATURE STORE: codes are computed fresh only for the increment,
    // only pairs touching a new vector are derived; old-old pairs are
    // previous increments' outputs. The store is derived in-plan from the
    // old vectors here (a declared query is a pure DataFrame); the
    // bucketed-Parquet round-trip with its zero-store-side-exchange plan is
    // locked in SimilaritySpec. The oracle recomputes the FULL LSH pair set
    // (same plane-regenerating CTEs as dedup_embedding_lsh) and keeps the
    // pairs with a new side — the increment path must agree with the full
    // recompute EXACTLY on that subset.
    QueryDef.sqlBacked(
      "dedup_embedding_incremental",
      s"""WITH $duckEmbLshCtes
        |SELECT vec_a, vec_b, cos FROM v
        |WHERE cos >= 0.42 AND (vec_a % 7 = 0 OR vec_b % 7 = 0)
        |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val isNew = col("vec_id") % 7 === 0
      val old = emb.filter(!isNew)
      SimilarityOps.cosinePairsLshIncremental(
        SimilarityOps.embBandTable(old),
        SimilarityOps.embVecTable(old),
        emb.filter(isNew), threshold = 0.42)
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // Embedding dedup APPLIED — the semantic modality's `dedup_survivors`:
    // cosine-LSH verified pairs → connected components → keep-the-minimum
    // canonical per cluster; vectors outside the pair graph survive
    // untouched. The oracle reuses the SAME LSH CTE chain (candidates and
    // verification cannot drift from dedup_embedding_lsh's) and closes the
    // pair graph with the recursive-CTE reachability used by
    // dedup_survivors — the Spark side is large-star/small-star over the
    // identical pair set, so the loser sets must agree exactly.
    QueryDef.sqlBacked(
      "dedup_embedding_survivors",
      s"""WITH RECURSIVE $duckEmbLshCtes,
        |p AS (SELECT vec_a, vec_b FROM v WHERE cos >= 0.42),
        |edges AS (SELECT vec_a AS s, vec_b AS t FROM p
        |          UNION SELECT vec_b, vec_a FROM p),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s),
        |lab AS (SELECT s AS vec_id, least(s, min(t)) AS cluster_id
        |        FROM reach GROUP BY s)
        |SELECT em.vec_id FROM embeddings em
        |WHERE em.vec_id NOT IN
        |  (SELECT vec_id FROM lab WHERE vec_id <> cluster_id)
        |ORDER BY em.vec_id""".stripMargin) { (s, d) =>
      SimilarityOps.dropNearDuplicateVectors(
        Tables.embeddings(s, d), threshold = 0.42)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }
  )

  /** Shared DuckDB CTE chain for the sign-LSH embedding family: regenerate
    * the 288×64 plane matrix from the exact integer formula
    * (SimilarityOps.lshPlanesArith), fold the 48 six-bit band codes with
    * the same bit order, join banded candidates, verify with rounded exact
    * cosine. `v` is (vec_a, vec_b, cos) UNTHRESHOLDED — each query applies
    * its own cut — so the three queries built on it can never drift in
    * candidate generation or verification arithmetic.
    */
  private[graft] lazy val duckEmbLshCtes: String =
    """e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      |  FROM embeddings),
      |pl AS (SELECT p,
      |    list_transform(range(64), d ->
      |      (xor((p * 64 + d) * 2654435761 % 4294967296,
      |           ((p * 64 + d) * 2654435761 % 4294967296) // 65536)
      |       % 65536) / 65536.0 * 2 - 1) AS plane
      |  FROM (SELECT unnest(range(288)) AS p)),
      |codes AS (
      |  SELECT e.vec_id, p // 6 AS band,
      |    CAST(sum(CASE WHEN list_dot_product(e.ed, pl.plane) > 0
      |                  THEN 1 << CAST(p % 6 AS INT) ELSE 0 END) AS BIGINT)
      |      AS code
      |  FROM e CROSS JOIN pl GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM codes a JOIN codes b
      |    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id),
      |v AS (SELECT vec_a, vec_b,
      |        round(list_cosine_similarity(ea.ed, eb.ed), 6) AS cos
      |      FROM cand
      |      JOIN e ea ON vec_a = ea.vec_id
      |      JOIN e eb ON vec_b = eb.vec_id)""".stripMargin

  /** ceil(totalDocs * dfCapPct / 100), exact for every percentage (not just
    * divisors of 100 — dfCapPct=3 on 1000 docs is 30, not 31).
    */
  private[graft] def dfCap(totalDocs: Long, dfCapPct: Int): Long =
    (totalDocs * dfCapPct + 99L) / 100L

  /** Over-cap shingle blacklist: shingles in more than `cap` documents.
    * A groupBy count — map-side partial aggregation collapses a
    * corpus-frequent shingle ("all rights reserved", f ~ 10^8 on a crawl)
    * to one row per input partition BEFORE any shuffle, so no single task
    * ever materializes a frequent shingle's occurrence list. The result is
    * tiny by construction (shingles in > dfCapPct% of a corpus are few),
    * so callers broadcast it.
    */
  private def overCapShingles(ex: DataFrame, cap: Long): DataFrame =
    ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(col("s"))

  /** Shared-shingle candidate pairs with a document-frequency cap: shingles
    * appearing in more than ceil(dfCapPct% of docs) documents are excluded
    * from candidate GENERATION via a broadcast anti join against the
    * blacklist. Returns (doc_a, doc_b, inter_capped) where inter_capped is
    * the EXACT count of shared under-cap shingles (shingle arrays are
    * distinct sets, so each shared shingle emits exactly one join row per
    * pair) — the aggregation replaces a dropDuplicates at the same shuffle
    * cost and hands verification its intersection size for free.
    * Package-visible for the DedupSpec linearity assertion.
    */
  private[graft] def ngramCandidates(sh: DataFrame,
                                     dfCapPct: Int): DataFrame = {
    // tiny driver-side scalar (count of the already-persisted shingle
    // table), same pattern as Sinks' scalar max — NOT a per-row collect
    val totalDocs = sh.count()
    val cap = dfCap(totalDocs, dfCapPct)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    candidatesFrom(ex, overCapShingles(ex, cap))
  }

  /** Candidate generation given the exploded shingle table and an over-cap
    * blacklist: anti-join the blacklist out, self-join on the surviving
    * shingles, count shared shingles per pair.
    */
  private def candidatesFrom(ex: DataFrame, over: DataFrame): DataFrame = {
    val exc = ex.join(broadcast(over), Seq("s"), "left_anti")
    exc.as("a").join(exc.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_capped"))
  }

  /** Exact n-gram Jaccard near-dup with df-capped candidate generation;
    * returns (doc_a, doc_b, jac) with jac exact over the FULL uncapped
    * shingle sets. Verification never ships or intersects the full arrays:
    * |A ∩ B| = (shared under-cap shingles — the candidate join's own count)
    * + |blacklisted slice of A ∩ blacklisted slice of B|, where the
    * per-doc blacklisted slices are bounded by the (tiny) blacklist. The
    * candidate pairs therefore join only against narrow per-doc metadata
    * (set size + blacklisted slice), not the corpus-sized shingle arrays —
    * at crawl scale that metadata join is a shuffle of thin rows, and
    * locally it broadcasts.
    */
  def ngramJaccard(documents: DataFrame, threshold: Double,
                   dfCapPct: Int = 1): DataFrame = {
    val sh = shingleTable(documents)
    val totalDocs = sh.count()
    val cap = dfCap(totalDocs, dfCapPct)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    // The blacklist feeds BOTH the candidate anti-join and the per-doc
    // blacklisted slices, and Spark does not CSE across branches — persist
    // it (tiny by construction) so the corpus-wide df aggregate runs once.
    val over = graft.core.GraftCaches.acquire(
      overCapShingles(ex, cap), StorageLevel.MEMORY_AND_DISK)
    // each doc's own blacklisted shingles (absent → no over-cap shingles)
    val blPerDoc = ex.join(broadcast(over), Seq("s"))
      .groupBy(col("doc_id")).agg(collect_list(col("s")).as("blsh"))
    val meta = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
      .join(blPerDoc, Seq("doc_id"), "left")
    val cand = candidatesFrom(ex, over)
    val blInter = when(col("ma.blsh").isNull || col("mb.blsh").isNull, lit(0L))
      .otherwise(size(array_intersect(col("ma.blsh"), col("mb.blsh"))).cast("long"))
    cand
      .join(meta.as("ma"), col("doc_a") === col("ma.doc_id"))
      .join(meta.as("mb"), col("doc_b") === col("mb.doc_id"))
      .withColumn("inter", col("inter_capped") + blInter)
      .withColumn("jac", jaccard(col("inter"), col("ma.n"), col("mb.n")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash-LSH candidate generation + exact verification. Returns
    * (doc_a, doc_b, jac) for pairs with Jaccard >= threshold.
    *
    * Signature: minhash_i(doc) = min over shingles of
    * PortableHash.mix(base(shingle), i), folded by the codegen'd MinHashSig
    * expression in one map-only pass over each document's own shingle
    * array — no explode, no 64-column aggregate shuffle. Band codes fold
    * the band's rows with the same bounded modular arithmetic, so bucket
    * assignment is oracle-recomputable (the interpreted `aggregate` HOF
    * touches only `bands` slices of `rowsPerBand` longs per doc — noise
    * next to the signature pass).
    */
  def minhashLsh(documents: DataFrame, threshold: Double,
                 numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val sh = shingleTable(documents)
    verifyPairs(minhashCandidates(sh, numHashes, bands), sh, threshold)
  }

  /** LSH candidate (doc_a < doc_b) pairs from the banded signature self-
    * join — the id-only shuffle shared by the Jaccard and containment
    * verifiers.
    */
  private def minhashCandidates(sh: DataFrame, numHashes: Int,
                                bands: Int): DataFrame = {
    val banded = minhashBandTable(sh, numHashes, bands)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Asymmetric containment over the LSH candidate set — see the
    * dedup_containment QueryDef. Recall caveat, by design: the banding is
    * Jaccard-tuned, so a TINY document swallowed by a huge one (containment
    * 1, Jaccard → 0) rarely shares a band; a containment-first screen at
    * scale lowers `numHashes / bands` (more, narrower bands) to push band
    * match probability toward the containment rather than the Jaccard —
    * the knobs are exposed for exactly that.
    */
  def containmentPairs(documents: DataFrame, threshold: Double,
                       numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val sh = shingleTable(documents)
    minhashCandidates(sh, numHashes, bands)
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long"))
      .withColumn("cont_a",
        col("inter").cast("double") / size(col("sa.sh")))
      .withColumn("cont_b",
        col("inter").cast("double") / size(col("sb.sh")))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The LSH signature STORE: (doc_id, band, sig) from a (doc_id, sh)
    * shingle table — one map-only codegen'd MinHashSig fold per document,
    * `bands` thin rows out. This is the table a production pipeline
    * persists per corpus and APPENDS per increment; `minhashLshIncremental`
    * joins new documents against it without touching old text.
    */
  def minhashBandTable(sh: DataFrame, numHashes: Int = 64,
                       bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    graft.functions.SketchFunctions.register(sh.sparkSession)
    val sig = sh.select(col("doc_id"),
      expr(s"graft_minhash(sh, $numHashes)").as("mh"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        expr(s"aggregate(slice(mh, ${b * rowsPerBand + 1}, $rowsPerBand), " +
          "17L, (acc, x) -> (acc * 65599L + x) % 2147483647L)").as("sig"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** The band store's geometry identity — what `Sinks.checkAndStampParams`
    * stamps on the store and refuses drift against: the (doc_id, band)
    * replay no-op is only sound while sig stays a stable function of the
    * document, i.e. while the hash geometry is frozen.
    */
  def minhashParams(numHashes: Int, bands: Int): Seq[(String, String)] =
    Seq("numHashes" -> numHashes.toString, "bands" -> bands.toString)

  /** Persist a corpus drop's MinHash signature STORE to the warehouse — the
    * once-per-document signing pass a production dedup pipeline pays at
    * ingest so later increments never re-read old text (the reference's
    * incremental-scan-don't-refetch protocol,
    * old_source/old_source_op.py:129-176, applied to dedup state). Both
    * tables are path-anchored BUCKETED stores — bands on the band-join key
    * (band, sig), shingles on the verify key (doc_id) — which is what
    * makes `minhashLshIncremental`'s store sides exchange-free: each drop
    * pays one increment-sized shuffle per join instead of re-shuffling the
    * corpus-sized store (the per-symbol-table layout of the reference,
    * v2022/etl-containers/aggregates/src/aggregates_etl.py:169-177,
    * engine-native). Both writes are keyed bucketed idempotent appends, so
    * a replayed drop is a no-op, and they share one tokenize+shingle pass.
    * The bucket count is fixed at store creation (Sinks' spec ledger);
    * `buckets` only matters on the first drop.
    *
    * WRITE ORDER IS A CRASH CONTRACT: the shingle table is the ingest
    * trim's existence key (CorpusIngest.run anti-joins drops against it),
    * so it must be the LAST table written — the commit point. Bands-first
    * means a crash between the two writes leaves a doc the retry still
    * re-lands (its shingle row is absent, so the trim re-admits it and
    * every per-table keyed append no-ops the rows that already landed).
    * Shingles-first would leave the doc permanently half-ingested: the
    * trim skips it forever while its band rows never arrive.
    */
  def appendSignatureStoreBucketed(newDocs: DataFrame, bandPath: String,
                                   shinglePath: String, buckets: Int,
                                   numHashes: Int = 64,
                                   bands: Int = 16): Unit = {
    // geometry ledger BEFORE any write: an append under drifted
    // numHashes/bands would land conflicting (band, sig) rows the
    // (band, sig, doc_id) no-op keys cannot catch
    graft.core.Sinks.checkAndStampParams(newDocs.sparkSession, bandPath,
      minhashParams(numHashes, bands))
    val sh = shingleTable(newDocs)
    // bands first, shingles LAST — the commit point (crash contract above).
    // The band append's idempotence keys carry the BUCKET keys too: sig is
    // a deterministic function of (doc_id, band), so matching on
    // (band, sig, doc_id) is equivalent to (doc_id, band) — and because
    // the key set now contains the bucket keys as a subset, the bucketed
    // scan satisfies the existence anti-join's distribution and the
    // corpus-sized store side plans NO exchange per append (keys (doc_id,
    // band) alone re-shuffled the whole store every drop).
    graft.core.Sinks.bucketedIdempotentAppend(
      minhashBandTable(sh, numHashes, bands), bandPath,
      keys = Seq("band", "sig", "doc_id"), bucketKeys = Seq("band", "sig"),
      buckets = buckets)
    graft.core.Sinks.bucketedIdempotentAppend(sh, shinglePath,
      keys = Seq("doc_id"), bucketKeys = Seq("doc_id"), buckets = buckets)
  }

  /** INCREMENTAL near-dup: pairs involving at least one NEW document — the
    * production shape for a periodic crawl drop. Signatures are computed
    * fresh ONLY for `newDocs`; the corpus side arrives as the PERSISTED
    * signature store — `storedBands` (doc_id, band, sig) and
    * `storedShingles` (doc_id, sh), written at ingest by
    * appendSignatureStoreBucketed — so old documents' text is never re-read, let
    * alone re-shingled. The bucket join is increment-sized × bucket hit
    * rate, never corpus × corpus (new-new pairs come from the fresh side
    * unioned into the store; old-old pairs cannot appear because the left
    * side is increment-only — they are the PREVIOUS increments' outputs
    * and are deliberately not re-derived). Exact verification joins
    * candidates against the stored shingle sets by doc_id — at 100 TB a
    * pruned point-lookup of the shingle store, not a text pass.
    */
  /** The (band, sig) buckets of a signature store holding more than `cap`
    * members — the HOT-BUCKET screen for the incremental probe. The
    * bucketed store join that makes drops exchange-free also opts out of
    * AQE skew splitting (the store side never re-shuffles), so one
    * boilerplate flood concentrating in a bucket would concentrate every
    * later drop's candidate join on one task. This aggregate reads two
    * int columns off the (band, sig)-bucketed scan — partial aggregation
    * collapses per bucket file with NO exchange — and the result is tiny
    * (only overflowing buckets). Same device as the stopword df-cap:
    * drop-with-ledger, documented recall contract (pairs witnessed ONLY
    * by a hot bucket are not probed; a bucket that hot is boilerplate
    * with quadratic pair volume nobody wants as near-dup "evidence").
    */
  def overflowingBuckets(storedBands: DataFrame, cap: Int): DataFrame =
    storedBands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > cap)

  /** `excludeBuckets`: hot (band, sig) buckets (overflowingBuckets output)
    * the probe must skip — broadcast-anti-joined against the INCREMENT
    * side only, so the store scan keeps its exchange-free shape. Skipping
    * on the fresh side suppresses both new-old and new-new candidates of
    * the bucket (the bucket is degenerate; its members pair with
    * everything in it).
    *
    * `saltHotBuckets` > 0 upgrades the skip to a RECALL-PRESERVING split:
    * cold buckets keep the exchange-free bucketed probe below, and the
    * hot buckets' candidates derive through a separate SALTED branch
    * (Salting.saltedSkewJoin) — store members of a hot bucket spread over
    * `saltHotBuckets` deterministic sub-keys, the hot increment rows
    * replicate across them, and no task ever holds a whole flooded
    * bucket. The hot branch shuffles only rows already screened hot
    * (bounded by the overflow scan's membership), so the store's
    * zero-exchange contract still holds for everything cold; the pair
    * set is EXACTLY the uncapped probe's (the salted query's oracle is
    * the plain incremental oracle). Cost note: the hot branch reads the
    * store a SECOND time per drop (a three-int-column scan filtered by
    * the broadcast hot set — bounded, but not free at warehouse scale),
    * and the hot buckets' quadratic candidate volume flows into
    * verification. Skip mode (salt = 0) therefore remains the right
    * device for degenerate boilerplate whose pair volume nobody wants
    * derived at all — salt mode is for hot-but-legitimate buckets where
    * recall must survive the skew guard.
    */
  def minhashLshIncremental(storedBands: DataFrame, storedShingles: DataFrame,
                            newDocs: DataFrame, threshold: Double,
                            numHashes: Int = 64, bands: Int = 16,
                            excludeBuckets: Option[DataFrame] = None,
                            saltHotBuckets: Int = 0): DataFrame = {
    val freshSh = shingleTable(newDocs)
    // persisted: the fresh bands feed both the new-old probe and the
    // new-new self-join, and Spark does not CSE across join branches
    val freshAll = graft.core.GraftCaches.acquire(
      minhashBandTable(freshSh, numHashes, bands), StorageLevel.MEMORY_AND_DISK)
    val fresh = excludeBuckets.fold(freshAll)(hot =>
      freshAll.join(broadcast(hot.select(col("band"), col("sig"))),
        Seq("band", "sig"), "left_anti"))
    // pairs touching a new doc split EXACTLY into new-old ∪ new-new, so the
    // corpus-sized store is probed DIRECTLY — no union sits above its scan.
    // That structural choice is the scale contract: when the store is a
    // bucketed table on (band, sig) (Sinks.bucketedIdempotentAppend — the
    // CorpusIngest layout), the store side of this join satisfies the
    // join's distribution straight off the scan and plans NO exchange;
    // only the increment shuffles. A union store ∪ fresh (the previous
    // shape) erased the scan's partitioning and re-shuffled the corpus
    // side on every drop.
    // SHUFFLE_HASH with the increment as build side: the bucketed store
    // satisfies the join's distribution off the scan (no exchange), and
    // the hash join streams it UNSORTED — a plain join would pick
    // sort-merge and re-sort the corpus-sized store every drop, which on
    // the embedding twin cost more than the exchange bucketing removed.
    // The build side is the increment, bounded by admission control.
    val newOld = fresh.hint("shuffle_hash").as("a").join(
        storedBands.select(col("doc_id"), col("band"), col("sig")).as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val newNew = fresh.as("a").join(fresh.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // the salted hot branch: candidates of the screened-hot buckets, with
    // the store members salted so no task holds a whole flooded bucket.
    // The store side arrives through a broadcast semi against the tiny
    // hot set — a filtered scan, never a store-wide shuffle — and only
    // the surviving hot members (plus salts copies of the hot increment
    // rows) pay the salted exchange.
    val hotPairs = excludeBuckets.filter(_ => saltHotBuckets > 0).map { hot =>
      val hotSet = broadcast(hot.select(col("band"), col("sig")))
      val hotFresh = graft.core.GraftCaches.acquire(
        freshAll.join(hotSet, Seq("band", "sig"), "left_semi"))
      val hotStore = storedBands.select(col("doc_id"), col("band"), col("sig"))
        .join(hotSet, Seq("band", "sig"), "left_semi")
      val hotNewOld = Salting.saltedSkewJoin(hotFresh, hotStore,
          Seq("band", "sig"), col("doc_id"), saltHotBuckets,
          col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
                greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      val hotNewNew = Salting.saltedSkewJoin(hotFresh, hotFresh,
          Seq("band", "sig"), col("doc_id"), saltHotBuckets,
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      hotNewOld.unionByName(hotNewNew)
    }
    val cand = hotPairs.foldLeft(newOld.unionByName(newNew))(_ unionByName _)
      .dropDuplicates("doc_a", "doc_b")
    verifyPairsSplit(cand, storedShingles.select(col("doc_id"), col("sh")),
      freshSh, threshold)
  }

  /** Exact-Jaccard verification for the incremental path: each pair side's
    * shingle set resolves from the persisted store OR the increment — the
    * two sources are disjoint (the caller lands only trimmed, genuinely-new
    * doc_ids; a doc_id in both would already corrupt the store's key
    * contract), so two LEFT joins + coalesce replace the store ∪ fresh
    * union. Like the band probe above, this keeps the corpus-sized shingle
    * store the probed side of plain equi-joins: bucketed on doc_id it plans
    * no exchange, and only candidate-pair rows (increment-bounded) move.
    * The isNotNull filter restores inner-join semantics for docs with no
    * shingle row (sub-3-word docs never reach candidates anyway — they have
    * no bands either). Arithmetic is identical to verifyPairs, so the two
    * verify paths can never drift. The pairs come back UNORDERED: a global
    * sort would cost a range-sampling job and an exchange, and the ingest
    * consumers (keyed bucketed append, label merge) re-partition or
    * collect them anyway; a declared query sorts for itself.
    */
  private def verifyPairsSplit(cand: DataFrame, storedSh: DataFrame,
                               freshSh: DataFrame, threshold: Double): DataFrame = {
    // candidates build the hash table (increment-bounded) and the shingle
    // store streams unsorted — same SHUFFLE_HASH reasoning as the band
    // probe: never sort the corpus-sized store per drop
    def resolve(df: DataFrame, pairCol: String, out: String): DataFrame =
      df.hint("shuffle_hash")
        .join(storedSh.select(col("doc_id").as(pairCol),
          col("sh").as(s"${out}_store")), Seq(pairCol), "left")
        .hint("shuffle_hash")
        .join(freshSh.select(col("doc_id").as(pairCol),
          col("sh").as(s"${out}_fresh")), Seq(pairCol), "left")
        .withColumn(out, coalesce(col(s"${out}_store"), col(s"${out}_fresh")))
        .drop(s"${out}_store", s"${out}_fresh")
    resolve(resolve(cand, "doc_a", "sh_a"), "doc_b", "sh_b")
      .filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jac", jaccard(col("inter"),
        size(col("sh_a")).cast("long"), size(col("sh_b")).cast("long")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** Near-dup clusters: MinHash+LSH verified pairs → connected components →
    * (doc_id, cluster_id, cluster_size), cluster_id = min doc_id of the
    * component (the canonical survivor under a keep-smallest policy). Docs
    * with no near-dup pair are absent — implicitly singleton clusters; at
    * crawl scale that keeps this output proportional to the DUPLICATED
    * subset, not the corpus. The size join shuffles only (node, component)
    * id rows — the per-cluster count is a partial-aggregated groupBy on a
    * set already bounded by the pair graph.
    */
  /** Fuzzy key pairs at edit distance <= maxDist (currently distance 1 —
    * the deletion-neighborhood guarantee covers one edit; larger radii
    * need multi-deletion keys) over a single-column `w` vocabulary frame.
    * Blocking keys are the word plus every single-deletion variant, so
    * the candidate join is bucket-bounded (a word has len(w)+1 keys, and
    * a key's bucket holds only strings within one edit of each other's
    * shapes) — never the O(V²) cross join. Exact levenshtein verifies
    * candidates; precision 1, recall 1 at distance 1 by the SymSpell
    * argument in the QueryDef.
    */
  def fuzzyPairs(vocab: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist == 1, "deletion-neighborhood blocking covers distance 1")
    val keyed = vocab.select(col("w"), explode(
      expr("""array_union(array(w), transform(sequence(1, length(w)),
             |  i -> concat(substr(w, 1, i - 1), substr(w, i + 1))))"""
        .stripMargin)).as("k"))
    keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.w") < col("b.w"))
      .select(col("a.w").as("word_a"), col("b.w").as("word_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("word_a"), col("word_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("word_a"), col("word_b"))
  }

  /** The corpus with near-duplicates REMOVED (keep-the-minimum policy):
    * every cluster keeps only its canonical doc; docs outside the pair
    * graph pass through. The anti-join ships only loser doc_ids.
    */
  def dropNearDuplicates(documents: DataFrame, threshold: Double): DataFrame = {
    val losers = dedupClusters(documents, threshold)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    documents.join(losers, Seq("doc_id"), "left_anti")
  }

  /** `maxRounds` bounds the component contraction (O(log² n) in theory;
    * surfaced so a pathological crawl graph can be tuned without a code
    * change). Rounds-to-convergence ride the cluster_id column's metadata
    * (key "graft.cc.rounds").
    */
  def dedupClusters(documents: DataFrame, threshold: Double,
                    maxRounds: Int = 50): DataFrame = {
    val pairs = minhashLsh(documents, threshold)
    val lab = Components.connectedComponents(
      pairs.select(col("doc_a"), col("doc_b")), maxRounds)
    val sizes = lab.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, Seq("component"))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
              col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming. Banding
    * into (maxHamming + 1) chunks guarantees any qualifying pair shares a
    * chunk. The 64-bit signature is folded by the codegen'd SimHashSig
    * expression in one map-only pass per document (±1 vote per bit from the
    * parity of 64 portable universal-family hashes of each shingle) — no
    * explode, no 64-column aggregate shuffle, and oracle-recomputable.
    */
  def simhash(documents: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val chunkBits = 64 / chunks
    val sh = shingleTable(documents)
    graft.functions.SketchFunctions.register(documents.sparkSession)
    val sig = sh.select(col("doc_id"), expr("graft_simhash(sh)").as("sig"))
    val chunkCols = (0 until chunks).map { c =>
      struct(lit(c).as("ci"),
        shiftright(col("sig"), c * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1)).as("chunk"))
    }
    val banded = sig
      .select(col("doc_id"), col("sig"), explode(array(chunkCols: _*)).as("cs"))
      .select(col("doc_id"), col("sig"),
        col("cs.ci").as("chunk_idx"), col("cs.chunk").as("chunk"))
    banded.as("a").join(banded.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      // cast to long: the oracle's sum-of-differing-bits is BIGINT
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
