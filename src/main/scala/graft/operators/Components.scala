package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list — the
  * clustering stage of a dedup pipeline. Near-dup detection emits PAIRS
  * (MinHash/LSH, SimHash, exact-Jaccard); keeping one survivor per duplicate
  * GROUP requires the transitive closure of those pairs (a~b, b~c → drop two
  * of {a,b,c}, not one of each pair). The reference's pipeline stops at
  * drop_duplicates on exact keys (polygon-etl-container/src/
  * reference_endpoints_etl.py:56); this is the graph generalization a
  * crawl-scale corpus needs.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the standard
  * shared-nothing formulation, O(log² n) rounds on any graph and 2–4 rounds
  * in practice on near-dup graphs (components are near-cliques, so minima
  * propagate in one hop). Each half-round is one groupBy-min (map-side
  * partial aggregation — a node's degree collapses per input partition
  * before the shuffle) plus one hash join on node id. Unlike naive label
  * propagation there is no per-round neighborhood broadcast that a
  * high-degree boilerplate cluster could skew: large-star re-points only
  * strictly-larger neighbors at the local min, small-star only the smaller
  * ones, so emitted degree never exceeds input degree.
  *
  * The round loop is driver-side CONTROL FLOW only (same pattern as
  * GraphX/GraphFrames): edge data stays on the cluster; each round cuts
  * the edge set's lineage (graft.core.Checkpoints.cut) — lineage would
  * otherwise double per iteration. With `spark.graft.checkpointDir` set
  * the cuts are RELIABLE checkpoints, so an executor loss mid-contraction
  * re-reads the last round from durable storage instead of failing the
  * job; unset, they are executor-local (the test/interactive default).
  */
object Components {

  /** Edges at convergence form stars: (node, componentMin) for every
    * non-root node. Input: DataFrame with two numeric columns — first = one
    * endpoint, second = the other. Self-loops dropped, direction ignored.
    * Returns (node: long, component: long) for EVERY node that appears in
    * an edge; component = min node id of its connected component (roots
    * map to themselves). Nodes with no edges are absent by construction —
    * callers treat them as singleton clusters.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val Seq(cu, cv) = edges.columns.toSeq.take(2).map(col)
    var e = graft.core.Checkpoints.cut(edges
      .select(cu.cast("long").as("u"), cv.cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .select(greatest(col("u"), col("v")).as("u"),
              least(col("u"), col("v")).as("v"))
      .distinct())

    // Per-round convergence probe: one aggregate job (count + hash sum)
    // against the previous round's scalars. Counts alone cannot detect
    // progress here — on a FOREST every contraction round preserves
    // |E| = |V| - #components exactly — and an every-round set-equality
    // anti-join is a full extra pass. The hash sum changes whenever the
    // edge set changes (up to a 2^-64-scale collision), so the
    // DETERMINISTIC anti-join runs only on the round that looks stable:
    // convergence is still proven by set algebra, the hash only schedules
    // the proof.
    def probe(d: DataFrame): (Long, java.math.BigDecimal) = {
      val r = d.agg(count(lit(1)), sum(xxhash64(col("u"), col("v"))
        .cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var sig = probe(e)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val next = graft.core.Checkpoints.cut(smallStar(largeStar(e)))
      val nextSig = probe(next)
      // mutual anti-join: SET equality independent of row multiplicities
      // (the rounds carry multisets; the set-level dynamics are the
      // paper's, since min-aggregates and per-row emits are dup-blind)
      converged = nextSig == sig &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty &&
        e.join(next, Seq("u", "v"), "left_anti").isEmpty
      e = next
      sig = nextSig
      rounds += 1
    }
    require(converged,
      s"connectedComponents did not converge within $maxRounds rounds " +
        "(theoretical bound is O(log^2 n) — raise maxRounds for adversarial graphs)")

    // rounds-to-convergence rides the component column's metadata — the
    // observability hook an operator embedded in a larger plan can expose
    // without widening its schema (Alias propagates it downstream)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.cc.rounds", rounds.toLong).build()
    e.select(col("u").as("node"), col("v").as("component", md))
      .union(e.select(col("v").as("node"), col("v").as("component", md)))
      .distinct()
  }

  /** INCREMENTAL component maintenance: fold a drop's new edges into an
    * existing (node, component) labeling WITHOUT re-running the
    * contraction. New edges can only change components they TOUCH, and a
    * touched component moves as a whole (its members keep sharing one
    * label), so the merge is solved on the COMPONENT-CONTRACTED increment:
    * one vertex per touched old component or new node, one edge per new
    * edge.
    *   1. Collect the new edges to the driver (the caller's pair
    *      increment, bounded by the drop).
    *   2. Look up each endpoint's current component: one broadcast
    *      left-semi join of the label view with the endpoint set, at most
    *      2·nEdges rows.
    *   3. Union-find on the driver over those component ids plus the new
    *      node ids. A merged set's label is its minimum id — the minimum
    *      member of the merged component, since a component id is its own
    *      minimum member.
    *   4. The changed rows: the members of every component whose label
    *      moves (label view ⋈ broadcast(remap) on component) plus the new
    *      nodes.
    *
    * Cost: the driver holds at most 2·nEdges ids, and the relabel is one
    * broadcast join over the label view — no contraction round, and
    * nothing read of the cumulative pair graph.
    *
    * `currentLabels`: (node, component, ...) — the CURRENT view of the
    * label store, one row per node; further columns (the store's `seq`)
    * ride along on relabelled rows and read null on new nodes.
    * `newEdges`: two numeric columns; null endpoints and self-loops are
    * ignored. Returns the changed rows with `currentLabels`' columns, or
    * None when no node moves (every new edge lies inside one existing
    * component, as on a replayed drop). Deterministic (min-id labels), so
    * a crash-retry replaying the same merge finds nothing left to move.
    */
  def mergeLabels(currentLabels: DataFrame,
                  newEdges: DataFrame): Option[DataFrame] = {
    val spark = newEdges.sparkSession
    import spark.implicits._
    val Seq(cu, cv) = newEdges.columns.toSeq.take(2).map(col)
    val edges = newEdges.select(cu.cast("long").as("u"), cv.cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .as[(Long, Long)].collect()
    val labels = currentLabels
      .withColumn("node", col("node").cast("long"))
      .withColumn("component", col("component").cast("long"))
    val endpoints = edges.flatMap { case (u, v) => Seq(u, v) }.distinct
    val compOf =
      if (endpoints.isEmpty) Map.empty[Long, Long]
      else labels
        .join(broadcast(endpoints.toSeq.toDF("node")), Seq("node"), "left_semi")
        .select(col("node"), col("component")).as[(Long, Long)].collect().toMap

    // union-find whose root is always the set minimum; an old endpoint
    // stands for its whole component, a new one for itself
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    def key(n: Long) = compOf.getOrElse(n, n)
    edges.foreach { case (u, v) =>
      val (a, b) = (find(key(u)), find(key(v)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val remap = compOf.values.toSeq.distinct
      .map(c => (c, find(c))).filter { case (c, l) => c != l }
    val fresh = endpoints.filterNot(compOf.contains).map(n => (n, find(n)))

    val extras = labels.schema.fields.filterNot(f =>
      f.name == "node" || f.name == "component")
    val relabelled = Option.when(remap.nonEmpty)(labels
      .join(broadcast(remap.toDF("component", "_label")), Seq("component"))
      .select(col("node") +: col("_label").as("component") +:
        extras.map(f => col(f.name)).toSeq: _*))
    val added = Option.when(fresh.nonEmpty)(fresh.toSeq
      .toDF("node", "component")
      .select(col("node") +: col("component") +:
        extras.map(f => lit(null).cast(f.dataType).as(f.name)).toSeq: _*))
    (relabelled ++ added).reduceOption(_ unionByName _)
  }

  /** Large-star: every node re-points its strictly-LARGER neighbors at the
    * minimum of its closed neighborhood. Operates on the symmetric closure;
    * output is canonical (u > v) and self-loop-free because
    * m ≤ u < v for every emitted (v, m). NOT deduplicated: each undirected
    * edge emits exactly one row (from its smaller endpoint), so the output
    * is ≤ |E| rows and smallStar's aggregates absorb any (v, m) collisions
    * — a distinct here would be a pure extra shuffle.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: every node links its smaller-or-equal neighborhood (and
    * itself) to that neighborhood's minimum. Input and output both
    * canonical (u > v): emitted neighbor edges are (v, m) with v ≥ m from
    * the same min-group (v ≠ m filtered), plus the (u, m) self link.
    *
    * Also not deduplicated: each round emits at most one row per input row
    * plus one per group, so duplicate rows PERSIST but never MULTIPLY —
    * the working multiset stays O(|E| + |V|) across all rounds (the entry
    * distinct bounds input dups; the label projection dedups at the end).
    * Dropping the per-round distinct removes a full-width shuffle from
    * every round; the aggregates in both stars are dup-insensitive (min).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("u").agg(min("v").as("m"))
    val nbrs = e.join(m, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val self = m.select(col("u"), col("m").as("v"))
    nbrs.union(self)
  }
}
