package graft

import graft.operators.{Components, DedupOps}
import org.scalatest.funsuite.AnyFunSuite

/** Connected components: hand-built graphs with known answers, a
  * BFS-verified random graph (the property the star algorithm must
  * reproduce exactly), and the dedup-clusters end-to-end contract.
  */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("u", "v"))
      .as[(Long, Long)].collect().toMap

  /** Driver-side ground truth: union-find over the same edges. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize: label = min member of the component
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    nodes.map(n => n -> byRoot(find(n)).min).toMap
  }

  test("a long chain collapses to one component labeled by its min (multi-round)") {
    // path 9-8-7-...-0 forces propagation across the full diameter
    val chain = (0L until 9L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got == (0L to 9L).map(_ -> 0L).toMap, s"got $got")
  }

  test("disjoint clique, chain, and pair each get their own min label") {
    val edges = Seq(
      (10L, 11L), (11L, 12L), (10L, 12L), // clique {10,11,12}
      (20L, 21L), (21L, 22L),             // chain {20,21,22}
      (31L, 30L),                         // pair, reversed direction
      (40L, 40L)                          // self-loop must be dropped
    )
    val got = cc(edges)
    assert(got == Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L), s"got $got")
    assert(!got.contains(40L), "self-loop-only node must be absent (singleton)")
  }

  test("random graph matches driver-side union-find exactly") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    assert(cc(edges) == unionFind(edges))
  }

  test("duplicate and reversed edges do not change the answer") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L))
    assert(cc(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("maxRounds is tunable and rounds-to-convergence ride the result metadata") {
    val chain = (0L until 9L).map(i => (i, i + 1))
    // a 10-node path cannot converge (round + proof) in a single round
    val e = intercept[IllegalArgumentException] {
      Components.connectedComponents(chain.toDF("u", "v"), maxRounds = 1)
        .collect()
    }
    assert(e.getMessage.contains("maxRounds"), e.getMessage)
    // tuned up, the same graph converges and reports how many rounds it took
    val ok = Components.connectedComponents(chain.toDF("u", "v"), maxRounds = 20)
    val md = ok.schema("component").metadata
    assert(md.contains("graft.cc.rounds"), "rounds metadata missing")
    val rounds = md.getLong("graft.cc.rounds")
    assert(rounds >= 2 && rounds <= 20, s"implausible round count: $rounds")
    assert(ok.as[(Long, Long)].collect().toMap == (0L to 9L).map(_ -> 0L).toMap)
    // the tuned knob is reachable through the dedup pipeline too
    val docs = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"))
      .toDF("doc_id", "text")
    val viaDedup = DedupOps.dedupClusters(docs, threshold = 0.5, maxRounds = 20)
    assert(viaDedup.schema("cluster_id").metadata.contains("graft.cc.rounds"),
      "metadata must survive the dedupClusters projection")
    graft.core.GraftCaches.releaseAll(spark)
  }

  test("dedupClusters groups transitive near-dups under the min doc_id with sizes") {
    // a~b and b~c near-dups (one-word edits of the same base) must land in
    // ONE cluster of size 3 even if the a~c pair itself were missed
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps near the warm fire in deep winter tonight"
    val docs = Seq(
      (5L, base),
      (6L, base.replace("winter", "summer")),
      (7L, base.replace("quick", "sly")),
      (8L, "spark executes distributed dataframe plans with catalyst " +
        "optimizing every stage of the physical query pipeline today"),
      (9L, "spark executes distributed dataframe plans with catalyst " +
        "optimizing every stage of the physical query pipeline tonight")
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupClusters(docs, threshold = 0.5)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((5L, 5L, 3L), (6L, 5L, 3L), (7L, 5L, 3L),
                      (8L, 8L, 2L), (9L, 8L, 2L)), s"got $got")
    // applying the dedup keeps exactly one canonical doc per cluster
    val survivors = DedupOps.dropNearDuplicates(docs, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(5L, 8L), s"survivors: $survivors")
  }

  test("mergeLabels: incremental drop sequences equal the batch recompute (property)") {
    // random edge streams folded drop by drop must label identically to
    // one batch contraction over everything seen so far — across merges
    // that EXTEND components, JOIN two old components through a new edge,
    // relabel members when a smaller node arrives, and leave untouched
    // components byte-identical
    val rng = new scala.util.Random(20260814L)
    for (trial <- 1 to 4) {
      val n = 40 + rng.nextInt(40)
      val edges = Seq.fill(60 + rng.nextInt(60))(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val dropSizes = Iterator.continually(1 + rng.nextInt(15))
      var labels = Map.empty[Long, Long]
      var seen = Seq.empty[(Long, Long)]
      var rest = edges
      while (rest.nonEmpty) {
        val k = math.min(dropSizes.next(), rest.size)
        val (drop, tail) = rest.splitAt(k)
        rest = tail
        seen = seen ++ drop
        labels = labels ++ merge(labels, drop)
        val batch = Components.connectedComponents(seen.toDF("u", "v"))
          .as[(Long, Long)].collect().toMap
        assert(labels == batch,
          s"trial $trial after ${seen.size} edges: incremental $labels != batch $batch")
        // replaying the drop just folded moves no node
        assert(Components.mergeLabels(labels.toSeq.toDF("node", "component"),
          drop.toDF("u", "v")).isEmpty, s"trial $trial: replay moved nodes")
      }
    }
  }

  /** One mergeLabels call over driver-side maps; no rows when it returns None. */
  private def merge(labels: Map[Long, Long],
                    drop: Seq[(Long, Long)]): Map[Long, Long] =
    Components.mergeLabels(labels.toSeq.toDF("node", "component"),
      drop.toDF("u", "v"))
      .map(_.as[(Long, Long)].collect().toMap).getOrElse(Map.empty)

  test("mergeLabels: smaller new nodes, intra-component pairs, replays, nulls and self-loops") {
    val labels = Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L)
    // a new node smaller than both old components it joins becomes the
    // label of the whole merged component, itself included
    assert(merge(labels, Seq((5L, 11L), (22L, 5L))) ==
      Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 20L -> 5L, 21L -> 5L, 22L -> 5L))
    // two old components joined through a new edge: only the larger one moves
    assert(merge(labels, Seq((31L, 21L))) ==
      Map(30L -> 20L, 31L -> 20L))
    // a pair inside one component moves nothing; neither does a replay of
    // pairs already folded in
    assert(Components.mergeLabels(labels.toSeq.toDF("node", "component"),
      Seq((11L, 10L), (20L, 22L)).toDF("u", "v")).isEmpty)
    // a new node joining an old component takes its label; the members
    // keep theirs and are not rewritten
    assert(merge(labels, Seq((12L, 11L), (13L, 12L))) == Map(12L -> 10L, 13L -> 10L))
    // a pair of new nodes is a new component labelled by its minimum
    assert(merge(labels, Seq((41L, 40L))) == Map(40L -> 40L, 41L -> 40L))
    // null endpoints and self-loops add nothing, old node or new
    val odd = Seq[(Option[Long], Option[Long])]((None, Some(10L)),
      (Some(50L), None), (None, None), (Some(50L), Some(50L)),
      (Some(11L), Some(11L)))
    assert(Components.mergeLabels(labels.toSeq.toDF("node", "component"),
      odd.toDF("u", "v")).isEmpty)
    // ... and do not disturb real edges in the same drop
    assert(merge(labels, Seq((60L, 60L), (21L, 30L))) == Map(30L -> 20L, 31L -> 20L))
    // further label columns ride along on relabelled rows and read null on
    // new nodes
    val versioned = Seq((10L, 10L, 3L), (11L, 10L, 1L))
      .toDF("node", "component", "seq")
    val rows = Components.mergeLabels(versioned, Seq((2L, 11L)).toDF("u", "v"))
      .get.select("node", "component", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    assert(rows == Set((10L, 2L, Some(3L)), (11L, 2L, Some(1L)), (2L, 2L, None)))
  }
}
