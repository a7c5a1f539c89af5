package perfbench

import graft.app.CorpusIngest
import graft.core.Sinks

import Main.{Run, median, timed}

/** corpus_drops — closed loop, one driver. Set-up lands a seeded base
  * corpus with planted exact and near copies; the run restores that
  * warehouse, lands one warm-up drop and then K measured seeded drops
  * through `CorpusIngest.run`, then reads `CorpusIngest.survivors`. No
  * market or streaming code runs.
  */
object CorpusDrops {
  val BaseDocs = 200
  val DropDocs = 40
  /** Drops landed before the measured ones: the first drop runs the
    * incremental path (store probe, pair appends) cold and often takes
    * 10-30% longer than later ones.
    */
  val WarmupDrops = 1
  /** Nominal seconds one drop takes; sizes the drop count K. */
  private val DropCostS = 10.0

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    def frame(docs: Seq[(Long, String)]) = docs.toDF("doc_id", "text")

    // set-up: generate the base corpus — a fresh half, then a half with
    // planted copies of it — three times (median reported), then land it
    // into a fresh warehouse once, since one build costs 8-30 s
    val half = r.size(BaseDocs, 60) / 2
    val dropDocs = r.size(DropDocs, 20)
    def baseDocs() = {
      val (fresh, _) = Gen.corpusDocs(r.seed, 0, 1L, half, Vector.empty)
      val (copies, exact) = Gen.corpusDocs(r.seed, 1, 1L + half, half, fresh)
      (fresh ++ copies, exact)
    }
    val gens = (0 until 3).map(_ => timed(baseDocs()))
    val (base, baseExact) = gens.last._1
    val pristine = r.work.resolve("setup/wh")
    val (_, buildS) = timed(CorpusIngest.run(spark, frame(base), pristine.toString))
    r.setupS = gens.map(_._2 + buildS)
    Main.log(f"setup: generation ${gens.map(_._2)}, base build $buildS%.3f s")
    // every run lands its drops on a restored copy of the pristine warehouse
    val wh = r.work.resolve("wh")
    Gen.copyTree(pristine, wh)

    // a traced run lands one drop more, so its traced drops have untraced
    // neighbours on both sides
    val k = math.max(2, math.round(r.seconds / DropCostS).toInt) +
      (if (r.trace.enabled) 1 else 0)
    val warmup = r.size(WarmupDrops, 0)
    var pool = base.toVector
    var exact = baseExact
    val dropS = Array.fill(k)(0.0)
    val results = Array.fill(k)((0L, 0L))
    val warmupS = Array.fill(warmup)(0.0)
    for (i <- -warmup until k) {
      val (docs, ex) = Gen.corpusDocs(r.seed, 10 + warmup + i, 1L + pool.size,
        dropDocs, pool)
      val df = frame(docs)
      // drops 1, 3, ... are traced in a traced run, compared with the
      // untraced drops 0, 2, ...
      val traced = i >= 0 && r.traced(i + 1)
      r.trace.setActive(traced)
      r.op(if (i < 0) s"warm-up drop ${warmup + i}" else s"drop $i") {
        val (res, s) = timed(r.trace.span("app", "CorpusIngest.run")(
          CorpusIngest.run(spark, df, wh.toString)))
        if (i < 0) warmupS(warmup + i) = s
        else {
          dropS(i) = s
          results(i) = res
          if (traced) r.tracedOps :+= s * 1000
          else r.untracedOps :+= s * 1000
        }
        res._1 == dropDocs
      }
      pool ++= docs
      exact ++= ex
    }
    r.trace.setActive(false)

    var survivorsS = 0.0
    var survivorsN = 0
    r.op("survivors drop every planted exact copy") {
      val (ids, sec) = timed(CorpusIngest.survivors(spark, wh.toString)
        .select("doc_id").as[Long].collect().toSet)
      survivorsS = sec
      survivorsN = ids.size
      val leaked = exact.filter(ids.contains)
      if (leaked.nonEmpty)
        System.err.println(s"[perfbench] exact copies survived: ${leaked.take(10)}")
      leaked.isEmpty && ids.size < pool.size
    }

    r.opMs = dropS.toSeq.map(_ * 1000)
    r.rowsPerS = k.toLong * dropDocs / dropS.sum
    r.named("drop_p50_s") = (median(dropS.toSeq), "s")
    r.named("drop_docs_per_s") = (r.rowsPerS, "1/s")
    r.named("survivors_s") = (survivorsS, "s")
    r.detail("drops") = k.toString
    r.detail("drop_results") = results.map { case (d, p) => s"$d/$p" }.mkString(",")
    r.detail("drop_s") = dropS.map(s => f"$s%.3f").mkString(",")
    r.detail("warmup_drop_s") = warmupS.map(s => f"$s%.3f").mkString(",")
    r.detail("survivors") = survivorsN.toString
    r.detail("docs") = pool.size.toString
    r.detail("planted_exact") = exact.size.toString

    if (r.trace.enabled) {
      val t = r.trace
      val n = r.tracedOps.size
      t.engineMetrics(n, r.tracedOps.sum / 1000).foreach { case (key, v, u) =>
        r.layer(key) = (v, u)
      }
      r.layer("corpus.jobs_per_drop") = r.layer("spark.jobs")
      r.layer("corpus.shuffle_bytes_per_drop") = r.layer("spark.shuffle_write_bytes")
      r.layer("corpus.new_pairs") = (results.map(_._2).sum.toDouble, "count")
      r.layer("corpus.store_write_s") = (t.get("corpus.store_write_s") / math.max(1, n), "s")
      r.layer("corpus.store_files") = (Seq("bands", "shingles").map(tbl =>
        Sinks.dataFileCount(spark, s"$wh/corpus/$tbl")).sum.toDouble, "count")
      r.layer("lease.roundtrip_ms") =
        (Market.leaseRoundtripMs(spark, wh.toString), "ms")
    }
  }
}
