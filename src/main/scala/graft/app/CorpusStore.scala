package graft.app

import graft.core.Sinks
import graft.operators.Components
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared warehouse-layout plumbing for the corpus modules: table paths,
  * store readers/appenders, sibling-ledger IO, the versioned component
  * label stores, threshold provenance, and the stamped-artifact scan the
  * snapshot/export commit protocol rides on. Package-private — the public
  * surface stays on [[CorpusIngest]] (with [[Governance]],
  * [[CorpusSnapshots]], [[CorpusExports]] carrying their domains); this
  * object exists so the four modules share ONE definition of every layout
  * and ledger convention instead of four drifting copies.
  */
private[graft] object CorpusStore {

  def ccLabelsPath(wh: String) = s"$wh/corpus/cc_labels"

  def docsPath(wh: String) = s"$wh/corpus/documents"

  def shinglePath(wh: String) = s"$wh/corpus/shingles"

  def bandPath(wh: String) = s"$wh/corpus/bands"

  def pairsPath(wh: String) = s"$wh/corpus/pairs"

  def statsPath(wh: String) = s"$wh/corpus/doc_stats"

  def stagedPath(wh: String) = s"$wh/corpus/staged_drops"

  def tombPath(wh: String) = s"$wh/corpus/tombstones"

  def cappedPath(wh: String) = s"$wh/corpus/capped_buckets"

  /** ONE layout rule for every keyed corpus table (documents, doc_stats,
    * shingles, bands, pairs, the staged mirrors, the emb/sem/media stores,
    * the label stores): it is a bucketed store with a `._bucketspec`
    * ledger, and a directory WITHOUT that ledger is an interrupted first
    * create. `Sinks.bucketedIdempotentAppend` stamps the ledger only after
    * its first files commit, and no later append succeeds without it, so
    * such a directory holds only the rows of the one operation that never
    * committed — its retry lands them again. A writer holding the
    * warehouse lease clears the directory (siblings like `._params` and
    * `._threshold` stay: they are stamped first on purpose), so the retry
    * recreates the table bucketed. Without the lease nothing is touched —
    * the directory may be a live writer's in-flight create — and
    * [[readStore]] gives the torn-create verdict.
    */
  def healTornCreate(spark: SparkSession, path: String): Unit =
    if (graft.core.WarehouseLease.heldByCurrentThread(spark, path) &&
        Sinks.pathExists(spark, path) && !Sinks.isBucketedStore(spark, path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** Park-aware presence (`Sinks.storePresent`) of a keyed corpus table
    * after [[healTornCreate]]: under the lease an interrupted first create
    * reads ABSENT, so the caller takes its first-create branch.
    */
  def keyedStorePresent(spark: SparkSession, path: String): Boolean = {
    healTornCreate(spark, path)
    Sinks.storePresent(spark, path)
  }

  /** The bucketed scan of a keyed corpus table — the scan that lets the
    * incremental band/verify joins keep the corpus side exchange-free. A
    * directory without its spec ledger is an interrupted first create
    * ([[healTornCreate]]): the documented torn-create verdict, never a
    * plain read of a partial table. An absent table fails like parquet's
    * own read of a missing path.
    */
  def readStore(spark: SparkSession, path: String): DataFrame = {
    if (!Sinks.isBucketedStore(spark, path)) {
      if (!Sinks.pathExists(spark, path))
        throw new org.apache.spark.sql.AnalysisException("PATH_NOT_FOUND",
          Map("path" -> path))
      throw new IllegalStateException(
        s"$path: torn store create — the directory exists but has no " +
          "._bucketspec ledger (a writer died before its first create " +
          "committed). The owning drop's retry rebuilds it; retry this " +
          "read after the next ingest, or dropStore the residue.")
    }
    Sinks.readBucketedPath(spark, path)
  }

  /** Keyed idempotent append into a keyed corpus table, bucketed on
    * `bucketKeys` (default: the keys), so the per-drop existence anti-join
    * never re-shuffles the table side. An interrupted first create is
    * healed before the append ([[healTornCreate]]).
    */
  def appendKeyedStore(spark: SparkSession, df: DataFrame,
                               path: String, buckets: Int,
                               keys: Seq[String] = Seq("doc_id"),
                               bucketKeys: Seq[String] = Nil): Unit = {
    healTornCreate(spark, path)
    Sinks.bucketedIdempotentAppend(df, path, keys = keys,
      bucketKeys = if (bucketKeys.isEmpty) keys else bucketKeys,
      buckets = buckets)
  }

  // ---------------- incremental component label stores ----------------
  //
  // `survivors` (and its emb/sem/media twins) used to re-run connected
  // components over the FULL cumulative pair table on every read — an
  // iterative multi-shuffle job whose cost grows with the pair graph
  // forever. Each ingest now folds its drop's new pairs into a persisted
  // VERSIONED label table instead (Components.mergeLabels: the driver
  // holds at most 2·nPairs ids — the new pairs' endpoints and their
  // current components — and the relabel is one broadcast join over the
  // label view; no contraction round, nothing read of the pair table),
  // and the survivor views read the label store's current view — one
  // co-located argmax scan. The store is append-only (node, component,
  // seq) bucketed on node, where `seq` versions its node: a relabelled
  // node's new row carries its latest seq + 1 and a new node starts at 0.
  // Per-drop writes are moved-rows-sized, a drop that moves no node
  // writes nothing, the current view is a zero-exchange groupBy on the
  // bucket key, and maintenance folds old versions away with an atomic
  // bucket-preserving rewrite once they dominate. Governance deletes can
  // SPLIT components (pair rows removed), which incremental merge cannot
  // express — the cascades drop the affected label store and EAGERLY
  // rebuild it from the purged pair table (rebuildLabels), so the one full
  // contraction a split costs is paid once inside the rare takedown call,
  // never per survivors read. Crash-retry safe: the merge is deterministic
  // from (current view, re-derived identical pairs), so a replay finds
  // every node already labelled and appends nothing.
  // Store presence is judged by the SPEC LEDGER, not the directory:
  // bucketedIdempotentAppend stamps the ledger only after the initial
  // write commits, so a torn create (crash mid-first-write) reads as
  // "no store" — the views fall back to the recompute instead of
  // silently serving a partial labeling, and the next writer clears the
  // residue directory and recreates.

  /** Current view of a versioned label store: latest component per node. */
  def labelView(store: DataFrame): DataFrame =
    store.groupBy(col("node"))
      .agg(max_by(col("component"), col("seq")).as("component"))

  /** Fold one drop's verified pairs into the label store at `labelPath`
    * (creating it from the FULL pair table the first time, so
    * pre-label-store history is covered).
    */
  def updateLabels(spark: SparkSession, labelPath: String,
                           pairsP: String, newPairs: DataFrame,
                           aCol: String, bCol: String,
                           buckets: Int): Unit = {
    healTornCreate(spark, labelPath)
    if (!Sinks.isBucketedStore(spark, labelPath))
      appendLabels(Components.connectedComponents(
        readStore(spark, pairsP).select(col(aCol), col(bCol)))
        .withColumn("seq", lit(0L)), labelPath, buckets)
    else {
      // the view carries each node's latest seq, so the next version is
      // computed in the relabel query itself — no store-wide max job
      val view = readStore(spark, labelPath).groupBy(col("node"))
        .agg(max_by(col("component"), col("seq")).as("component"),
          max(col("seq")).as("seq"))
      Components.mergeLabels(view, newPairs.select(col(aCol), col(bCol)))
        .foreach { changed =>
          appendLabels(changed.withColumn("seq",
            coalesce(col("seq") + 1L, lit(0L))), labelPath, buckets)
          // maintenance: fold accumulated versions into the current view
          // once appends have fragmented the store — one atomic swap that
          // is both the compaction and the version GC
          if (Sinks.dataFileCount(spark, labelPath) > 4L * buckets)
            Sinks.rewriteBucketed(spark, labelPath,
              labelView(readStore(spark, labelPath)).withColumn("seq", lit(0L)))
        }
    }
  }

  /** Eagerly rebuild a component label store from its (just-purged) pair
    * table after a governance delete. Removing pair rows can SPLIT
    * components — a state the incremental merge cannot express — so the
    * cascades previously dropped the store and every survivors read until
    * the next pair-bearing drop re-ran the full-graph contraction, per
    * READ. The cascade now pays that contraction exactly once, inside the
    * rare takedown call, and reads stay label-scan priced throughout.
    * Crash-safe by ordering: the store is dropped FIRST, so a crash
    * anywhere before the rebuild's spec ledger lands leaves "no store"
    * and the views fall back to the (always-correct) recompute — never a
    * stale pre-delete labeling; the lease-held delete's retry heals. The
    * rebuilt store inherits the pair table's bucket count so the argmax
    * view keeps the layout the ingest chose; a warehouse with no pair
    * table keeps no store (nothing to label).
    */
  def rebuildLabels(spark: SparkSession, labelPath: String,
                            pairsP: String, aCol: String,
                            bCol: String): Unit = {
    dropStore(spark, labelPath)
    if (keyedStorePresent(spark, pairsP)) {
      val (_, buckets) = Sinks.bucketSpecOf(spark, pairsP).get
      appendLabels(Components.connectedComponents(
        readStore(spark, pairsP).select(col(aCol), col(bCol)))
        .withColumn("seq", lit(0L)), labelPath, buckets)
    }
  }

  /** Append (node, component, seq) rows to a label store, keyed on
    * (node, seq) and bucketed on node. */
  private def appendLabels(rows: DataFrame, labelPath: String,
                           buckets: Int): Unit =
    Sinks.bucketedIdempotentAppend(rows, labelPath,
      keys = Seq("node", "seq"), bucketKeys = Seq("node"), buckets = buckets)

  /** Label-store / pair-table DRIFT: (pair ids the label merge never
    * covered, label nodes with no pair evidence). One definition shared
    * by `fsck` (which reports the counts) and `repair` (which rebuilds on
    * any drift) — so the audit and the heal can never diverge.
    */
  def labelDrift(spark: SparkSession, labelP: String,
                         pairsP: String, a: String,
                         b: String): (Long, Long) = {
    // callers guarantee BOTH tables are present (fsck/repair gate on it):
    // comparing against an absent pair table would read "every node
    // orphaned" — never a useful drift signal
    val nodes = readStore(spark, labelP).select(col("node").as("k")).distinct()
    val ids = readStore(spark, pairsP).select(col(a).as("k"))
      .unionByName(readStore(spark, pairsP).select(col(b).as("k")))
      .distinct()
    (ids.join(nodes, Seq("k"), "left_anti").count(),
      nodes.join(ids, Seq("k"), "left_anti").count())
  }

  /** Loser ids (component non-minima) for a pair table: from the label
    * store's current view when one is maintained — a co-located scan —
    * or the full-graph recompute otherwise (no drop has derived a pair
    * yet, or a crash window where a store create was torn before its
    * ledger). The ledger gate means a torn create can never serve a
    * partial labeling.
    */
  def losersFor(spark: SparkSession, labelPath: String,
                        pairsP: String, aCol: String, bCol: String,
                        outCol: String): DataFrame = {
    val lab =
      if (Sinks.isBucketedStore(spark, labelPath))
        labelView(readStore(spark, labelPath))
      else Components.connectedComponents(
        readStore(spark, pairsP).select(col(aCol), col(bCol)))
    lab.filter(col("node") =!= col("component"))
      .select(col("node").as(outCol))
  }

  def embVecsPath(wh: String) = s"$wh/corpus/emb_vecs"

  def embBandsPath(wh: String) = s"$wh/corpus/emb_bands"

  def embPairsPath(wh: String) = s"$wh/corpus/emb_pairs"

  def embCappedPath(wh: String) = s"$wh/corpus/emb_capped_buckets"

  def stagedEmbPath(wh: String) = s"$wh/corpus/staged_emb_drops"

  def embTombPath(wh: String) = s"$wh/corpus/emb_tombstones"

  def embCcPath(wh: String) = s"$wh/corpus/emb_cc_labels"

  def semCcPath(wh: String) = s"$wh/corpus/sem_cc_labels"

  def semAsgPath(wh: String) = s"$wh/corpus/sem_asg"

  def semPairsPath(wh: String) = s"$wh/corpus/sem_pairs"

  def semCentsPath(wh: String) = s"$wh/corpus/sem_cents"

  /** A pair table's threshold provenance ledger: a sibling file (so
    * compaction's directory swap preserves it, same placement as
    * Sinks.promote's ledger) recording the dedup threshold the table was
    * built under. One ledger per pair table — the text pairs and the
    * embedding pairs carry independent semantics (Jaccard vs cosine), so
    * each table stamps its own.
    */
  def thresholdLedgerAt(pairsP: String) =
    new org.apache.hadoop.fs.Path(pairsP + "._threshold")

  def checkThresholdAt(spark: SparkSession, pairsP: String,
                               label: String, threshold: Double): Unit = {
    val p = thresholdLedgerAt(pairsP)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.AtomicFiles.readLine(fs, p).foreach { line =>
      // empty = a torn first stamp (the atomic publish renames without
      // fsync, so power loss can leave a zero-length file) — refused
      // loudly, delete-to-restamp
      require(line.trim.nonEmpty,
        s"$label threshold ledger $p exists but is empty/corrupt — " +
          "delete it to restamp on the next run")
      val stamped = line.trim.toDouble
      require(stamped == threshold,
        s"$label was built at dedup threshold $stamped; refusing to " +
          s"append pairs derived at $threshold — mixed-threshold pair " +
          "tables have no single semantics (rebuild the warehouse or match " +
          "the stamped threshold)")
    }
  }

  def stampThresholdAt(spark: SparkSession, pairsP: String,
                               threshold: Double): Unit = {
    val p = thresholdLedgerAt(pairsP)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // atomic first stamp: a racing reader sees absent or the full line,
    // never the empty create-to-write window
    if (!fs.exists(p))
      graft.core.AtomicFiles.writeAtomic(fs, p, threshold.toString)
  }

  /** Single-long sibling-ledger read (the `Sinks.promote` format); -1 when
    * absent or unreadable (unreadable = re-do the guarded work, never
    * skip). NOW ACTUALLY SO: the old body let a parse/checksum error out
    * of the read, despite this doc — a lease-free reader (fsck, status)
    * racing a leased writer's re-stamp could crash on a torn line. Reads
    * go through [[graft.core.AtomicFiles.readLine]] (raw, bounded-retried)
    * and every persistent failure maps to -1, the documented fail-safe.
    */
  def readLongLedger(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.AtomicFiles.readLongOrNeg(fs, p)
  }

  /** Atomic publish ([[graft.core.AtomicFiles.writeAtomic]]): a
    * lease-free reader polling the ledger across a re-stamp sees the old
    * value or the new one — never absence (which reads as -1 and flips
    * the guarded branch) and never a torn line.
    */
  def writeLongLedger(spark: SparkSession, path: String,
                              value: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.AtomicFiles.writeAtomic(fs, p, value.toString)
  }

  def mediaHashPath(wh: String) = s"$wh/corpus/media_hashes"

  def mediaBandsPath(wh: String) = s"$wh/corpus/media_bands"

  def mediaPairsPath(wh: String) = s"$wh/corpus/media_pairs"

  def mediaCappedPath(wh: String) = s"$wh/corpus/media_capped_buckets"

  def stagedMediaPath(wh: String) = s"$wh/corpus/staged_media_drops"

  def mediaTombPath(wh: String) = s"$wh/corpus/media_tombstones"

  def mediaCcPath(wh: String) = s"$wh/corpus/media_cc_labels"

  def linksPath(wh: String) = s"$wh/corpus/links"

  /** A table's name inside the warehouse — the key the delete cascades
    * report and audit it under. */
  def tableName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** One corpus modality's warehouse layout — what the shared drop,
    * takedown, reinstate and survivors bodies in [[CorpusIngest]] need to
    * know about it. Paths are functions of the warehouse root.
    *
    *   - `commit`: the ingest trim's existence key, written LAST by every
    *     drop (its commit point);
    *   - `bands`: the band store the params ledger guards and the
    *     hot-bucket screen reads;
    *   - `pairs`/`labels`: the cumulative pair table (threshold ledger,
    *     keyed on `pairCols`) and its component label store;
    *   - `keyed`: every id-keyed table a takedown purges;
    *   - `derivedPairs`: further (pair table, label store) couples a
    *     takedown purges (SemDeDup's, for embeddings);
    *   - `rows`: the survivors view's row source;
    *   - `link`: the modality's name in the `registerLinks` table.
    */
  final case class Modality(
      idCol: String,
      link: String,
      commit: String => String,
      bands: String => String,
      pairs: String => String,
      labels: String => String,
      capped: String => String,
      staged: String => String,
      tombs: String => String,
      pairCols: Seq[String],
      cappedKeys: Seq[String],
      keyed: Seq[String => String],
      derivedPairs: Seq[(String => String, String => String)],
      deleteOp: String,
      reinstateOp: String,
      rows: (SparkSession, String) => DataFrame)

  val TextModality = Modality("doc_id", "doc", shinglePath, bandPath,
    pairsPath, ccLabelsPath, cappedPath, stagedPath, tombPath,
    Seq("doc_a", "doc_b"), Seq("band", "sig"),
    Seq(docsPath, shinglePath, bandPath, statsPath, stagedPath), Nil,
    "delete", "reinstate", (spark, wh) => readStore(spark, docsPath(wh)))

  val EmbeddingModality = Modality("vec_id", "vec", embVecsPath,
    embBandsPath, embPairsPath, embCcPath, embCappedPath, stagedEmbPath,
    embTombPath, Seq("vec_a", "vec_b"), Seq("band", "code"),
    Seq(embVecsPath, embBandsPath, semAsgPath, stagedEmbPath),
    Seq((semPairsPath, semCcPath)), "delete_embeddings",
    "reinstate_embeddings", (spark, wh) => readStore(spark, embVecsPath(wh)))

  val MediaModality = Modality("media_id", "media", mediaHashPath,
    mediaBandsPath, mediaPairsPath, mediaCcPath, mediaCappedPath,
    stagedMediaPath, mediaTombPath, Seq("media_a", "media_b"),
    Seq("ci", "chunk"), Seq(mediaHashPath, mediaBandsPath, stagedMediaPath),
    Nil, "delete_media", "reinstate_media",
    (spark, wh) => readStore(spark, mediaHashPath(wh))
      .filter(col("phash").isNotNull && col("phash") =!= lit(-1L)))

  val modalities: Seq[Modality] =
    Seq(TextModality, EmbeddingModality, MediaModality)

  /** Generic scan of a root of `<prefix><stamp>` artifact dirs committed
    * by a lands-last `<marker>` file: (committed stamps ascending,
    * uncommitted residue dirs). Shared by snapshots and exports — both
    * commit the same way, so fsck/repair reason about both identically.
    */
  def scanStamped(spark: SparkSession, rootDir: String,
                          prefix: String,
                          marker: String): (Seq[Long], Seq[String]) = {
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) (Nil, Nil)
    else {
      val dirs = fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .map(_.getPath)
      val (committed, torn) = dirs.partition(p =>
        fs.exists(new org.apache.hadoop.fs.Path(p, marker)))
      // a committed-looking dir whose stamp suffix is not a long (foreign
      // residue like `snap_ts=tmp` containing the marker name) must not
      // brick the read paths with NumberFormatException — these scans
      // back listCorpusSnapshots, curatedAsOf, fsck and repair, i.e. the
      // diagnostic paths themselves. Treat it as residue: invisible to
      // reads, surfaced through the uncommitted bucket fsck already warns
      // on (repair deliberately does NOT clear it — it is not ours).
      val (stamped, foreign) = committed.partition(p =>
        p.getName.stripPrefix(prefix).forall(_.isDigit) &&
          p.getName.length > prefix.length)
      (stamped.map(_.getName.stripPrefix(prefix).toLong).sorted,
        (torn ++ foreign).map(_.toString))
    }
  }

  /** True when `dir`'s basename is OUR stamp shape (`<prefix><long>`) —
    * the residue classes repair may clear; anything else is foreign.
    */
  def isStampResidue(dir: String, prefix: String): Boolean = {
    val name = dir.split('/').last
    name.startsWith(prefix) && name.length > prefix.length &&
      name.stripPrefix(prefix).forall(_.isDigit)
  }

  /** Monotonic artifact stamp: explicit stamps must advance past the
    * latest prior stamp (refused otherwise); the default clock stamp
    * self-corrects same-millisecond collisions. Callers hold the lease,
    * so reading `prior` then stamping is race-free.
    */
  def nextStamp(prior: Seq[Long], atMs: Option[Long],
                        what: String): Long = atMs match {
    case Some(t) =>
      // non-negative: scanStamped reads only `<prefix><digits>` dir names
      // (anything else is foreign residue), so a negative explicit stamp
      // would write an artifact no reader can ever resolve
      require(t >= 0, s"$what: stamp $t must be non-negative")
      require(prior.forall(_ < t),
        s"$what: stamp $t is not after the latest ${prior.max} — " +
          "stamps are monotonic per warehouse")
      t
    case None =>
      val now = System.currentTimeMillis()
      if (prior.isEmpty) now else math.max(now, prior.max + 1L)
  }

  /** Drop a warehouse table AND every `<path>._*` sibling artifact plus
    * any catalog registration — the rebuild primitive retrain uses. A
    * directory-only delete would leave a bucket-spec ledger pointing at
    * nothing and a stale threshold stamp guarding an empty table. The
    * sweep is a GLOB over the sibling naming convention (every control
    * artifact next to a table is `<table>._<name>`), not a fixed list,
    * so it also clears:
    *   - ledger families the old list missed (`._promoted_upto`,
    *     `._ingested_upto`, ...) — a STALE survivor after a
    *     drop-and-rebuild would skip guarded work, the opposite of the
    *     absent-reads-as--1 fail-safe;
    *   - `._<ledger>.tmp-xxxxxxxx` — AtomicFiles.writeAtomic's
    *     documented-inert crash residue, previously immortal;
    *   - a parked `._compact_old`/`._compact_tmp` compaction dir —
    *     leaving the parked copy made the DROPPED table read as
    *     crash-parked ("run repair") instead of absent, flipping every
    *     rebuild branch. Deleting it is safe exactly because dropStore's
    *     contract is "this table's data is gone": callers hold the
    *     warehouse lease, so no other writer's swap can be mid-flight.
    */
  def dropStore(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // sibling-delete failures PROPAGATE (as the pre-sweep fixed list's
    // did): swallowing one would return success while leaving exactly
    // the stale guard the sweep exists to remove — a surviving
    // `._promoted_upto` next to a rebuilt table silently skips the
    // guarded work on the next promotion pass. fs.delete reports
    // failure BOTH ways (some filesystems throw, HDFS-style ones
    // return false on an existing path), so the boolean is checked
    // too; false on an already-gone sibling is the benign race and
    // passes.
    val siblings = fs.globStatus(new org.apache.hadoop.fs.Path(path + "._*"))
    if (siblings != null) siblings.foreach { st =>
      if (!fs.delete(st.getPath, true) && fs.exists(st.getPath))
        sys.error(s"dropStore: could not delete sibling ${st.getPath} — " +
          "a surviving control artifact would guard the rebuilt table " +
          "with stale state")
    }
    val name = Sinks.bucketedTableName(path)
    if (spark.catalog.tableExists(name))
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }
}
