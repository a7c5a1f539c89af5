package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-cut policy for the iterative and ingest paths.
  *
  * Components' contraction rounds and CorpusIngest's per-drop increments
  * must cut lineage eagerly (round plans double per iteration; the
  * increment's defining anti-join reads the very store its append then
  * writes). `localCheckpoint()` does that with executor-held blocks —
  * fast, but NOT durable: on a real cluster an executor loss mid-job
  * (spot reclaim, OOM kill, dynamic deallocation) makes the cut frame
  * unrecoverable and fails the whole multi-hour drop or component job.
  * The reference survives worker loss by construction (immutable bronze +
  * re-run, v2022/etl-containers/aggregates/src/aggregates_etl.py:119-125);
  * a long-running ingest driver needs the same property.
  *
  * `cut` is the one switch: by default it localCheckpoints (the right
  * trade for tests and short interactive jobs — no filesystem round
  * trip); when the session carries `spark.graft.checkpointDir`, every cut
  * becomes a RELIABLE `checkpoint()` into that directory, so a lost
  * executor re-reads the cut from durable storage instead of killing the
  * job. Correctness is identical either way — both cuts are eager and
  * both truncate lineage; only the failure domain changes.
  *
  * The directory is job-scratch, not a table: Spark writes
  * `<dir>/<uuid>/rdd-*` files and does not garbage-collect them for a
  * live session (intermediate rounds accumulate until the job ends) —
  * point it at scratch space and delete it after the run, like a shuffle
  * dir. `withCheckpointDir` scopes the switch to one call tree and
  * restores the previous setting on exit.
  */
object Checkpoints {

  /** Session conf key: set (non-empty) to switch every `cut` in the
    * session from executor-local to reliable checkpointing — the GLOBAL
    * mode a production driver sets once at session build.
    */
  val DirKey = "spark.graft.checkpointDir"

  // withCheckpointDir's scoping is a call-tree-local override, NOT a
  // session-conf flip: two concurrent call trees on one session (two
  // warehouses, two threads) would otherwise interleave set/restore and
  // cross-apply or strand each other's dirs — the same hazard class the
  // co-partition flip in Sinks takes a JVM lock for, solved here without
  // serializing whole ingest bodies because the value is only read on the
  // calling thread (all cuts are synchronous driver-side calls).
  private val localDir = new scala.util.DynamicVariable[Option[String]](None)

  /** The configured durable checkpoint dir, if any: the enclosing
    * `withCheckpointDir` scope first, the session conf otherwise.
    */
  def configured(spark: SparkSession): Option[String] =
    localDir.value.orElse(
      spark.conf.getOption(DirKey).filter(_.trim.nonEmpty))

  // SparkContext.setCheckpointDir creates a fresh UUID subdirectory per
  // call — remember the base we last set per context so repeated cuts
  // reuse one subdirectory instead of littering one per cut
  private val lastBase = new ConcurrentHashMap[SparkContext, String]()

  /** Cut `df`'s lineage EAGERLY (the frame is computed now, and the
    * returned frame's plan is a scan of the materialized result).
    * Durable when the session configures `DirKey`; executor-local
    * otherwise.
    */
  def cut(df: DataFrame): DataFrame = cutCounted(df)._1

  /** `cut`, also returning the cut frame's row count. The count comes
    * from the job that materializes the cut — the same single pass either
    * branch runs anyway — so a caller that needs both pays no second
    * action over the cut frame.
    */
  def cutCounted(df: DataFrame): (DataFrame, Long) = {
    val spark = df.sparkSession
    // marking is lazy in both branches; counting the marked frame's rows
    // is the materializing job, and the checkpoint completes when it
    // ends (a local cut keeps the blocks that job cached; a reliable one
    // then writes its files from them)
    def materialize(marked: DataFrame) =
      (marked, marked.queryExecution.toRdd.count())
    configured(spark) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // Reliable RDD checkpointing runs a SECOND job to write the files,
        // and that write job RECOMPUTES every partition of the marked RDD
        // unless its blocks are already cached (the documented
        // RDD.checkpoint behavior — Spark's own scaladoc recommends
        // persisting first). Without the persist, every durable cut paid
        // its plan twice: per contraction round in Components, per
        // increment in a multi-hour ingest — 2× the cut cost in exactly
        // the production mode durability exists for. Persist
        // MEMORY_AND_DISK before the mark, so the forcing count populates
        // blocks and the checkpoint write job reads them back instead of
        // re-running the upstream plan; unpersist once the files are on
        // disk. Skipped when the caller already persisted the frame —
        // their cache, their release discipline.
        val ourPersist =
          df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
        if (ourPersist)
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // setCheckpointDir is CONTEXT-global while the scoped dir is
          // call-tree-local, and the reliable-checkpoint machinery captures
          // the context's dir at RDD-MARK time (Dataset.checkpoint marks
          // synchronously even with eager = false). So the lock must span
          // set + mark as one unit: marking outside it would let a
          // concurrent cut() flip the dir between our set and our mark, and
          // this frame's files would land in the OTHER call tree's scratch
          // dir — deleted when that run ends, stranding a live job's cut.
          // The locked section is cheap driver-side work (no Spark job);
          // the job that materializes the cut runs OUTSIDE the lock.
          val marked = lastBase.synchronized {
            if (lastBase.get(sc) != dir) {
              sc.setCheckpointDir(dir)
              lastBase.put(sc, dir)
            }
            df.checkpoint(eager = false)
          }
          // force materialization now — same effect as eager = true (the
          // checkpoint files write at the end of this first job, reading
          // the blocks the job just cached), without holding the lock
          // across the job
          materialize(marked)
        } finally {
          // the checkpoint files are on disk once the count returns (the
          // write job runs inside the same action) — the cache was
          // scaffolding for the write, not state the cut depends on
          if (ourPersist) df.unpersist(blocking = false)
        }
      case None => materialize(df.localCheckpoint(eager = false))
    }
  }

  /** Run `body` with reliable checkpointing into `dir` — a call-tree
    * override scoped to the calling thread (restored on exit even on
    * throw), so concurrent ingests on one session can each carry their
    * own durability dir without touching the shared session conf. The
    * `spark` parameter keeps the call shape symmetric with `configured`;
    * the session itself is not mutated.
    *
    * `cleanup = true` deletes the scratch content under `dir` when the
    * body exits (success or throw) — Spark never garbage-collects a live
    * session's checkpoint files, so a daily cadence without this
    * accumulates one rdd-* set per drop forever. Opt-in because it is
    * only safe when the body MATERIALIZES everything it hands back
    * (counts, parquet tables): a returned frame still backed by a
    * checkpointed RDD would lose its data. Every CorpusIngest entry
    * point qualifies — their cuts are internal and their returns are
    * scalars or warehouse scans.
    */
  def withCheckpointDir[T](spark: SparkSession, dir: String,
                           cleanup: Boolean = false)(body: => T): T =
    try localDir.withValue(Some(dir))(body)
    finally if (cleanup) cleanScratch(spark, dir)

  /** Delete the checkpoint scratch under `dir` (the rdd-* file sets Spark
    * wrote for this session's cuts) and forget the dir binding, so a later
    * cut re-creates a fresh scratch subdirectory. Call AFTER every frame
    * cut into `dir` is consumed — one call tree per dir is the
    * `withCheckpointDir` contract, so the tree's own exit is the safe
    * point. The base directory itself is kept (it may be a mount point the
    * operator provisioned).
    */
  def cleanScratch(spark: SparkSession, dir: String): Unit = {
    val sc = spark.sparkContext
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    lastBase.synchronized {
      if (lastBase.get(sc) == dir) lastBase.remove(sc)
      if (fs.exists(p)) fs.listStatus(p).foreach(st => fs.delete(st.getPath, true))
    }
  }
}
