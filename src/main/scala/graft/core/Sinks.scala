package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance semantics of the reference (SURVEY.md §1.2), columnar:
  *
  * - current view: fixed-key overwrite (O-SNK1 —
  *   polygon-etl-container/src/reference_endpoints_etl.py:57-60)
  * - snapshot history: timestamped append (O-SNK2 — :25-26,61-62), here a
  *   snapshot_ts partition so "what was known when" (README.md:8) is a
  *   partition-pruned read, not a key-listing scan
  * - facts: idempotent keyed append (O-SNK5 + O-J2 anti-join —
  *   old_source/old_source_op.py:170-176), exactly-once visible under
  *   at-least-once upstream
  */
object Sinks {

  /** O-SNK1: overwrite the current view at a fixed path. */
  def writeCurrent(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    stampRewriteGen(df.sparkSession, path)
  }

  /** O-SNK2: append one timestamped snapshot partition. Dynamic partition
    * overwrite (only the snapshot_ts being written is replaced, existing
    * history untouched) makes a REPLAY of the same runTs idempotent — it
    * rewrites its own partition instead of appending duplicate rows into it.
    */
  def writeSnapshot(df: DataFrame, path: String, runTs: java.sql.Timestamp): Unit = {
    df.withColumn("snapshot_ts", lit(runTs))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("snapshot_ts").parquet(path)
    // a REPLAY rewrites files inside an existing snapshot partition — a
    // subdirectory change the root mtime never reflects; the generation
    // stamp is what tells a foreign reader's cache about it
    stampRewriteGen(df.sparkSession, path)
  }

  /** The dimension-refresh sink shape shared by the batch sweep
    * (Backfill.refreshDims) and the streaming refresh
    * (LiveIngest.startDimRefresh): dedup the at-least-once pages (O-A1),
    * overwrite the current view, append the timestamped snapshot.
    */
  def refreshDimSinks(dim: DataFrame, warehouse: String, endpoint: String,
                      runTs: java.sql.Timestamp): DataFrame = {
    val deduped = dim.dropDuplicates()
    writeCurrent(deduped, s"$warehouse/dims/$endpoint")
    writeSnapshot(deduped, s"$warehouse/dims/${endpoint}_history", runTs)
    deduped
  }

  /** Stable per-batch refresh timestamp: the first run of a batchId records
    * wall-clock time in a tiny ledger file; an at-least-once REPLAY of the
    * same batchId reads it back and re-writes the SAME snapshot_ts
    * partition (idempotent with writeSnapshot's dynamic overwrite) instead
    * of polluting history with a duplicate snapshot under a new timestamp.
    */
  def stableBatchTs(spark: SparkSession, ledgerDir: String,
                    batchId: Long): java.sql.Timestamp = {
    val p = new org.apache.hadoop.fs.Path(s"$ledgerDir/batch-$batchId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // EMPTY = a torn stamp (the atomic publish renames without fsync,
    // so power loss can leave a zero-length file); nothing used the
    // stamp (it is read before the snapshot write), so restamping is
    // safe — reading it as a timestamp would brick the batchId.
    AtomicFiles.readLine(fs, p).filter(_.trim.nonEmpty) match {
      case Some(line) => new java.sql.Timestamp(line.trim.toLong)
      case None =>
        val now = System.currentTimeMillis()
        AtomicFiles.writeAtomic(fs, p, now.toString)
        new java.sql.Timestamp(now)
    }
  }

  /** Latest snapshot view. The scalar max is a single-column scan over the
    * history (Spark disables metadata-only aggregates by default) — cheap at
    * any plausible dimension-history size but not free; the equality filter
    * it feeds DOES prune every other snapshot partition at planning, so the
    * data read is one snapshot regardless of history length.
    * Partition-type inference reads fractional-second snapshot_ts values
    * back as STRING (whole-second ones as timestamp), and string max is NOT
    * chronological there (Timestamp.toString trims trailing zeros, so ".9"
    * sorts after ".102") — the cast normalizes both shapes before the max
    * and the filter.
    */
  def latestSnapshot(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
      .withColumn("snapshot_ts", col("snapshot_ts").cast("timestamp"))
    val maxTs = df.select(max(col("snapshot_ts"))).collect()(0).getTimestamp(0)
    df.filter(col("snapshot_ts") === lit(maxTs))
  }

  /** Point-in-time snapshot read: the state of the dimension as it was
    * known at `asOf` — the latest snapshot_ts at or before that instant
    * (the reference's forensic-replay capability: timestamped snapshot keys,
    * polygon-etl-container/src/reference_endpoints_etl.py:25-26; "stale"
    * reads, README.md:8). Same shape and cost as latestSnapshot: a cheap
    * single-column scan finds the snapshot_ts, then the equality filter
    * prunes every other snapshot partition at planning — the data read is
    * one snapshot. Throws if the history starts after `asOf` (asking
    * "what was known then" when nothing was is a caller bug, not an empty
    * result).
    */
  def snapshotAsOf(spark: SparkSession, path: String,
                   asOf: java.sql.Timestamp): DataFrame = {
    val df = spark.read.parquet(path)
      .withColumn("snapshot_ts", col("snapshot_ts").cast("timestamp"))
    val ts = df.filter(col("snapshot_ts") <= lit(asOf))
      .select(max(col("snapshot_ts"))).collect()(0).getTimestamp(0)
    require(ts != null, s"no snapshot at or before $asOf in $path")
    df.filter(col("snapshot_ts") === lit(ts))
  }

  /** SNAPSHOT DIFF — what changed in a dimension between two points in
    * time: the audit companion to snapshotAsOf (the reference keeps
    * timestamped snapshots precisely so "what was known when" questions
    * have answers; this answers "what changed between then and then" —
    * tickers listed/delisted, a split record corrected). Each side is a
    * snapshotAsOf read, so partition pruning reduces the scan to the two
    * snapshots named; the diff itself is one full-outer join on the key,
    * shuffle bounded by the two snapshot sizes. Rows present in both with
    * every shared column equal are dropped; the rest classify as
    * added / removed / changed, with the changed column names listed.
    * Columns only one snapshot has (schema evolution between the two) are
    * ignored by the value compare — the diff reports ROW change within the
    * shared schema.
    */
  def diffSnapshots(spark: SparkSession, path: String,
                    fromTs: java.sql.Timestamp, toTs: java.sql.Timestamp,
                    keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diffSnapshots needs at least one key column")
    val a = snapshotAsOf(spark, path, fromTs).drop("snapshot_ts")
      .withColumn("_in_a", lit(1))
    val b = snapshotAsOf(spark, path, toTs).drop("snapshot_ts")
      .withColumn("_in_b", lit(1))
    val shared = a.columns.toSet.intersect(b.columns.toSet)
    require(keys.forall(shared.contains),
      s"diff keys ${keys.mkString(",")} must exist in both snapshots")
    val dataCols = (shared -- keys - "_in_a" - "_in_b").toSeq.sorted
    val cond = keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _)
    val changed = array_compact(array(dataCols.map(c =>
      when(!(col(s"a.$c") <=> col(s"b.$c")), lit(c))): _*))
    a.as("a").join(b.as("b"), cond, "full_outer")
      .withColumn("status",
        when(col("a._in_a").isNull, "added")
          .when(col("b._in_b").isNull, "removed")
          .when(size(changed) > 0, "changed"))
      .filter(col("status").isNotNull)
      .select(keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++
        Seq(col("status"),
          when(col("status") === "changed", changed)
            .otherwise(array().cast("array<string>")).as("changed_cols")): _*)
  }

  /** SNAPSHOT RETENTION — expire old history partitions. The snapshot
    * history grows by one `snapshot_ts=` partition per refresh forever
    * (the reference's timestamped snapshot keys accumulate the same way,
    * polygon-etl-container/src/reference_endpoints_etl.py:25-26); at a
    * daily cadence over years that is unbounded storage AND an
    * ever-longer partition listing on every as-of read. Expiry is a
    * PARTITION-level delete — each snapshot is one directory, so dropping
    * it is a metadata operation, no data rewrite, no read of surviving
    * snapshots.
    *
    * A snapshot expires iff it is NOT among the newest `keepLast` AND
    * (when `olderThan` is given) its ts is strictly before that instant —
    * so `keepLast = 1, olderThan = Some(ts)` is pure age-based retention,
    * and `keepLast = n` alone is pure count-based. The newest snapshot
    * never expires (a dimension with no current state is a bug, not a
    * policy). After expiry, `snapshotAsOf` for an instant older than the
    * oldest retained snapshot THROWS — expired means gone, the forensic
    * window is explicitly the retained range. A crash mid-expiry leaves a
    * legal table (each partition delete is independent and retention is
    * monotone — a re-run completes the sweep). Returns
    * (snapshotsBefore, snapshotsAfter).
    */
  def expireSnapshots(spark: SparkSession, path: String, keepLast: Int,
                      olderThan: Option[java.sql.Timestamp] = None): (Int, Int) = {
    require(keepLast >= 1, s"must keep at least one snapshot, got $keepLast")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // partition VALUES come from the directory names (metadata, no file
    // reads). Names are Hive-escaped ("%3A" for ':'); URLDecoder undoes
    // %XX — with literal '+' pre-masked, since URL decoding would turn it
    // into a space while path escaping never does.
    val prefix = "snapshot_ts="
    def tsOf(p: org.apache.hadoop.fs.Path): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(java.net.URLDecoder.decode(
        p.getName.substring(prefix.length).replace("+", "%2B"), "UTF-8"))
    val parts = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath).sortBy(tsOf(_).getTime) // oldest first
    val beyondKeep = parts.dropRight(keepLast)
    val expired = beyondKeep.filter(p =>
      olderThan.forall(o => tsOf(p).before(o)))
    expired.foreach(p => require(fs.delete(p, true),
      s"expireSnapshots: could not delete $p"))
    (parts.length, parts.length - expired.length)
  }

  /** O-SNK3: JDBC full-replace dimension refresh — the reference's
    * to_sql(if_exists='replace') (v2022/etl-containers/reference-data/src/
    * reference_data_etl.py:60-67). truncate=true keeps the DDL in place on
    * engines that support it.
    */
  def writeJdbcReplace(df: DataFrame, url: String, table: String): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("truncate", "true")
      .mode(SaveMode.Overwrite).save()

  /** O-SNK4: JDBC audited append — the designed per-ticker append with
    * insert_timestamp (v2022/etl-containers/aggregates/src/
    * aggregates_etl.py:169-177).
    */
  def writeJdbcAppend(df: DataFrame, url: String, table: String): Unit =
    df.withColumn("insert_timestamp", current_timestamp())
      .write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .mode(SaveMode.Append).save()

  // ---- swap/park protocol (see core.SwapProtocol) --------------------------
  //
  // The rewrite-swap crash/park/token contract lives in SwapProtocol — one
  // self-contained seam readers, writers, and fsck share. These delegations
  // keep the long-standing Sinks call surface stable.

  /** Filesystem-agnostic existence check — see [[SwapProtocol.pathExists]]. */
  private[graft] def pathExists(spark: SparkSession, path: String): Boolean =
    SwapProtocol.pathExists(spark, path)

  /** Crash-parked swap signature — see [[SwapProtocol.hasParkedSwap]]. */
  def hasParkedSwap(spark: SparkSession, path: String): Boolean =
    SwapProtocol.hasParkedSwap(spark, path)

  /** Inflight-token TTL conf key — see [[SwapProtocol.SwapInflightTtlKey]]
    * (including the clock-skew sizing note).
    */
  val SwapInflightTtlKey: String = SwapProtocol.SwapInflightTtlKey

  /** Clock-skew allowance conf key — see
    * [[SwapProtocol.SwapSkewAllowanceKey]].
    */
  val SwapSkewAllowanceKey: String = SwapProtocol.SwapSkewAllowanceKey

  /** Park-aware existence gate — see [[SwapProtocol.storePresent]] —
    * that ALSO heals the torn-store-create crash state for WRITERS:
    * under the caller's own warehouse lease, a bare directory a killed
    * FIRST create left behind (zero committed files at any depth; the
    * spec ledger lands after the files, so it is not a bucketed store
    * either) is cleared and reported ABSENT, so a drop's retry takes
    * its first-create branch. Found by the soak under an alternate kill
    * seed: a kill inside ingestEmbeddings' first store create bricked
    * EVERY retry — the gate said "present", so the retry's pre-append
    * trim read the torn store and died on the torn-create verdict,
    * forever. Same heal-under-lease shape as the park recovery inside
    * SwapProtocol.storePresent. Lease-free callers see the state
    * unchanged and the reader contract applies (CorpusStore.readStore's
    * documented loud verdict): healing without the lease could delete a
    * LIVE writer's first create out from under its in-flight job. This
    * heal is layout-agnostic (plain tables get it too); the keyed corpus
    * tables add the stronger rule that a directory WITH committed files
    * but no spec ledger is an interrupted create as well
    * (`CorpusStore.keyedStorePresent`).
    */
  def storePresent(spark: SparkSession, path: String): Boolean = {
    val present = SwapProtocol.storePresent(spark, path)
    if (present &&
        graft.core.WarehouseLease.heldByCurrentThread(spark, path) &&
        !isBucketedStore(spark, path) &&
        !hasCommittedDataFiles(spark, path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      false
    } else present
  }

  /** True when `path` holds at least one COMMITTED data file — a file
    * whose name Spark's readers would admit (not `_`/`.`-prefixed write
    * -protocol residue like `_temporary` or `_SUCCESS`), at any depth.
    * The discriminator for the TORN STORE CREATE crash state (r19
    * cross-JVM soak): a writer killed between a first create's
    * directory creation and its first task commit leaves a bare
    * directory that plain reads explode on (no footer to infer from)
    * and the bucketed create path refused as "exists but not bucketed"
    * — bricking the drop's retry. A dir in this state is provably
    * valueless (nothing ever committed), so writers clear-and-recreate
    * it and integrity readers treat it as holding zero rows. Early-exit
    * walk: cost is one listing batch per directory level until the
    * first committed file, O(1) on any healthy store.
    */
  def hasCommittedDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: org.apache.hadoop.fs.Path): Boolean = {
      val listing =
        try fs.listStatus(d)
        catch { case _: java.io.FileNotFoundException => return false }
      listing.exists { st =>
        val name = st.getPath.getName
        !name.startsWith("_") && !name.startsWith(".") &&
          (st.isFile || walk(st.getPath))
      }
    }
    fs.exists(p) && walk(p)
  }

  /** Build a static partition-pruning predicate restricting `stored` to
    * the partition values present in `batch`: the existence anti-join's
    * store side then READS only the partitions the batch can possibly
    * collide with (PartitionFilters at the scan), instead of scanning the
    * whole cumulative table per append — the difference between
    * increment-sized and warehouse-sized I/O for a daily backfill into a
    * years-deep silver. The distinct partition tuples are a driver-side
    * list (bounded by the batch's own partition spread, the same class as
    * the planner's partition listing); above `cap` distinct tuples the
    * pruning is skipped — the batch touches most of the table anyway and a
    * megabyte-scale IN-list would bloat the plan.
    */
  private[graft] def partitionPrunePredicate(batch: DataFrame,
                                             stored: DataFrame,
                                             partitionCols: Seq[String],
                                             cap: Int = 1000): Option[Column] = {
    if (partitionCols.isEmpty) return None
    val tuples = batch.select(partitionCols.map(col): _*)
      .dropDuplicates().limit(cap + 1).collect()
    if (tuples.isEmpty || tuples.length > cap) None
    else Some(tuples.map { r =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        val v = r.get(i)
        // compare in the STORED column's type (partition-type inference can
        // read a written string back as int): the literal is cast exactly
        // once, the same coercion the keyed anti-join itself would apply —
        // a type-mismatched batch value prunes to the same partitions the
        // join could match, so pruning can never create a duplicate the
        // unpruned join would have caught
        if (v == null) col(c).isNull
        else col(c) === lit(v).cast(stored.schema(c).dataType)
      }.reduce(_ && _)
    }.reduce(_ || _))
  }

  def idempotentAppend(df: DataFrame, path: String, keys: Seq[String],
                       partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    def write(fresh: DataFrame): Unit = {
      val writer = fresh.write.mode(SaveMode.Append)
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
       else writer).parquet(path)
      // appends into existing partition subdirs move no root mtime —
      // only the generation stamp makes foreign readers relist
      stampRewriteGen(spark, path)
    }
    if (!pathExists(spark, path)) return write(df)
    // torn store create (hasCommittedDataFiles doc): a bare directory a
    // killed first-create left behind holds nothing to anti-join
    // against and no footer to read — write as if absent; Append
    // coexists with the dead job's `_temporary` residue
    if (!hasCommittedDataFiles(spark, path)) return write(df)
    val storedAll = spark.read.parquet(path)
    // schema-drift guard BEFORE anything touches the stored schema by
    // name: parquet append would happily interleave a drifted batch
    // (renamed/retyped/new column) and every later read fails far from
    // the cause — refuse HERE with the actual diff, not with whatever
    // field-lookup error a downstream step hits first. Partition columns
    // come back from the read in Spark's inferred types, so compare on
    // name + the df's own column set.
    val batchCols = df.columns.toSet
    val storedCols = storedAll.columns.toSet
    require(batchCols == storedCols,
      s"idempotentAppend: schema drift for $path — batch-only columns: " +
        s"${(batchCols -- storedCols).toSeq.sorted.mkString(", ")}; " +
        s"table-only columns: ${(storedCols -- batchCols).toSeq.sorted.mkString(", ")}")
    // a RETYPED column (same name, new type) poisons later reads the
    // same way — compare types too, skipping partition columns, which
    // the read returns in inferred (not written) types. Compare on
    // catalogString, not DataType equality: nullability flags
    // (array containsNull, struct field nullable) legitimately differ
    // between a written table and a fresh batch and are not drift.
    val storedTypes = storedAll.schema
      .filterNot(f => partitionCols.contains(f.name))
      .map(f => f.name -> f.dataType).toMap
    val retyped = df.schema
      .filterNot(f => partitionCols.contains(f.name))
      .filter(f => storedTypes.get(f.name).exists(_.catalogString != f.dataType.catalogString))
    require(retyped.isEmpty,
      s"idempotentAppend: type drift for $path — " + retyped.map(f =>
        s"${f.name}: table=${storedTypes(f.name).catalogString} " +
          s"batch=${f.dataType.catalogString}").mkString(", "))
    // partition-prune the existence scan ONLY when every partition column
    // is part of the key: then a key determines its partition and a
    // replayed key can only collide inside the pruned slice. When the
    // partition column is NOT in the key (keys=[id], partitioned by a
    // derived lang), a redelivered key arriving with a DIFFERENT partition
    // value would hide from a pruned scan and land twice — the keyed
    // contract outranks the I/O saving, so that shape scans the table.
    if (partitionCols.nonEmpty && partitionCols.forall(keys.contains)) {
      // the prune's distinct-tuple collect is a second pass over the
      // batch's upstream; persist the (increment-sized) batch so the
      // collect materializes it once and the anti-join + write read the
      // cache instead of re-running a possibly expensive upstream chain
      GraftCaches.withScope(spark) {
        val batch = GraftCaches.acquire(df)
        val stored = partitionPrunePredicate(batch, storedAll, partitionCols)
          .map(storedAll.filter).getOrElse(storedAll)
        write(batch.join(stored.select(keys.map(col): _*), keys, "left_anti"))
      }
    } else {
      write(df.join(storedAll.select(keys.map(col): _*), keys, "left_anti"))
    }
  }

  /** HARD DELETE by key — the governance pass a training-data warehouse
    * needs (takedowns, right-to-be-forgotten, poisoned-document purges):
    * rewrite the table WITHOUT the keyed rows and swap atomically, so the
    * data is gone from the files, not merely filtered at read time. The
    * delete set joins as thin deduplicated key rows — NOT hint-forced to
    * broadcast: a takedown list can be millions of keys, and AQE already
    * broadcasts it when it is small; everything else streams through one
    * distributed pass. Returns (rowsBefore, rowsAfter).
    */
  def deleteByKey(spark: SparkSession, path: String, keys: DataFrame,
                  keyCols: Seq[String],
                  partitionCols: Seq[String] = Nil): (Long, Long) = {
    require(keyCols.nonEmpty, "deleteByKey needs at least one key column")
    val stored = readForRewrite(spark, path)
    val keyRows = keys.select(keyCols.map(col): _*).dropDuplicates()
    // parquet count(*) rides row-group footers, not a data pass
    val before = stored.count()
    // early-exit existence probe: a takedown matching nothing must not pay
    // (or churn) a full-table rewrite — limit(1) stops at the first hit
    val hasMatch = !stored.join(keyRows, keyCols, "left_semi").limit(1).isEmpty
    if (!hasMatch) (before, before)
    else {
      // the after-count rides the rewrite job itself (df.observe) instead
      // of a standalone anti-join count — that count was a second full
      // pass over the table per takedown
      val obs = org.apache.spark.sql.Observation("graft_delete_kept")
      val kept = stored.join(keyRows, keyCols, "left_anti")
        .observe(obs, count(lit(1)).as("kept"))
      swapInto(spark, path, kept, partitionCols, targetFiles = None)
      (before, obs.get("kept").asInstanceOf[Long])
    }
  }

  /** Recursive count of parquet data files under a table path — the
    * fragmentation signal maintenance callers gate compaction on.
    */
  def dataFileCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Small-file COMPACTION — the maintenance pass every long-running ingest
    * needs: idempotentAppend lands one file set per batch, so a day of
    * minute triggers leaves ~1440 file sets per partition and scans start
    * paying per-file open cost instead of streaming row groups. Rewrites
    * the table in one distributed pass to `targetFiles` output tasks
    * (per-partition-value files for a partitioned table), then swaps the
    * directory in ATOMICALLY: write to `._compact_tmp`, stage the live dir
    * to `._compact_old`, rename tmp into place, drop the old — a reader
    * always sees the complete old or the complete new table, never a
    * partial one. Rename-based, so atomic on local/HDFS; object stores
    * need a manifest/table format instead (documented non-goal here).
    * Returns (dataFilesBefore, dataFilesAfter).
    *
    * DO NOT point this at a Structured Streaming parquet-SINK table
    * (LiveIngest's silver/bars_live): the sink's _spark_metadata manifest
    * pins the exact file set, and a directory swap orphans it — readers of
    * such tables resolve files through the manifest, not the listing.
    * Compact batch tables (idempotentAppend landings) only; for streaming
    * landings, `promote` into a batch table first and compact that.
    *
    * `clusterCols`: optional within-partition RANGE clustering for the
    * rewrite — output tasks are range-partitioned and sorted on
    * (partitionCols ++ clusterCols) instead of hash-clustered on the
    * partition columns alone, so each rewritten file covers a contiguous
    * clusterCols interval within its partition value. That is what lets
    * parquet's per-file and per-row-group min/max statistics skip data on
    * a range filter: a hash-clustered compaction smears e.g. the full time
    * range across every file of a series and the statistics skip nothing.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int,
              partitionCols: Seq[String] = Nil,
              clusterCols: Seq[String] = Nil): (Long, Long) = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val before = dataFileCount(spark, path)
    swapInto(spark, path, readForRewrite(spark, path), partitionCols,
      targetFiles = Some(targetFiles), clusterCols = clusterCols)
    (before, dataFileCount(spark, path))
  }

  /** Table read for an in-place rewrite (compact / deleteByKey): partition
    * directory TEXT must round-trip exactly, so partition-column type
    * inference is disabled for this read — a string partition value that
    * merely looks numeric (lang='2', or worse '02') would otherwise come
    * back as int and be re-serialized on write, silently renaming the
    * partition directory (lang=02 → lang=2) and retyping the column in the
    * rewritten table. With inference off, partition values pass through as
    * the exact strings in the directory names; downstream readers' own
    * inference is unaffected. The conf flip is scoped to relation
    * resolution (inference happens eagerly at load).
    */
  private def readForRewrite(spark: SparkSession, path: String): DataFrame = {
    // a previous swap may have crashed mid-rename — restore the parked
    // table before reading it for this rewrite
    recoverSwap(spark, path)
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try spark.read.option("basePath", path).parquet(path)
    finally spark.conf.set(key, old)
  }

  /** The fragmentation gate maintenance callers share (Backfill's silver
    * sweep, promoted live tables): compact `path` only once its data-file
    * count exceeds `factor × targetFiles` — below that the rewrite costs
    * more than the per-file open overhead it saves. Returns the
    * (before, after) file counts when a compaction ran.
    */
  def compactIfFragmented(spark: SparkSession, path: String, targetFiles: Int,
                          partitionCols: Seq[String] = Nil,
                          factor: Int = 4,
                          clusterCols: Seq[String] = Nil): Option[(Long, Long)] =
    if (dataFileCount(spark, path) > factor.toLong * targetFiles)
      Some(compact(spark, path, targetFiles, partitionCols, clusterCols))
    else None

  /** PROMOTE a Structured Streaming parquet-sink landing into a compactable
    * batch table — the edge between LiveIngest's per-trigger file sets and
    * the batch silver tables that compaction and backfill maintain (the
    * reference's daily cadence, airflow-dags/dag_aggregates_etl.py:377, is
    * exactly this live→batch promotion rhythm). The landing is read through
    * its `_spark_metadata` manifest — the promoted read is the manifest
    * DIFF (already, latest]: committed files only (uncommitted task output
    * is invisible to the manifest) and increment-sized however deep the
    * landing has grown — appended with `idempotentAppend` (a replayed
    * promotion is a no-op on the data), and the promoted window is MARKED
    * in a sibling ledger holding the sink's last committed manifest batch
    * id — an unchanged landing short-circuits without scanning either
    * table. The landing itself is never trimmed: its manifest pins the file
    * set, so deleting promoted files would orphan the manifest for any
    * reader of the live table; retention of the landing belongs to the
    * stream's own lifecycle, not the promoter.
    *
    * Returns the sink batch id promoted up to, or None when the landing has
    * nothing new. The ledger is advisory — losing it (it lives beside the
    * batch table, so `compact`'s directory swap preserves it) only costs a
    * rescan; `idempotentAppend`'s key anti-join still guards exactly-once.
    *
    * `bucketSpec` (bucketKeys, numBuckets): when set, the batch table is a
    * path-anchored BUCKETED store (bucketedIdempotentAppend) instead of a
    * plain parquet table — the right layout for a cumulative keyed target
    * whose every promotion anti-joins the full table (the table side of
    * that join then plans no exchange). Mutually exclusive with
    * partitionCols (a bucketed store is unpartitioned by design here).
    */
  def promote(spark: SparkSession, streamingSinkPath: String,
              batchTablePath: String, keys: Seq[String],
              partitionCols: Seq[String] = Nil,
              bucketSpec: Option[(Seq[String], Int)] = None): Option[Long] = {
    require(partitionCols.isEmpty || bucketSpec.isEmpty,
      "promote: partitionCols and bucketSpec are mutually exclusive")
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = new org.apache.hadoop.fs.Path(streamingSinkPath, "_spark_metadata")
    val fs = meta.getFileSystem(conf)
    require(fs.exists(meta),
      s"promote: $streamingSinkPath has no _spark_metadata manifest — not a " +
        "streaming parquet sink (batch landings append via idempotentAppend directly)")
    // FileStreamSink names manifest entries by batch id (N or N.compact)
    val latest = fs.listStatus(meta).toSeq
      .map(_.getPath.getName.stripSuffix(".compact"))
      .filter(_.forall(_.isDigit)).map(_.toLong)
      .maxOption
    val ledger = new org.apache.hadoop.fs.Path(batchTablePath + "._promoted_upto")
    val lfs = ledger.getFileSystem(conf)
    val already = readLedgerLong(lfs, ledger)
    latest.filter(_ > already).map { b =>
      // read ONLY the manifest window (already, b]: a parquet read of the
      // sink DIRECTORY resolves the full cumulative file set and an
      // always-on landing grows forever, so promoting that way re-scans
      // (and re-dedups) every old batch on every cadence — the same
      // warehouse-sized-per-increment cost class the bucketed stores
      // exist to kill. The manifest diff is a driver-side metadata
      // decision (bounded by file count); committed-only visibility is
      // preserved because the promoted set is exactly the manifest's.
      val newFiles =
        (manifestFiles(fs, meta, b) -- manifestFiles(fs, meta, already)).toSeq
      if (newFiles.nonEmpty) {
        // the landing is at-least-once UPSTREAM too: the same record can
        // sit in two committed files (a source replay), and the keyed
        // append's anti-join only guards against the TABLE, not within
        // the batch — collapse exact duplicate rows here (the reference's
        // page-dedup contract, README.md:20) so a replayed record can't
        // land twice. Within-INCREMENT suffices: a replayed row whose key
        // landed in an earlier promotion is dropped by the anti-join.
        val batch = spark.read.parquet(newFiles: _*).dropDuplicates()
        bucketSpec match {
          case Some((bk, n)) =>
            bucketedIdempotentAppend(batch, batchTablePath, keys, bk, n)
          case None =>
            idempotentAppend(batch, batchTablePath, keys, partitionCols)
        }
      }
      // atomic publish: a lease-free ledger reader (fsck's
      // watermark-vs-silver checks) polling across this re-stamp sees
      // the old high-water or the new one, never absence (= -1 = "re-do
      // everything") or a torn line
      AtomicFiles.writeAtomic(lfs, ledger, b.toString)
      b
    }
  }

  /** Single-long sibling ledger, -1 when absent or unreadable — the
    * fail-safe direction (re-promote; appends are idempotent).
    */
  private def readLedgerLong(fs: org.apache.hadoop.fs.FileSystem,
                             ledger: org.apache.hadoop.fs.Path): Long =
    AtomicFiles.readLongOrNeg(fs, ledger)

  /** RETENTION for a promoted streaming landing — the missing end of the
    * promote() lifecycle: an always-on landing is append-only and grows
    * without bound (the stream can never trim its own sink, and promote
    * deliberately leaves the file set alone), so once the batch table is
    * the system of record the promoted window is dead weight. This
    * deletes the DATA files of every batch at or below the promote
    * ledger's id — a driver-side metadata decision (the same manifest
    * resolution promote reads), touching nothing the next promotion can
    * see: promote only ever reads the manifest window ABOVE the ledger,
    * and the running stream never re-reads its own committed output.
    *
    * The trade, stated loudly: after expiry the landing directory no
    * longer serves as a TABLE (its manifest references deleted files, so
    * a directory read fails) — readers belong on the batch table, which
    * holds every promoted row keyed and deduplicated. Keep the landing
    * unexpired where it doubles as a replay/forensics source. Returns
    * (files in the promoted window, files actually deleted) — the two
    * differ only when a previous expiry already removed some (replayed
    * expiry is a no-op, same contract as every maintenance op here).
    */
  def expirePromotedLanding(spark: SparkSession, streamingSinkPath: String,
                            batchTablePath: String): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = new org.apache.hadoop.fs.Path(streamingSinkPath, "_spark_metadata")
    val fs = meta.getFileSystem(conf)
    if (!fs.exists(meta)) return (0, 0)
    val ledger = new org.apache.hadoop.fs.Path(batchTablePath + "._promoted_upto")
    val already = readLedgerLong(ledger.getFileSystem(conf), ledger)
    if (already < 0) return (0, 0)
    val promoted = manifestFiles(fs, meta, already).toSeq.sorted
    var deleted = 0
    promoted.foreach { uri =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(uri))
      if (fs.exists(p) && fs.delete(p, false)) deleted += 1
    }
    (promoted.size, deleted)
  }

  /** The committed data-file set of a FileStreamSink manifest up to and
    * including batch id `upTo` (empty for upTo < 0): the latest `.compact`
    * entry at or below `upTo` carries the full history to its id, later
    * plain entries add their batch's files — the same resolution rule as
    * Spark's CompactibleFileStreamLog, applied read-only from the driver.
    * Entry lines are v1 JSON SinkFileStatus rows; only `add` actions (the
    * sink never emits deletes) with a `path` are taken.
    */
  private[graft] def manifestFiles(fs: org.apache.hadoop.fs.FileSystem,
                                   meta: org.apache.hadoop.fs.Path,
                                   upTo: Long): Set[String] = {
    if (upTo < 0) return Set.empty
    val entries = fs.listStatus(meta).toSeq.map(_.getPath)
      .flatMap { p =>
        val name = p.getName
        val isCompact = name.endsWith(".compact")
        val idStr = name.stripSuffix(".compact")
        if (idStr.forall(_.isDigit)) Some((idStr.toLong, isCompact, p))
        else None
      }
      .filter(_._1 <= upTo)
    val lastCompact = entries.filter(_._2).map(_._1).maxOption.getOrElse(-1L)
    val relevant = entries.filter { case (id, isCompact, _) =>
      (isCompact && id == lastCompact) || (!isCompact && id > lastCompact)
    }
    relevant.flatMap { case (_, _, p) =>
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.filter(_.startsWith("{")).flatMap { line =>
        val j = org.json4s.jackson.JsonMethods.parse(line)
        val action = j \ "action" match {
          case org.json4s.JString(a) => a
          case _ => "add"
        }
        j \ "path" match {
          case org.json4s.JString(path) if action == "add" => Some(path)
          case _ => None
        }
      }
    }.toSet
  }

  /** Restore a crash-parked table — see [[SwapProtocol.recoverSwap]]. */
  def recoverSwap(spark: SparkSession, path: String): Boolean =
    SwapProtocol.recoverSwap(spark, path)

  /** Parked-swap census as (path, relative) — see
    * [[SwapProtocol.parkedSwapTables]].
    */
  def parkedSwapTables(spark: SparkSession,
                       root: String): Seq[(String, String)] =
    SwapProtocol.parkedSwapTables(spark, root)

  /** Parked-swap census — see [[SwapProtocol.parkedSwaps]]. */
  def parkedSwaps(spark: SparkSession, root: String): Seq[String] =
    SwapProtocol.parkedSwaps(spark, root)

  /** Rewrite-and-swap shared by compact and deleteByKey: write `df` (read
    * FROM the live table — staging to a sibling dir makes that safe) to
    * `._compact_tmp`, stage the live dir to `._compact_old`, rename the
    * new table into place (rolling the old one back if that fails), drop
    * the old. A reader racing a HEALTHY swap sees the complete old or
    * complete new table. `targetFiles` reshapes output parallelism; for a
    * partitioned table the partition columns lead the clustering so each
    * task holds few partition values (≈ one file per value, not
    * targetFiles × values).
    *
    * Crash window: a process dying between rename(live→old) and
    * rename(tmp→live) leaves the table path ABSENT with the data parked
    * complete at `._compact_old`. Single-writer maintenance is assumed;
    * the next swapInto (or an explicit `recoverSwap`) restores the parked
    * table before doing anything else, and a reader that finds the path
    * missing should call `recoverSwap` rather than treat the table as
    * dropped.
    */
  private[core] def swapInto(spark: SparkSession, path: String, df: DataFrame,
                       partitionCols: Seq[String],
                       targetFiles: Option[Int],
                       clusterCols: Seq[String] = Nil): Unit = {
    val reshaped = targetFiles match {
      case Some(n) if clusterCols.nonEmpty =>
        val ordering = (partitionCols ++ clusterCols).map(col)
        df.repartitionByRange(n, ordering: _*).sortWithinPartitions(ordering: _*)
      case Some(n) if partitionCols.isEmpty => df.repartition(n)
      case Some(n) => df.repartition(n, partitionCols.map(col): _*)
      case None => df
    }
    swapVia(spark, path, "swapInto") { tmp =>
      val writer = reshaped.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(tmp.toString)
    }
  }

  /** The swap steps both rewrite writers (`swapInto`, `bucketedSwapInto`)
    * share: restore a crash-parked table, clear tmp/old residue,
    * `writeTmp` the new table to `._compact_tmp`, stage the live dir out
    * and swap tmp in (rolling back on failure), drop the old, and stamp
    * the new rewrite generation.
    */
  private def swapVia(spark: SparkSession, path: String, what: String)(
      writeTmp: org.apache.hadoop.fs.Path => Unit): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "._compact_old")
    fs.delete(tmp, true); fs.delete(old, true)
    writeTmp(tmp)
    // announce the rename window BEFORE opening it and keep the token
    // LIVE (re-stamped every TTL/3) until the swap-in lands: a lease-free
    // reader catching the live-absent instant resolves it against this
    // token instead of a timing probe, however long the renames take
    // (see SwapProtocol)
    SwapProtocol.withSwapToken(spark, fs, path) {
      require(fs.rename(live, old), s"$what: could not stage out $path")
      if (!fs.rename(tmp, live)) {
        // roll the live table back before failing — never leave the path empty
        fs.rename(old, live)
        throw new IllegalStateException(s"$what: swap failed for $path; rolled back")
      }
      fs.delete(old, true)
    }
    // the swap replaced every file under the path: announce the new
    // generation so readers on OTHER drivers drop their listings too
    stampRewriteGen(spark, path)
  }

  /** CO-LOCATED join storage: write `df` hash-bucketed AND sorted by
    * `keys` into the session catalog as `table`. Two tables written with
    * the same bucket spec join with ZERO exchange — the shuffle that
    * dominates a fact-fact join at 100 TB is paid once at write time and
    * amortized over every later join/aggregate on the key (SinksSpec
    * asserts the bucketed-bucketed join AND its downstream aggregate plan
    * with no ShuffleExchange while the unbucketed control shuffles).
    * Per-bucket sorts may still appear — since SPARK-28595 a bucketed
    * scan doesn't advertise sortBy order — but those are partition-local;
    * the network cost is gone. Bucket COUNT is part of the contract: pick
    * it once per warehouse (tasks ≈ data / bucket target size) —
    * mismatched counts fall back to a shuffle on one side.
    *
    * The reference's per-ticker table layout (v2022/etl-containers/
    * aggregates/src/aggregates_etl.py:169-177, one JDBC table per symbol)
    * is this idea done by hand; bucketing is the engine-native form.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit = {
    require(keys.nonEmpty && buckets >= 1, "bucket spec must be non-trivial")
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  // ------------------- path-anchored bucketed stores -------------------
  //
  // writeBucketed is catalog-named; an incrementally-maintained warehouse
  // store (CorpusIngest's corpus/bands, corpus/shingles) is PATH-named and
  // must survive sessions that have never seen the table. These helpers
  // anchor a bucketed table at a filesystem path: the bucket spec lives in
  // a sibling ledger (`._bucketspec`) so any session can re-register the
  // external catalog entry and get the bucketed scan back — the spec is
  // part of the TABLE's contract, not the session's. Appends, keyed
  // deletes, and compaction all rewrite through the bucketed writer so the
  // bucket-id file naming (what the scan's exchange elision keys off) is
  // never silently lost to a plain parquet rewrite.

  /** Catalog name for the bucketed table anchored at `path` — derived from
    * the path URI, so every session resolves the same warehouse store to
    * the same table name without coordination.
    */
  def bucketedTableName(path: String): String = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri.toString
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(uri.getBytes("UTF-8"))
    "graft_bkt_" + md.map("%02x".format(_)).mkString.take(16)
  }

  private def bucketSpecLedger(path: String) =
    new org.apache.hadoop.fs.Path(path + "._bucketspec")

  /** (bucketKeys, numBuckets) when `path` is a bucketed store — i.e. its
    * spec ledger exists. None for an absent table, a table that is plain
    * by design (silver, tombstones, logs), and a bucketed store whose first
    * create was cut before the ledger landed — which is how the corpus
    * tables tell that interrupted create apart
    * (`CorpusStore.healTornCreate`).
    */
  def bucketSpecOf(spark: SparkSession, path: String): Option[(Seq[String], Int)] =
    readBucketLedger(spark, path).map { case (keys, n, _) => (keys, n) }

  /** Full ledger line: (bucketKeys, numBuckets, schema DDL). The SCHEMA
    * rides the ledger so registration in a fresh session never depends on
    * parquet-footer inference — a bucketed store legitimately holds ZERO
    * data files after a purge-to-empty rewrite (bucketed writers create
    * files lazily), and an inference-based re-registration would fail on
    * exactly that state.
    */
  private def readBucketLedger(spark: SparkSession,
                               path: String): Option[(Seq[String], Int, String)] = {
    val p = bucketSpecLedger(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def corrupt =
      s"bucketed store $path has a corrupt ._bucketspec ledger — " +
        "restore it (without a ledger the store reads as an interrupted " +
        "first create, which the next leased writer clears)"
    AtomicFiles.readLine(fs, p).map { line =>
      // split at most 3 fields: the schema DDL may itself contain pipes
      val parts = line.trim.split("\\|", 3)
      require(parts.length == 3 && parts(2).nonEmpty, corrupt)
      (parts(1).split(',').toSeq, parts(0).toInt, parts(2))
    }
  }

  def isBucketedStore(spark: SparkSession, path: String): Boolean =
    bucketSpecOf(spark, path).isDefined

  private def writeBucketSpec(spark: SparkSession, path: String,
                              keys: Seq[String], buckets: Int,
                              schemaDdl: String): Unit = {
    require(!schemaDdl.contains("\n"),
      "bucket spec ledger is single-line; schema DDL must not contain newlines")
    val p = bucketSpecLedger(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // atomic publish: lease-free readers (every query over a bucketed
    // store) registering the table mid-restamp must see a whole spec
    // line, never the create-to-write window (which read as "corrupt
    // ledger" and failed the read loudly for nothing)
    AtomicFiles.writeAtomic(fs, p,
      s"$buckets|${keys.mkString(",")}|$schemaDdl")
  }

  /** Register (or re-register, in a fresh session) the external bucketed
    * table for `path` and return its catalog name. Schema and bucket spec
    * both come from the ledger — they belong to the store, so registration
    * needs nothing session-held.
    */
  private def ensureBucketedRegistered(spark: SparkSession, path: String): String = {
    val name = bucketedTableName(path)
    // a stale catalog entry over a deleted directory (temp-dir reuse)
    // must not shadow a re-created store
    if (spark.catalog.tableExists(name) && !pathExists(spark, path))
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
    if (!spark.catalog.tableExists(name)) {
      val (keys, buckets, schemaDdl) = readBucketLedger(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"$path is not a bucketed store (no ._bucketspec ledger)"))
      spark.sql(
        s"""CREATE TABLE `$name` ($schemaDdl) USING PARQUET
           |CLUSTERED BY (${keys.mkString(", ")})
           |SORTED BY (${keys.mkString(", ")})
           |INTO $buckets BUCKETS
           |LOCATION '${new org.apache.hadoop.fs.Path(path).toUri}'""".stripMargin)
    }
    name
  }

  /** The bucketed scan of a path-anchored store. Reads MUST come through
    * here (not spark.read.parquet) wherever the bucketing is the point —
    * a plain parquet read of the same directory is correct but advertises
    * no partitioning, so the join it feeds re-shuffles the store side.
    *
    * A spec ledger whose DIRECTORY is absent is a crash-parked swap
    * (bucketedSwapInto died between its two renames; the sibling ledger
    * survives the swap by design). Without intervention the registered
    * external table lists an empty location and the store silently reads
    * as EMPTY — a trim that admits everything, a label view with no
    * losers — and the next append would then resurrect the directory
    * empty, orphaning the parked data forever. The response is
    * LEASE-AWARE (`storePresent`): inside a leased call tree the swap is
    * healed in-line; a lease-free reader FAILS with a repair pointer
    * instead — its rename-back could land between a live writer's two
    * renames and nest the stale `._compact_old` inside the fresh table,
    * breaking swapInto's complete-old-or-complete-new read contract.
    */
  def readBucketedPath(spark: SparkSession, path: String): DataFrame = {
    storePresent(spark, path)
    freshenIfRewritten(spark, path)
    spark.table(ensureBucketedRegistered(spark, path))
  }

  // freshenIfRewritten state: session -> (qualified path -> the table's
  // last OBSERVED freshness stamp, "<generation>|<mtime>"). Session-scoped
  // on purpose —
  // staleness is a property of one session's caches, and two sessions in
  // one JVM (tests, notebook + job) must not suppress each other's
  // refreshes. WEAK keys make the lifetime exactly right without an
  // eviction policy: evicting a LIVE session's stamps would make its
  // next read record the current mtime as "first observation" and skip
  // the refresh — resurrecting exactly the stale-listing crash this
  // guard exists for — while a session that is GONE drops its whole
  // submap with it. (identityHashCode-in-a-string keying had the
  // converse flaw: a GC'd session's hash can be recycled by a new one,
  // which then inherits the dead session's stamps; sessionUUID is
  // private[sql].)
  private val lastDirStamp = new java.util.WeakHashMap[
    SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, String]]()

  /** Sibling path of the table's REWRITE-GENERATION ledger — the
    * portable freshness signal [[freshenIfRewritten]] prefers over the
    * directory mtime (which S3/ABFS-class stores don't maintain: no real
    * directories, so a swap that replaces files under a prefix moves no
    * parent mtime and an mtime-keyed guard silently never fires on
    * exactly the multi-driver deployment it exists for).
    */
  private def rewriteGenPath(path: String) =
    new org.apache.hadoop.fs.Path(path + "._rewritegen")

  /** Stamp a fresh rewrite generation for `path` — called by EVERY
    * publish that changes the table's file set (swap-in, compaction,
    * keyed delete, idempotent append, current-view overwrite, snapshot
    * partition write, crash-park recovery), so a reader on ANY driver
    * can detect "this table changed since I last listed it" with one
    * small atomic-sibling read, on any store. The value is a random
    * nonce, not a counter: freshness is an EQUALITY check (did it
    * change?), so a nonce needs no cross-driver read-modify-write — two
    * racing publishers each land a distinct value and either lands a
    * change. Publish is [[AtomicFiles.writeAtomic]]: a reader polling
    * across the stamp sees old nonce or new, never absence or a torn
    * line.
    */
  def stampRewriteGen(spark: SparkSession, path: String): Unit = {
    val p = rewriteGenPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicFiles.writeAtomic(fs, p, java.util.UUID.randomUUID().toString)
  }

  /** CROSS-DRIVER cache invalidation for warehouse reads: drop this
    * session's cached file listings for `path` when the table CHANGED
    * since this session last read it. Spark caches file listings per
    * session (the catalog's relation cache for registered bucketed
    * tables, the shared FileStatusCache for plain parquet reads) and
    * same-JVM writers invalidate them at the write site — but a rewrite
    * by ANOTHER driver (a delete cascade's swap, a compaction, a label
    * rebuild on a second writer host) leaves this session's listings
    * pointing at renamed-away files, and the next read fails mid-scan
    * with FileNotFound instead of seeing the new table. Found by the
    * round-19 cross-JVM soak (SoakRaceSpec): the parent's fsck crashed
    * reading a table a restarted writer JVM had rewritten between kill
    * cycles — the exact multi-driver deployment shape (lease-protected
    * writers, lease-free readers on other hosts).
    *
    * The change signal is a COMPOSITE stamp, compared for equality
    * against this session's last observation:
    *   - the `._rewritegen` sibling ledger ([[stampRewriteGen]] — a
    *     nonce every graft publish re-stamps): portable to object
    *     stores, immune to mtime granularity (same-millisecond
    *     rewrites) and to appends inside partition subdirectories that
    *     never move the root mtime;
    *   - the table directory's mtime, kept IN the stamp as a belt for
    *     mtime-honest filesystems (posix, HDFS): a rewrite by a
    *     non-graft tool that never stamps the ledger still moves it.
    * Either component moving triggers the refresh; an absent ledger or
    * directory contributes a sentinel, so creation after absence fires
    * too (clearing any stale pre-drop cache). A PERSISTENTLY unreadable
    * ledger maps to an always-fresh nonce — the fail-safe direction is
    * refresh-every-read (costs a relisting), never trust-the-cache.
    *
    * Cost: one `getFileStatus` + one atomic-sibling read per read call —
    * metadata, never a relisting, on the steady-state path. FIRST
    * observation of a path refreshes UNCONDITIONALLY: un-guarded reads
    * elsewhere in the session (plain `spark.read.parquet` call sites)
    * may already have populated the shared FileStatusCache before this
    * guard ever saw the path, so "nothing can be cached before a first
    * read" does not hold session-wide — a foreign rewrite landing
    * between such a read and the first guarded one would otherwise be
    * recorded as the baseline and the refresh skipped forever. The
    * refresh is an invalidation (the relist happens at the scan that
    * was about to run anyway), so the once-per-session-per-path cost is
    * the cache entry, not I/O.
    *
    * Returns true when a refresh fired (first observation, or the stamp
    * moved) — read-path callers ignore it; the mtime-frozen-filesystem
    * spec locks the decision itself.
    */
  def freshenIfRewritten(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mt: Long =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    val gen: String =
      try AtomicFiles.readLine(fs, rewriteGenPath(path)).getOrElse("-")
      catch {
        // unreadable ledger (degraded store): force the refresh on this
        // and every subsequent read until it reads again — stale-cache
        // reads are the failure being guarded, a relist is only a cost
        case _: Exception => "unreadable-" + java.util.UUID.randomUUID()
      }
    val cur = gen + "|" + mt
    val stamps = lastDirStamp.synchronized {
      var m = lastDirStamp.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, String]()
        lastDirStamp.put(spark, m)
      }
      m
    }
    val prev = stamps.put(fs.makeQualified(p).toString, cur)
    val refresh = prev == null || prev != cur
    if (refresh) {
      spark.catalog.refreshByPath(path)
      val name = bucketedTableName(path)
      if (spark.catalog.tableExists(name)) spark.catalog.refreshTable(name)
    }
    refresh
  }

  /** Sibling PARAMS ledger for a derived store: a single-line `k=v,...`
    * file stamped at store creation and required-EQUAL before every later
    * append — the geometry twin of the pair tables' threshold ledger. The
    * signature stores' idempotence keys deliberately include DERIVED
    * columns (band/sig, band/code, ci/chunk, cid) so the bucketed scan
    * satisfies the existence anti-join's distribution; the flip side is
    * that a replayed row under DRIFTED hash geometry (changed
    * numHashes/bands/dims, or different frozen centroids) computes a
    * different derived key, slips past the no-op check, and lands a
    * CONFLICTING signature row — silent candidate corruption, forever.
    * This ledger refuses that append (and, checked early by the ingest
    * drivers, the whole drop) before any work. Stamp-first ordering fails
    * closed; sibling placement survives compaction's directory swap.
    */
  def checkAndStampParams(spark: SparkSession, path: String,
                          params: Seq[(String, String)]): Unit = {
    val line = params.map { case (k, v) => s"$k=$v" }.mkString(",")
    require(!line.contains("\n"), "params ledger is single-line")
    val p = new org.apache.hadoop.fs.Path(path + "._params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicFiles.readLine(fs, p) match {
      // an EMPTY ledger is a torn stamp (the atomic publish renames
      // without fsync, so power loss can leave a zero-length file), not
      // a drifted geometry: stamp-first ordering means no append can
      // have succeeded under it, so restamping with the caller's params
      // is safe — and requiring equality against an empty line would
      // brick the store forever with a message no parameter change
      // could satisfy.
      case Some(stored) if stored.trim.nonEmpty =>
        require(stored.trim == line,
          s"$path was built under params [${stored.trim}]; " +
            s"refusing to append under drifted params [$line] — rows keyed on " +
            "derived signature columns would land conflicting duplicates " +
            "instead of no-opping on replay (rebuild the store, or restore " +
            "the original parameters)")
      case _ => AtomicFiles.writeAtomic(fs, p, line)
    }
  }

  /** Per-SESSION guard for the co-partition conf flip in
    * bucketedIdempotentAppend: the flip is session-global (each session's
    * own SQLConf), so two overlapping appends ON ONE SESSION could
    * interleave set/restore and leave the relaxed value stranded. The
    * monitor is the session's own RuntimeConfig instance — exactly the
    * state being protected — so appends on INDEPENDENT sessions (two
    * leased drops into two warehouses, or the shared-JVM test suites)
    * keep their parallelism; a JVM-wide lock here serialized every
    * bucketed append in the process for no correctness gain.
    */
  private def coPartitionFlipLock(spark: SparkSession): Object = spark.conf

  /** Idempotent keyed append into a path-anchored bucketed store — the
    * bucketed twin of idempotentAppend. First call creates the store and
    * stamps the spec ledger; later calls append under the LEDGER's spec
    * (the physical layout is fixed at creation — a drifted `bucketKeys` /
    * `buckets` argument is ignored in favor of the contract on disk).
    * Each append is repartitioned to the bucket layout first: repartition's
    * hash is the bucket hash, so every task holds exactly one bucket and an
    * append lands at most one file per non-empty bucket instead of
    * tasks × buckets small files.
    */
  def bucketedIdempotentAppend(df: DataFrame, path: String, keys: Seq[String],
                               bucketKeys: Seq[String], buckets: Int): Unit = {
    val spark = df.sparkSession
    require(bucketKeys.nonEmpty && buckets >= 1, "bucket spec must be non-trivial")
    // ledger present but directory absent = crash-parked swap: restore
    // before branching, or the create path would rebuild the store EMPTY
    // over the parked data (see readBucketedPath's heal note)
    if (!pathExists(spark, path) && isBucketedStore(spark, path))
      recoverSwap(spark, path)
    // torn store create: a FIRST create killed between its directory
    // creation and its first task commit leaves a bare dir with neither
    // committed files nor a spec ledger (the ledger lands after the
    // files) — previously refused below as "exists but is not a
    // bucketed store", bricking the drop's retry (r19 cross-JVM soak).
    // Provably valueless, so clear it and take the create branch.
    if (pathExists(spark, path) && !isBucketedStore(spark, path) &&
        !hasCommittedDataFiles(spark, path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    if (!pathExists(spark, path)) {
      val name = bucketedTableName(path)
      if (spark.catalog.tableExists(name)) spark.sql(s"DROP TABLE IF EXISTS `$name`")
      df.repartition(buckets, bucketKeys.map(col): _*)
        .write.format("parquet")
        .bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
        .sortBy(bucketKeys.head, bucketKeys.tail: _*)
        .option("path", path)
        .saveAsTable(name)
      writeBucketSpec(spark, path, bucketKeys, buckets, df.schema.toDDL)
    } else {
      val (specKeys, specBuckets) = bucketSpecOf(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"bucketedIdempotentAppend: $path exists but is not a bucketed " +
            "store — append plain tables with idempotentAppend"))
      val name = ensureBucketedRegistered(spark, path)
      val stored = spark.table(name)
      // same refuse-at-the-write drift guards as idempotentAppend
      val batchCols = df.columns.toSet
      val storedCols = stored.columns.toSet
      require(batchCols == storedCols,
        s"bucketedIdempotentAppend: schema drift for $path — batch-only: " +
          s"${(batchCols -- storedCols).toSeq.sorted.mkString(", ")}; " +
          s"table-only: ${(storedCols -- batchCols).toSeq.sorted.mkString(", ")}")
      val storedTypes = stored.schema.map(f => f.name -> f.dataType).toMap
      val retyped = df.schema.filter(f =>
        storedTypes.get(f.name).exists(_.catalogString != f.dataType.catalogString))
      require(retyped.isEmpty,
        s"bucketedIdempotentAppend: type drift for $path — " + retyped.map(f =>
          s"${f.name}: table=${storedTypes(f.name).catalogString} " +
            s"batch=${f.dataType.catalogString}").mkString(", "))
      // subset co-partitioning for the existence check: when `keys`
      // contains the bucket keys, the bucketed scan already satisfies the
      // anti-join's clustering on that subset — but since Spark 3.3
      // co-partitioning demands ALL join keys by default (a skew
      // precaution), which re-shuffles the corpus-sized store every
      // append. Relax the requirement for exactly this join: the
      // increment side shuffles to the store's layout and the store
      // streams off its buckets. Correctness is unaffected — equal full
      // keys imply equal bucket-subset keys, so matching rows are
      // co-located either way. Scoped and restored in finally, under the
      // SESSION's flip lock: two overlapping appends on one session can
      // no longer interleave set/restore and strand the flipped value,
      // while appends on independent sessions (their own SQLConf) keep
      // their parallelism. A concurrent UNRELATED query planned inside
      // the window still sees the relaxation (performance-shaped, never a
      // correctness change); cross-PROCESS writers are serialized by the
      // warehouse lease (core.WarehouseLease), which is what enforces the
      // single-writer store contract.
      coPartitionFlipLock(spark).synchronized {
        val coKey = "spark.sql.requireAllClusterKeysForCoPartition"
        val oldCo = spark.conf.get(coKey)
        try {
          if (specKeys.forall(keys.contains)) spark.conf.set(coKey, "false")
          val fresh = df.join(stored.select(keys.map(col): _*), keys, "left_anti")
          fresh.repartition(specBuckets, specKeys.map(col): _*)
            .write.mode(SaveMode.Append).format("parquet")
            .bucketBy(specBuckets, specKeys.head, specKeys.tail: _*)
            .sortBy(specKeys.head, specKeys.tail: _*)
            .saveAsTable(name)
        } finally spark.conf.set(coKey, oldCo)
      }
    }
    stampRewriteGen(spark, path)
  }

  /** deleteByKey for a bucketed store: same existence probe, anti-join and
    * observed after-count, but the rewrite goes through the bucketed writer
    * and the directory swap — a plain swapInto here would strip the
    * bucket-id file naming while the catalog still promised bucketing,
    * and later joins would silently read wrong bucket layouts.
    */
  def deleteBucketedByKey(spark: SparkSession, path: String, keys: DataFrame,
                          keyCols: Seq[String]): (Long, Long) = {
    require(keyCols.nonEmpty, "deleteBucketedByKey needs at least one key column")
    val stored = readBucketedPath(spark, path)
    val keyRows = keys.select(keyCols.map(col): _*).dropDuplicates()
    val before = stored.count()
    val hasMatch = !stored.join(keyRows, keyCols, "left_semi").limit(1).isEmpty
    if (!hasMatch) (before, before)
    else {
      val obs = org.apache.spark.sql.Observation("graft_bkt_delete_kept")
      val kept = stored.join(keyRows, keyCols, "left_anti")
        .observe(obs, count(lit(1)).as("kept"))
      bucketedSwapInto(spark, path, kept)
      (before, obs.get("kept").asInstanceOf[Long])
    }
  }

  /** Hard delete of rows where ANY of `targetCols` matches a key — the
    * edge-table form of deleteBucketedByKey (a pair table references an
    * entity from both sides; a takedown must drop the row if either side
    * matches). Chained anti-joins — each one hash-joinable, unlike an OR
    * join condition, which would force a nested loop — feed ONE
    * bucket-preserving rewrite and one atomic swap, so the table is
    * scanned and rewritten once however many columns reference the
    * entity. Same existence probe and observed after-count as
    * deleteBucketedByKey. Returns (rowsBefore, rowsAfter).
    */
  def deleteBucketedByAnyKey(spark: SparkSession, path: String,
                             keys: DataFrame, keyCol: String,
                             targetCols: Seq[String]): (Long, Long) = {
    require(targetCols.nonEmpty,
      "deleteBucketedByAnyKey needs at least one target column")
    val stored = readBucketedPath(spark, path)
    val keyRows = keys.select(col(keyCol)).dropDuplicates()
    val before = stored.count()
    val hasMatch = targetCols.exists { c =>
      !stored.join(keyRows.withColumnRenamed(keyCol, c), Seq(c), "left_semi")
        .limit(1).isEmpty
    }
    if (!hasMatch) (before, before)
    else {
      val obs = org.apache.spark.sql.Observation("graft_bkt_delete_any_kept")
      // each USING anti-join rotates its key column to the front — restore
      // the stored column order so the rewrite doesn't permute the schema
      val kept = targetCols.foldLeft(stored) { (d, c) =>
          d.join(keyRows.withColumnRenamed(keyCol, c), Seq(c), "left_anti")
        }
        .select(stored.columns.toIndexedSeq.map(col): _*)
        .observe(obs, count(lit(1)).as("kept"))
      bucketedSwapInto(spark, path, kept)
      (before, obs.get("kept").asInstanceOf[Long])
    }
  }

  /** compactIfFragmented for a bucketed store. The compaction target is the
    * bucket count itself (one file per bucket is the store's ideal shape);
    * the gate fires once appends have fragmented past `factor ×` that.
    */
  def compactBucketedIfFragmented(spark: SparkSession, path: String,
                                  factor: Int = 4): Option[(Long, Long)] =
    bucketSpecOf(spark, path).flatMap { case (_, buckets) =>
      val before = dataFileCount(spark, path)
      if (before <= factor.toLong * buckets) None
      else {
        bucketedSwapInto(spark, path, readBucketedPath(spark, path))
        Some((before, dataFileCount(spark, path)))
      }
    }

  /** Rewrite a bucketed store's CONTENT in place (bucket layout, spec
    * ledger, and catalog entry preserved) — the version-fold primitive
    * for append-only VERSIONED tables (CorpusIngest's component label
    * stores): periodic maintenance replaces the accumulated version rows
    * with the current view in one atomic swap, the same way compaction
    * replaces fragmented files. Single-writer contract applies (hold the
    * warehouse lease).
    */
  def rewriteBucketed(spark: SparkSession, path: String,
                      df: DataFrame): Unit =
    bucketedSwapInto(spark, path, df)

  /** The bucketed rewrite-and-swap: write `df` through the bucketed writer
    * to a sibling tmp table (repartitioned to the bucket layout → one file
    * per bucket), drop the tmp CATALOG entry (external — files stay), then
    * the same stage-out/rename/rollback dance as swapInto. Bucket ids live
    * in the FILE NAMES, so the directory rename preserves the layout; the
    * live catalog entry only holds path + spec, both unchanged.
    */
  private def bucketedSwapInto(spark: SparkSession, path: String,
                               df: DataFrame): Unit = {
    val (keys, buckets) = bucketSpecOf(spark, path).getOrElse(
      throw new IllegalArgumentException(s"$path is not a bucketed store"))
    val name = ensureBucketedRegistered(spark, path)
    val tmpName = name + "_tmp"
    swapVia(spark, path, "bucketedSwapInto") { tmp =>
      spark.sql(s"DROP TABLE IF EXISTS `$tmpName`")
      df.repartition(buckets, keys.map(col): _*)
        .write.format("parquet")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .option("path", tmp.toString)
        .saveAsTable(tmpName)
      spark.sql(s"DROP TABLE `$tmpName`")
    }
    spark.catalog.refreshTable(name)
  }
}
