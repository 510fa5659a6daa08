package graft.jobs

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.types.StructType

/** Storage layout for the OLAP side (SURVEY S4–S8, O1).
  *
  * ClickHouse's `ORDER BY (adv, camp[, day])` clustering (initial_load…py:
  * 98,109,119) maps to: partition fact outputs by event date + sort rows
  * within each file by the cluster keys — readers prune partitions on date
  * predicates and get locality on key scans without any global sort
  * (a global orderBy would be an all-data shuffle at 100 TB).
  */
object Warehouse {

  /** S4: append new version rows to an append-only version log.
    * Idempotency comes from keyed versions + latestView reads, so a task
    * retry that double-appends is harmless (unlike the reference, where
    * XCom replay double-inserts and ReplacingMergeTree papers over it). */
  def appendVersions(df: DataFrame, path: String,
                     clusterKeys: Seq[String]): Unit =
    df.sortWithinPartitions(clusterKeys.map(col): _*)
      .write.mode(SaveMode.Append).parquet(path)

  /** S4 against an EXTERNAL store — the reference's actual L side writes
    * version rows into ClickHouse over the wire (initial_load…py:334-343,
    * track_delta.py:219-223); this is the same posture over JDBC. One row
    * per (campaign keys, rtm_delta) version, written through the
    * idempotent upsert so a replayed delta cycle reconverges — the
    * parquet log gets that for free from latestView reads, an external
    * table needs the writer to provide it. Reads come back through
    * `Sources.jdbc` (partitioned-range extraction) and collapse with the
    * SAME `DeltaUpsert.latest` as the parquet twin. */
  def writeJdbcVersions(df: DataFrame, url: String, table: String): Unit =
    graft.sources.Sources.upsertJdbc(df, url, table,
      DeltaUpsert.Keys :+ "rtm_delta")

  /** Daily fact grain: partition by event date so delta cycles and report
    * reads prune to the touched days. */
  def appendDaily(df: DataFrame, path: String, dateCol: String,
                  clusterKeys: Seq[String]): Unit =
    df.repartition(col(dateCol))
      .sortWithinPartitions(clusterKeys.map(col): _*)
      .write.mode(SaveMode.Append).partitionBy(dateCol).parquet(path)

  /** S5+S7: the reference DROPs and rebuilds report tables every cycle
    * (track_delta.py:438,548); overwrite mode is the atomic equivalent. */
  def overwriteReport(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Replace a report with a frame DERIVED FROM ITSELF (incremental
    * maintenance reads the previous report): a plain overwrite would
    * delete the input files before the lazy plan reads them. Staged
    * write + swap: materialize to `path__stage` first, then swap in via
    * delete + rename (rename is atomic on HDFS-class filesystems; the
    * delete→rename gap is the same visibility gap the reference's
    * DROP TABLE + CREATE has, track_delta.py:438). */
  def replaceReport(spark: SparkSession, df: DataFrame, path: String): Unit =
    replaceVia(spark, path)(stage =>
      df.write.mode(SaveMode.Overwrite).parquet(stage))

  /** replaceReport's staged swap for writers that need a custom layout
    * (hive-partitioned dirs, sidecar files): the caller writes a
    * COMPLETE artifact into the staged location it is handed, and the
    * swap into place is shared — a crashed write leaves the old
    * artifact intact, a crashed swap leaves the stage for inspection
    * (the rename failure is loud). */
  def replaceVia(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val stage = new org.apache.hadoop.fs.Path(path + "__stage")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    write(stage.toString)
    swapStageInto(fs, stage, target)
    // The swap bypasses Spark's write path, so the session's file-status
    // cache (shared across InMemoryFileIndex instances for partitioned
    // reads) can still list the DELETED files — a later read would fail
    // with FILE_NOT_EXIST mid-scan. Drop the stale entries.
    spark.catalog.refreshByPath(path)
  }

  /** The delete + rename commit of a staged swap. rename reports failure
    * via its return, not an exception — a silent false would leave the
    * target missing with the data stranded in the stage dir. */
  private def swapStageInto(fs: org.apache.hadoop.fs.FileSystem,
                            stage: org.apache.hadoop.fs.Path,
                            target: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(target)) fs.delete(target, true)
    require(fs.rename(stage, target),
      s"staged swap: rename $stage -> $target failed; data is in $stage")
  }

  /** The staged-rewrite skeleton every log-rewriting operation shares:
    * fingerprint the log, materialize the rewrite into `path__stage`,
    * RE-fingerprint immediately before the destructive delete (so the
    * unguarded window is just the delete+rename itself, not the whole
    * expensive write), then swap. Returns false — leaving the log
    * untouched and the rewrite parked in the stage dir for inspection —
    * when a concurrent append landed during the write; single-writer
    * callers escalate that to an error, callers that knowingly race a
    * live writer (runService's streamed logs) skip and retry on a later
    * tick.
    *
    * RESIDUAL WINDOW, explicit: an append that lands between the second
    * fingerprint and the rename is lost, and a reader can observe a
    * missing directory mid-swap (delete→rename is two operations).
    * Callers own serialization — run at a quiescent point of their loop
    * or accept the documented race; the guard makes the window one
    * filesystem round-trip wide, it cannot make it zero without a lock
    * service the engine deliberately doesn't require. */
  private[graft] def guardedRewrite(spark: SparkSession, path: String)
                                   (write: String => Unit): Boolean = {
    val target = new org.apache.hadoop.fs.Path(path)
    val stage = new org.apache.hadoop.fs.Path(path + "__stage")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = graft.Snapshot.fingerprint(fs, target)
    write(stage.toString)
    val after = graft.Snapshot.fingerprint(fs, target)
    if (before != after) false
    else {
      swapStageInto(fs, stage, target)
      // Same stale-listing hazard as replaceVia's swap (see there).
      spark.catalog.refreshByPath(path)
      true
    }
  }

  /** S8: reset — overwrite with an empty frame of the same schema. */
  def reset(spark: SparkSession, path: String, schema: StructType): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema).write.mode(SaveMode.Overwrite).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Read a version log written across schema versions: mergeSchema unions
    * the per-file schemas, and files from before a column existed yield
    * NULL for it — additive evolution (the only kind an append-only log
    * should see) without rewriting history. Off by default on plain reads
    * because schema merging footers across 100 TB of files is an extra
    * planning cost to opt into, not a default. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** One-shot log migration for NON-additive schema changes (a column's
    * TYPE changing, e.g. the bid/budget double→decimal fix): mergeSchema
    * handles added columns but refuses incompatible types, and appending
    * rows of the new type to a directory of old-type files would poison
    * every subsequent read. Rewrites the whole log once, casting each
    * existing column to its target type (columns missing from old files
    * read as NULL), via the same staged swap replaceReport uses. Run
    * BEFORE the first new-schema append; at 100 TB this is the one-time
    * cost a type fix honestly carries — there is no lazy way to read a
    * directory mixing physical DOUBLE and DECIMAL pages.
    *
    * SINGLE-WRITER contract, enforced: the rewrite reads the log lazily
    * and commits by delete + rename, so rows appended by a concurrent
    * writer (e.g. runService's ingester on the same log) between the
    * read and the swap would be silently dropped. The directory is
    * fingerprinted before the read and re-checked after the staged
    * write materializes; a concurrent append fails the migration loudly
    * BEFORE the destructive swap, leaving the log untouched (the stage
    * dir remains for inspection). */
  def migrateLog(spark: SparkSession, path: String,
                 target: StructType): Unit = {
    val old = readEvolved(spark, path)
    val casted = old.select(target.fields.map { f =>
      (if (old.columns.contains(f.name)) col(f.name)
       else org.apache.spark.sql.functions.lit(null))
        .cast(f.dataType).as(f.name)
    }.toSeq: _*)
    require(guardedRewrite(spark, path) { stage =>
        casted.write.mode(SaveMode.Overwrite).parquet(stage)
      },
      s"migrateLog: $path changed during migration (concurrent writer?) — " +
        s"aborting before the swap; rewrite is parked in ${path}__stage")
  }

  /** §2.9's operational other half: version-log compaction — the engine's
    * analogue of ClickHouse's background MergeTree merges
    * (initial_load_generate_postgres_data.py:97-98, where duplicate key
    * versions collapse on merge). The append-only log + latestView gives
    * correct reads at any log length, but nothing else ever REWRITES the
    * log: without compaction every read pays a window over all versions
    * ever written and storage grows without bound. Compaction rewrites
    * the log to the newest `retainVersions` rows of each key
    * (Core.recentVersions) via the same staged swap + concurrent-writer
    * fingerprint guard migrateLog uses.
    *
    * Contract (WarehouseSpec-pinned):
    *  - latestView(compacted) ≡ latestView(original) for any retain ≥ 1;
    *  - snapshotView at any cutoff that lands within a key's RETAINED
    *    versions is preserved; a cutoff OLDER than the retention horizon
    *    returns NO rows for compacted keys (every version ≤ the cutoff
    *    was rewritten away and snapshotView filters version ≤ cutoff —
    *    keys vanish from pre-horizon snapshots entirely, they do not
    *    degrade to the oldest retained version). Callers that need
    *    pre-horizon audits must snapshot BEFORE compacting;
    *  - file count after compaction is the shuffle's output (AQE-coalesced
    *    — small logs become a handful of files), independent of how many
    *    appends built the log.
    *
    * `partitionCol` preserves a hive-partitioned layout (the daily logs
    * appendDaily writes): the rewrite repartitions by that column and
    * writes one file per live partition, keeping the reader's
    * partition-pruning intact.
    *
    * Scale posture: one hash shuffle on `keys` — the same shape every
    * latestView read already pays, run once off the hot path instead of
    * on every read. Run it between delta cycles (single-writer window;
    * the guard aborts pre-swap if an append races it — see
    * guardedRewrite for the residual delete+rename window). */
  def compact(spark: SparkSession, path: String, keys: Seq[String],
              version: String, retainVersions: Int = 1,
              tiebreak: Seq[String] = Nil,
              clusterKeys: Seq[String] = Nil,
              partitionCol: Option[String] = None): Unit =
    require(tryCompact(spark, path, keys, version, retainVersions, tiebreak,
        clusterKeys, partitionCol),
      s"compact: $path changed during compaction (concurrent writer?) — " +
        s"aborting before the swap; rewrite is parked in ${path}__stage")

  /** compact's non-throwing form for logs with a LIVE writer (runService's
    * streamed daily logs): a concurrent append during the rewrite skips
    * the swap and returns false — the log is untouched and strictly
    * consistent, and the caller retries on a later tick. The streaming
    * checkpoint tracks the SOURCE dir, not this sink, so rewriting the
    * sink never confuses the stream. */
  def tryCompact(spark: SparkSession, path: String, keys: Seq[String],
                 version: String, retainVersions: Int = 1,
                 tiebreak: Seq[String] = Nil,
                 clusterKeys: Seq[String] = Nil,
                 partitionCol: Option[String] = None): Boolean =
    guardedRewrite(spark, path) { stage =>
      val kept = graft.ops.Core.recentVersions(
        read(spark, path), keys, version, retainVersions, tiebreak)
      val sortKeys = if (clusterKeys.nonEmpty) clusterKeys else keys
      partitionCol match {
        case Some(pc) =>
          kept.repartition(col(pc))
            .sortWithinPartitions(sortKeys.map(col): _*)
            .write.mode(SaveMode.Overwrite).partitionBy(pc).parquet(stage)
        case None =>
          kept.sortWithinPartitions(sortKeys.map(col): _*)
            .write.mode(SaveMode.Overwrite).parquet(stage)
      }
    }

  /** File-coalescing compaction for append-only logs whose rows are ALL
    * live (no version to collapse — StreamingDedup's signature and pair
    * logs): rewrites the same row set into `files` files so the file
    * count stops tracking the append count. `dedupRows` additionally
    * drops exact-duplicate rows — safe exactly when every reader goes
    * through a distinct view (both dedup logs do), where it also absorbs
    * crash-replay double appends physically instead of at read time.
    * Same staged swap + concurrent-writer guard as tryCompact; `files`
    * is the caller's size dial (at 100 TB pick bytes/file, not 1). */
  def tryCoalesceLog(spark: SparkSession, path: String,
                     dedupRows: Boolean = false, files: Int = 4): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) true  // nothing ever appended — vacuously compact
    else guardedRewrite(spark, path) { stage =>
      val df0 = read(spark, path)
      val df = if (dedupRows) df0.distinct() else df0
      df.repartition(files).write.mode(SaveMode.Overwrite).parquet(stage)
    }
  }

  /** Bucketed table layout: pre-shuffle the data ONCE at write time into
    * `buckets` hash buckets on the join/aggregation keys (ClickHouse's
    * ORDER-BY-key clustering taken one step further). Two tables bucketed
    * the same way join with NO exchange on either side — at 100 TB this
    * converts every recurring fact⋈fact or log⋈log join from a full
    * shuffle into a local zip of corresponding buckets (WarehouseSpec
    * pins the exchange-free plan). Requires saveAsTable: bucket metadata
    * lives in the catalog, not the files. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Z-order clustered layout: range-partition + sort by the Morton key
    * of two dimension columns (Core.zorderKey), so every output file
    * holds a compact 2-D tile — parquet min/max stats then prune files
    * for range predicates on EITHER dimension, where a lexicographic
    * sort prunes only its leading column. The key is a scratch column,
    * dropped from the stored rows. */
  def writeZOrdered(df: DataFrame, path: String, dimX: String,
                    dimY: String, bits: Int = 16,
                    partitions: Option[Int] = None): Unit = {
    // pmod-mask both dimensions into [0, 2^bits) before interleaving
    // (matching the q28 query's Morton key): an unmasked value >= 2^bits
    // would alias distant rows into one tile and a negative value would
    // produce negative key terms — both silently degrade the clustering
    // (and the file pruning it exists for).
    val mask = lit(1L << bits)
    val keyed = df.withColumn("__z",
      graft.ops.Core.zorderKey(
        pmod(col(dimX).cast("long"), mask),
        pmod(col(dimY).cast("long"), mask), bits))
    // Explicit partition count bypasses AQE's small-shuffle coalescing so
    // the tile grain is the caller's choice (files ≈ tiles).
    val ranged = partitions match {
      case Some(n) => keyed.repartitionByRange(n, col("__z"))
      case None => keyed.repartitionByRange(col("__z"))
    }
    ranged.sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
