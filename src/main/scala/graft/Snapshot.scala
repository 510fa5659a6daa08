package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** What a table directory holds right now, and the one memo registry
  * keyed by it.
  *
  * Expensive per-corpus values (counts, codebooks, Bloom sketches, the
  * ANN index, the BPE vocab, cluster labels, the long-doc census) are
  * derived from input tables that can grow or be rewritten in place. A
  * memo entry therefore stores the [[fingerprint]] of every input
  * directory it was computed from, and a lookup re-lists those inputs:
  * a matching listing is a hit, anything else recomputes. A grown or
  * rewritten directory misses by construction, so there is nothing for
  * a caller to invalidate. The price is one recursive listing of the
  * inputs per lookup. */
object Snapshot {

  /** Recursive listing fingerprint of `dir`: (path, mtime, length) of
    * every file beneath it, empty when it does not exist. Recursive
    * because hive-partitioned logs nest files inside `col=value`
    * subdirectories: a direct-child listing would see an append into an
    * EXISTING partition only via that subdirectory's mtime, which object
    * stores report coarsely or not at all — the file entry itself is the
    * only signal that is reliable everywhere. One listFiles sweep (the
    * RemoteIterator pages its RPCs); content hashing would re-read the
    * data. */
  def fingerprint(fs: FileSystem, dir: Path): Set[(String, Long, Long)] =
    if (!fs.exists(dir)) Set.empty
    else {
      val it = fs.listFiles(dir, true)
      val b = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val s = it.next()
        b += ((s.getPath.toString.stripPrefix(dir.toString),
          s.getModificationTime, s.getLen))
      }
      b.result()
    }

  /** Does `dir` hold at least one parquet data file at any depth? The
    * one existence probe for table directories. Recursive because a
    * hive-partitioned table's top level holds only `col=value`
    * subdirectories, which a flat probe would read as empty. */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    }
    false
  }

  /** Delete `dir` and everything beneath it: the `release` of a memo
    * whose value is a directory it built (the ANN index, the BPE vocab),
    * so a superseded snapshot's build does not stay on disk. */
  def deleteDir(s: SparkSession)(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** A memo's identity: its name (plus variant), the input table
    * directories its compute reads, and the owning applicationId when
    * the value holds Spark state (a broadcast or a checkpoint dies with
    * its SparkContext; "" otherwise). */
  private final case class Key(name: String, inputs: Seq[String], app: String)
  private final class Entry(val snapshot: Seq[Set[(String, Long, Long)]],
                            val value: Any)
  private val memos = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** The value of `compute` over the current contents of `inputs`,
    * computed at most once per snapshot of them. A superseded value is
    * handed to `release` (checkpointed values free their blocks there).
    *
    * `compute` runs OUTSIDE the map: computes nest (the ANN index build
    * reads the codebooks, which read the corpus count), and a
    * computeIfAbsent on this one map would re-enter it and throw
    * "Recursive update"; it would also hold a bucket lock for a
    * multi-second Spark job. Two racing computes both run; the loser's
    * value is released and the lookup repeated. */
  def memo[V](s: SparkSession, name: String, inputs: Seq[String],
              sparkState: Boolean = false)
             (compute: => V, release: V => Unit = (_: V) => ()): V = {
    val key = Key(name, inputs,
      if (sparkState) s.sparkContext.applicationId else "")
    val conf = s.sparkContext.hadoopConfiguration
    val snapshot = inputs.map { d =>
      val p = new Path(d)
      fingerprint(p.getFileSystem(conf), p)
    }
    val cur = memos.get(key)
    if (cur != null && cur.snapshot == snapshot) cur.value.asInstanceOf[V]
    else {
      val fresh = new Entry(snapshot, compute)
      val stored =
        if (cur == null) memos.putIfAbsent(key, fresh) == null
        else memos.replace(key, cur, fresh)
      if (stored) {
        if (cur != null) release(cur.value.asInstanceOf[V])
        fresh.value.asInstanceOf[V]
      } else {
        release(fresh.value.asInstanceOf[V])
        memo(s, name, inputs, sparkState)(compute, release)
      }
    }
  }
}
