package graft

import graft.queries.Extensions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The memo registry ([[Snapshot.memo]]) keys every memoized per-corpus
  * value by the snapshot of the tables it was derived from. A copy of
  * sf0.001 is warmed, then rewritten in place by Spark; every memo read
  * on it must equal a cold build over a byte copy of the rewritten data
  * (a new path, so nothing is memoized for it yet), with no invalidate
  * call anywhere. Values are compared directly, not only through query
  * answers: the long-doc route, for one, is exact either way. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def refGrams(dir: String): DataFrame =
    Extensions.grams8OfDocs(
        Tables.t(spark, dir, "documents").select("doc_id", "text"))
      .select("gram").distinct()

  /** The memoized values the rewrite must move, in comparable form. */
  private def memoized(dir: String): Map[String, Any] = {
    val docs = s"$dir/documents.parquet"
    val books = Extensions.coarseBooks(spark, dir,
      Extensions.quantizeFrame(Tables.t(spark, dir, "embeddings")))
    Map(
      "docsCountOf" -> Extensions.docsCountOf(spark, dir),
      "coarseBooks" -> Seq(books.b0, books.b1)
        .map(_.map { case (id, v, n) => (id, v.toSeq, n) }.toSeq),
      "hasLongDocs" -> Extensions.hasLongDocs(
        Tables.t(spark, dir, "documents").select("doc_id", "text"),
        Extensions.LongDocVerifyBytes, Some(docs)),
      "bpeVocab" -> Extensions.bpeMergesAt(spark,
        Extensions.bpeVocabPath(spark, dir)),
      // contaminationAgainst(_, dir)'s reference-side sketch
      "bloomSketch" -> Extensions.bloomSketch(spark, "bloom#refgrams",
        Seq(docs), refGrams(dir)).value)
  }

  private def copyDir(from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
      dst.getFileSystem(conf), dst, false, conf)
  }

  test("every memo follows an in-place rewrite; a cold nested build works") {
    val src = sf("sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val docs = Tables.t(spark, src, "documents")
    val emb = Tables.t(spark, src, "embeddings")
    docs.write.parquet(s"$dir/documents.parquet")
    emb.write.parquet(s"$dir/embeddings.parquet")
    // Warm every memo over the original data, through its query paths.
    val before = memoized(dir)
    Extensions.dedupMinhashLsh(spark, dir)        // d03: long-doc probe
    Extensions.contaminationAgainst(spark, dir, dir)
    Extensions.annIvfIndexed(spark, dir).count()  // s08: index, count
    assert(before("hasLongDocs") == false, "sf0.001 has no long doc")
    def builtDirs(): Seq[String] = Seq(Extensions.annIndexPath(spark, dir),
      Extensions.bpeVocabPath(spark, dir))
    val dirsBefore = builtDirs()

    // Rewrite both tables in place: drop a third, shift every vector id
    // but s08's ten query ids, and add one doc over the long-doc
    // threshold made of a word the corpus never uses (it moves the BPE
    // merges and the gram set).
    val long = Seq.fill(3000)("zyzzyva").mkString(" ")
    docs.filter(col("doc_id") % 3 =!= 0)
      .unionByName(docs.filter(col("doc_id") === 1)
        .withColumn("doc_id", lit(900000L)).withColumn("text", lit(long)))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    emb.filter(col("vec_id") < 10 || col("vec_id") % 3 =!= 0)
      .withColumn("vec_id", when(col("vec_id") < 10, col("vec_id"))
        .otherwise(col("vec_id") + 100000))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cold = java.nio.file.Files.createTempDirectory("graft-snap-cold")
      .toString
    Seq("documents", "embeddings").foreach(t =>
      copyDir(s"$dir/$t.parquet", s"$cold/$t.parquet"))

    // The first lookup on the cold copy nests: the index build reads
    // the codebooks, which read the corpus count — all registry misses
    // inside a registry compute.
    val coldS08 = Extensions.annIvfIndexed(spark, cold)
    assert(coldS08.filter(col("neighbor_id") >= 100000).count() > 0,
      "s08 over the cold copy serves no rewritten vector")
    assertSameRows(Extensions.annIvfIndexed(spark, dir), coldS08,
      "s08 over the rewritten dir vs over a cold copy")

    val after = memoized(dir)
    val expected = memoized(cold)
    // The rebuilt index and vocab replaced the pre-rewrite temp dirs,
    // which the registry's release deleted.
    val dirsAfter = builtDirs()
    def exists(d: String) = new java.io.File(d).exists()
    dirsBefore.zip(dirsAfter).foreach { case (old, now) =>
      assert(old != now && !exists(old) && exists(now),
        s"superseded $old (exists: ${exists(old)}) → $now (exists: ${exists(now)})")
    }
    for (k <- expected.keys) {
      assert(after(k) == expected(k), s"$k: memo over the rewritten dir " +
        "differs from its cold recompute — stale snapshot")
      assert(after(k) != before(k), s"$k: the rewrite did not move it")
    }
  }

  test("a lookup on unchanged data does not recompute; an append does") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-n").toString
    val table = s"$dir/t.parquet"
    Seq(1L, 2L).toDF("id").write.parquet(table)
    var computes = 0
    def rows(): Long = Snapshot.memo(spark, "SnapshotSpec#rows", Seq(table)) {
      computes += 1
      spark.read.parquet(table).count()
    }
    assert(rows() == 2 && rows() == 2)
    assert(computes == 1, s"unchanged data recomputed: $computes computes")
    Seq(3L).toDF("id").write.mode("append").parquet(table)
    assert(rows() == 3 && computes == 2)
  }
}
