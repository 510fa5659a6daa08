package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for every registered query (or a
  * comma-separated subset in arg 2) into one text file per query —
  * the optimization round's plan evidence (plans/rNN/<name>_before.txt
  * / _after.txt; the judge checks plan claims against these files).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [names] [suffix]
  *   env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS (see [[graft.Session]]).
  *
  * The dump is the INITIAL plan (AQE not yet executed) — exactly what
  * `df.explain("formatted")` prints before an action — plus a short
  * header with Exchange / join-strategy / scan-pushdown counts so a
  * diff between before/after files surfaces the structural change
  * without reading 200 lines. Building a frame can itself run bounded
  * driver-side probes (census collects, memoized sketches); that is
  * part of the query's real plan-selection path and is retained.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r17"
    val only = if (args.length > 1 && args(1).nonEmpty)
      Some(args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val suffix = if (args.length > 2) args(2) else "before"
    val sfDir = graft.Session.sfDir
    val spark = graft.Session.start()
    Files.createDirectories(Paths.get(outDir))
    val specs = graft.SparkEntry.specs.filter(sp =>
      only.forall(o => o(sp.name) || o(sp.name.takeWhile(_ != '_'))))
    var failed = List.empty[String]
    specs.foreach { sp =>
      try {
        val df = sp.build(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val exchanges = "(?m)^\\s*(?:\\+- |:- |   )*Exchange ".r
          .findAllIn(plan).size
        val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
          .r.findAllIn(plan).toSeq.groupBy(identity)
          .map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(" ")
        val header =
          s"""== ${sp.name} ($suffix) sf=${new java.io.File(sfDir).getName} ==
             |Exchanges: $exchanges
             |Joins: ${if (joins.isEmpty) "none" else joins}
             |""".stripMargin
        Files.write(Paths.get(outDir, s"${sp.name}_$suffix.txt"),
          (header + "\n" + plan).getBytes("UTF-8"))
        graft.queries.Extensions.freeCkptFresh(df)
        println(s"[plandump] ${sp.name}: ok ($exchanges exchanges)")
      } catch {
        case e: Throwable =>
          failed ::= sp.name
          System.err.println(s"[plandump] ${sp.name} FAILED: ${e.getMessage}")
      }
    }
    println(s"[plandump] done: ${specs.size - failed.size}/${specs.size} ok" +
      (if (failed.nonEmpty) s"; failed: ${failed.reverse.mkString(",")}" else ""))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
