package graft.tools

/** Materialize ScaleSmoke's `reps`× character-preserving scaled corpus
  * to a FIXED directory (ScaleSmoke itself builds into a fresh temp
  * dir and measures in-process) — the round-18 scale probes need the
  * same scaled corpus across several independently-configured Bench
  * JVMs (window-vs-native top-k legs, 8-vs-32-core scaling table), so
  * the build must be a separate, one-shot step.
  *
  * Usage: runMain graft.tools.BuildScaled <srcDir> <outDir> [reps]
  * (reps default 10 — sf0.1 × 10 ≈ sf1). Refuses a non-empty outDir:
  * buildScaled appends. */
object BuildScaled {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BuildScaled <srcDir> <outDir> [reps]")
    val Array(src, out) = args.take(2)
    val reps = if (args.length > 2) args(2).toInt else 10
    val d = new java.io.File(out)
    require(!d.exists || d.listFiles.forall(_ => false),
      s"outDir $out exists and is non-empty (buildScaled appends)")
    val spark = graft.Session.start()
    graft.ScaleSmoke.buildScaled(spark, src, out, reps)
    println(s"""{"metric":"build_scaled","src":"$src","out":"$out","reps":$reps}""")
    spark.stop()
  }
}
