package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test suites build
  * their session here, and the environment settings the mains share are
  * read here and nowhere else.
  *
  * The factory does not install `GraftExtensions`: no main runs with the
  * rule today, and installing it would change the plans Bench measures.
  * A caller that wants it adds `withExtensions` to [[builder]]. */
object Session {

  /** `SPARK_GRAFT_CPUS` from `env`, else every core the JVM sees. */
  private[graft] def cpusFrom(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(
      _.trim.toInt)

  def cpus: Int = cpusFrom(sys.env)

  /** The corpus the mains read: `SPARK_GRAFT_SF_DIR`, else sf0.1. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Timed iterations per measured item: `SPARK_GRAFT_ITERS`, else
    * `default`; at least 1. */
  def iters(default: Int): Int =
    sys.env.get("SPARK_GRAFT_ITERS").fold(default)(_.trim.toInt).max(1)

  /** The settings every session starts from: one shuffle partition per
    * local core, UTC, AQE on, no UI. */
  private[graft] def settings(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  /** A builder preloaded with [[settings]]; callers may add to it. */
  def builder(cpus: Int = cpus): SparkSession.Builder =
    SparkSession.builder().config(settings(cpus))

  /** Get or create the session `b` describes, logging at WARN. */
  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
