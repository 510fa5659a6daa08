package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings, checked without starting a session. */
class SessionSpec extends AnyFunSuite {

  test("factory settings: a partition per core, UTC, AQE, no UI; cpus default to the JVM's") {
    val s = Session.settings(3)
    assert(s("spark.master") == "local[3]")
    assert(s("spark.sql.shuffle.partitions") == "3")
    assert(s("spark.sql.session.timeZone") == "UTC")
    assert(s("spark.sql.adaptive.enabled") == "true")
    assert(s("spark.ui.enabled") == "false")
    assert(Session.cpusFrom(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Session.cpusFrom(Map("SPARK_GRAFT_CPUS" -> "6")) == 6)
  }
}
