package graft

import graft.functions.Portable
import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The SparkSessionExtensions-injected optimizer rule: plain-SQL
  * `CAST(conv(substring(md5(x),1,8),16,10) AS BIGINT)` is rewritten to the
  * native h32 kernel with identical values; other conv/md5 uses survive. */
class ExtensionsRuleSpec extends SparkSpec {

  private val hashSql =
    "CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)"

  private lazy val extSession: SparkSession = {
    val base = spark // force base session creation first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Session.start(Session.builder(cpus = 4)
      .withExtensions(new GraftExtensions))
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  private def docs(s: SparkSession) =
    Tables.t(s, sf("sf0.001"), "documents")

  test("the md5-hex composition is rewritten to native h32 in SQL plans") {
    val df = docs(extSession).selectExpr(s"$hashSql AS h")
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("h32"), s"rule did not fire:\n$p")
    assert(!p.contains("conv("), s"builtin composition survived:\n$p")
  }

  test("rewritten values are identical to the un-rewritten session") {
    val got = docs(extSession).selectExpr(s"$hashSql AS h")
      .agg(sum("h"), count(lit(1))).collect()(0)
    val want = docs(spark).select(Portable.h32Builtin(col("text")).as("h"))
      .agg(sum("h"), count(lit(1))).collect()(0)
    assert(got == want, s"got $got want $want")
  }

  test("native kernels are SQL-callable via injected functions") {
    docs(extSession).createOrReplaceTempView("ext_docs")
    val got = extSession
      .sql("SELECT sum(h32(text)) AS s, count(*) AS n FROM ext_docs")
      .collect()(0)
    val want = docs(spark).select(Portable.h32Builtin(col("text")).as("h"))
      .agg(sum("h"), count(lit(1))).collect()(0)
    assert(got == want, s"got $got want $want")
    // dot_i64 over array<long> columns, straight from SQL
    val d = extSession.sql(
      "SELECT dot_i64(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect()(0).getLong(0)
    assert(d == 32L)
  }

  test("unrelated conv and md5 uses are left untouched") {
    val df = docs(extSession)
      .selectExpr("CAST(conv(substring(md5(text), 1, 4), 16, 10) AS BIGINT) AS h4",
        "md5(text) AS m")
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("conv(") && p.contains("md5("),
      s"rule over-matched:\n$p")
    assert(df.count() > 0)
  }
}
