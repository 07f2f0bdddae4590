package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession
import graft.functions.GraftExtensions

/** Generated code compiles once per engine: a query shape that already
  * ran compiles no class when a new wire session runs it (each connection
  * is a fresh SparkSession) or when its filter literals change.
  *
  * Compiles are counted as the change in Spark's compile counter. Other
  * suites in the same JVM may compile meanwhile, so each check takes the
  * fewest compiles over a few attempts: concurrent work can only add to a
  * count, and a shape that really recompiles does so on every attempt.
  */
class CodegenReuseSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = {
    val g = new GraftSession(spark)
    g.sql("DROP DATABASE IF EXISTS cgr_db")
    g.sql("CREATE DATABASE cgr_db")
    g.sql("CREATE TABLE cgr_db.t(i Int32, l Int64, d Date, ts DateTime, " +
      "x Float64) ENGINE = MergeTree ORDER BY i")
    g.sql("INSERT INTO cgr_db.t VALUES " + (0 until 40).map { k =>
      val d = java.time.LocalDate.of(1995, 1, 1).plusDays(k)
      val ts = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(k)
      s"($k, ${k * 1000L}, '$d', '${ts.toString.replace('T', ' ')}:00', ${k * 0.25})"
    }.mkString(", "))
    g
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def fewestCompiles(attempts: Int)(run: Int => Unit): Long =
    (1 to attempts).map { a =>
      val before = compiles()
      run(a)
      compiles() - before
    }.min

  /** One filter shape over every parameterized type; `k` picks the
    * literal values.
    */
  private def shape(k: Int): String =
    s"SELECT count(), sum(l) FROM cgr_db.t WHERE i >= ${k % 7} AND " +
      s"l < ${30000L + k} AND d >= toDate('1995-01-${"%02d".format(1 + k % 28)}') " +
      s"AND ts < toDateTime('2024-01-02 ${"%02d".format(k % 24)}:00:00') " +
      s"AND x > ${k * 0.01} AND i IN (${k % 5}, ${10 + k % 9}, 20, 21)"

  private def expected(k: Int): Long = (0 until 40).count { r =>
    r >= k % 7 && r * 1000L < 30000L + k && r >= k % 28 &&
      r < 24 + k % 24 && r * 0.25 > k * 0.01 &&
      Set(k % 5, 10 + k % 9, 20, 21)(r)
  }.toLong

  test("a SELECT that already ran compiles nothing on a fresh session") {
    val q = shape(0)
    assert(g.sql(q).collect()(0).getLong(0) === expected(0))
    val fewest = fewestCompiles(3) { _ =>
      val fresh = new GraftSession(spark.newSession(), skipRestore = true)
      assert(fresh.sql(q).collect()(0).getLong(0) === expected(0))
    }
    assert(fewest === 0L)
  }

  test("the same filter shape with new int/long/date/timestamp/double " +
    "literals compiles nothing") {
    assert(g.sql(shape(100)).collect()(0).getLong(0) === expected(100))
    val fewest = fewestCompiles(3) { a =>
      val k = 100 + a
      assert(g.sql(shape(k)).collect()(0).getLong(0) === expected(k))
    }
    assert(fewest === 0L)
  }

  test("each optimizer rule is registered once per session, however many " +
    "GraftSessions attach") {
    val s = spark.newSession()
    new GraftSession(s, skipRestore = true)
    new GraftSession(s, skipRestore = true)
    val rules = s.experimental.extraOptimizations.map(_.getClass)
    assert(rules.size === 4 && rules.distinct === rules, rules)
    assert(GraftExtensions.configured(Some("a.B, graft.functions.GraftExtensions")))
    assert(!GraftExtensions.configured(None))
  }
}
