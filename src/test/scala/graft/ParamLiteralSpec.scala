package graft

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{ParamLiteral, ParameterizeLiterals}

/** [[ParamLiteral]] filters return what the `Literal` they replace would:
  * every parameterized type and comparison, edge values included, through
  * whole-stage codegen, per-expression codegen and the interpreted `eval`.
  */
class ParamLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession.spark

  /** Column name → values, row k taking the k-th value (null past the end). */
  private val columns: Seq[(String, DataType, Seq[Any])] = Seq(
    ("i", IntegerType, Seq(Int.MinValue, -1, 0, 1, 42, Int.MaxValue)),
    ("l", LongType, Seq(Long.MinValue, -1L, 0L, 7L, Long.MaxValue)),
    ("d", DateType, Seq("1900-01-01", "1969-12-31", "1970-01-01",
      "1995-03-15", "2024-02-29").map(LocalDate.parse)),
    ("ts", TimestampType, Seq("1969-12-31T23:59:59.999999Z",
      "1970-01-01T00:00:00Z", "1960-06-01T12:00:00Z",
      "2024-01-01T12:00:00Z").map(Instant.parse)),
    ("x", DoubleType, Seq(Double.NaN, -0.0, 0.0, Double.NegativeInfinity,
      Double.PositiveInfinity, 1.5, Double.MinValue, -2.5)))
  private val nRows = columns.map(_._3.size).max + 2

  private val rows: Seq[Row] = (0 until nRows).map { k =>
    Row.fromSeq(k +: columns.map(c => c._3.lift(k).orNull))
  }
  private val schema = StructType(StructField("id", IntegerType) +:
    columns.map(c => StructField(c._1, c._2)))

  /** (SQL literal, its value) per column. */
  private val probes: Map[String, Seq[(String, Any)]] = Map(
    "i" -> Seq("CAST(-2147483648 AS INT)" -> Int.MinValue, "0" -> 0,
      "42" -> 42, "2147483647" -> Int.MaxValue),
    "l" -> Seq("CAST('-9223372036854775808' AS BIGINT)" -> Long.MinValue,
      "0L" -> 0L, "7L" -> 7L, "9223372036854775807L" -> Long.MaxValue),
    "d" -> Seq("1969-12-31", "1970-01-01", "2024-02-29", "1900-01-01")
      .map(s => s"DATE'$s'" -> LocalDate.parse(s)),
    "ts" -> Seq(
      "TIMESTAMP'1969-12-31 23:59:59.999999'" -> Instant.parse("1969-12-31T23:59:59.999999Z"),
      "TIMESTAMP'1970-01-01 00:00:00'" -> Instant.parse("1970-01-01T00:00:00Z"),
      "TIMESTAMP'2024-01-01 12:00:00'" -> Instant.parse("2024-01-01T12:00:00Z")),
    "x" -> Seq("CAST('NaN' AS DOUBLE)" -> Double.NaN, "-0.0D" -> -0.0,
      "0.0D" -> 0.0, "1.5D" -> 1.5, "CAST('-Infinity' AS DOUBLE)" ->
        Double.NegativeInfinity))

  /** Spark SQL's order: NaN equals NaN and sorts above +Infinity, and
    * -0.0 equals 0.0.
    */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: LocalDate, y: LocalDate) => x.compareTo(y)
    case (x: Instant, y: Instant) => x.compareTo(y)
    case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
  }

  /** Operator → its Scala-side predicate over (row value, literal values). */
  private val ops: Seq[(String, (Any, Seq[Any]) => Boolean)] = Seq(
    "=" -> ((v, ls) => cmp(v, ls.head) == 0),
    "<" -> ((v, ls) => cmp(v, ls.head) < 0),
    ">=" -> ((v, ls) => cmp(v, ls.head) >= 0),
    "<=>" -> ((v, ls) => cmp(v, ls.head) == 0),
    "IN" -> ((v, ls) => ls.exists(cmp(v, _) == 0)))

  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
      .createOrReplaceTempView("pl_t")
    s
  }

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def paramLiterals(plan: SparkPlan): Seq[ParamLiteral] =
    collectWithSubqueries(plan) { case p => p.expressions }
      .flatten.flatMap(_.collect { case p: ParamLiteral => p })

  private def checkAll(s: SparkSession): Unit =
    for ((col, _, values) <- columns; ps = probes(col); j <- ps.indices;
         (op, pred) <- ops) {
      val used = if (op == "IN") Seq(ps(j), ps((j + 1) % ps.size)) else Seq(ps(j))
      val cond = if (op == "IN") s"$col IN (${used.map(_._1).mkString(", ")})"
        else s"$col $op ${ps(j)._1}"
      val got = s.sql(s"SELECT id FROM pl_t WHERE $cond").collect()
        .map(_.getInt(0)).toSet
      val want = (0 until nRows).filter { k =>
        values.lift(k).exists(pred(_, used.map(_._2)))
      }.toSet
      assert(got === want, cond)
    }

  test("every parameterized type and comparison matches a Scala-side " +
    "filter under whole-stage codegen") {
    val s = session()
    checkAll(s)
    val types = paramLiterals(executed(
      s.sql("SELECT id FROM pl_t WHERE i >= 0 AND l < 7L AND " +
        "d = DATE'1970-01-01' AND ts <=> TIMESTAMP'1970-01-01 00:00:00' AND " +
        "x IN (1.5D, -0.0D)"))).map(_.dataType).toSet
    assert(types === Set(IntegerType, LongType, DateType, TimestampType, DoubleType))
  }

  test("results hold without whole-stage codegen and with the " +
    "interpreted eval") {
    checkAll(session("spark.sql.codegen.wholeStage" -> "false"))
    val interp = session("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    checkAll(interp)
    assert(paramLiterals(executed(interp.sql(
      "SELECT id FROM pl_t WHERE x < 1.5D"))).nonEmpty)
  }

  test("scalar subqueries that differ only in a literal are never merged") {
    val s = session()
    val df = s.sql("SELECT (SELECT count(*) FROM pl_t WHERE i > 0), " +
      "(SELECT count(*) FROM pl_t WHERE i > 1)")
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1)) === (3L, 2L))
    assert(paramLiterals(df.queryExecution.executedPlan).size === 2)
  }

  test("EXPLAIN text is unchanged: a ParamLiteral renders as its Literal") {
    val s = session()
    val plan = s.sql("SELECT id FROM pl_t WHERE i IN (1, 42) AND " +
      "x > CAST('NaN' AS DOUBLE) OR d < DATE'1969-12-31'")
      .queryExecution.sparkPlan
    val param = ParameterizeLiterals(plan)
    assert(paramLiterals(param).size === 4)
    assert(param.treeString(verbose = true) === plan.treeString(verbose = true))
    val filters = (p: SparkPlan) => p.collect { case f: FilterExec =>
      f.verboseStringWithOperatorId() }
    assert(filters(param) === filters(plan))
  }

  test("ParamLiteral stays out of scan partition and data filters") {
    val dir = java.nio.file.Files.createTempDirectory("pl_scan").toString
    try {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").partitionBy("i").parquet(dir)
      val plan = executed(spark.read.parquet(dir)
        .where("l > 0L AND i < 42 AND x >= 0.0D"))
      val scans = collect(plan) { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty)
      scans.foreach { f =>
        assert(f.partitionFilters.nonEmpty && f.dataFilters.nonEmpty)
        assert((f.partitionFilters ++ f.dataFilters)
          .forall(_.find(_.isInstanceOf[ParamLiteral]).isEmpty))
      }
      assert(collect(plan) { case f: FilterExec => f }
        .forall(_.condition.find(_.isInstanceOf[ParamLiteral]).nonEmpty))
      assert(paramLiterals(plan).nonEmpty)
    } finally {
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }
}
