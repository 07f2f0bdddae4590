package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession

/** clickhouse-client query-surface compatibility: trailing FORMAT and
  * SETTINGS clauses, zero-arg count(), the GLOBAL distribution hint,
  * bare USING lists, and ANY/ALL join strictness. All are token-located
  * rewrites — string literals never match.
  */
class CompatSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  private def mk(): Unit = {
    g.sql("DROP TABLE IF EXISTS cp_t")
    g.sql("CREATE TABLE cp_t(k Int64, v Int64)")
    g.sql("INSERT INTO cp_t VALUES (1, 10), (1, 11), (2, 20)")
  }

  test("trailing FORMAT and SETTINGS clauses are accepted and dropped; " +
    "count() means count(*); GLOBAL IN is the plain IN") {
    mk()
    assert(g.sql("SELECT count() AS n FROM cp_t FORMAT TabSeparated")
      .collect()(0).getLong(0) === 3L)
    assert(g.sql("SELECT sum(v) AS s FROM cp_t " +
      "SETTINGS max_threads = 4, join_use_nulls = 1 FORMAT JSON")
      .collect()(0).getLong(0) === 41L)
    assert(g.sql("SELECT count() AS n FROM cp_t WHERE k GLOBAL NOT IN " +
      "(SELECT k FROM cp_t WHERE k = 2)").collect()(0).getLong(0) === 2L)
    // a literal containing the words is untouched
    assert(g.sql("SELECT 'SETTINGS max_threads = 4' AS s").collect()(0)
      .getString(0) === "SETTINGS max_threads = 4")
  }

  test("CH LIMIT off, n means OFFSET off LIMIT n; the LIMIT m,n BY form " +
    "is untouched (it belongs to the LIMIT BY rewrite); TRUNCATE TABLE " +
    "IF EXISTS tolerates a missing table") {
    mk()
    val two = g.sql("SELECT v FROM cp_t ORDER BY v LIMIT 1, 2").collect()
      .map(_.getLong(0)).toSeq
    assert(two === Seq(11L, 20L))
    // LIMIT 1, 1 BY k: per-key second row — k=1 has (10, 11) → 11
    val by = g.sql("SELECT k, v FROM cp_t ORDER BY k, v LIMIT 1, 1 BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(by === Seq((1L, 11L)))
    g.sql("TRUNCATE TABLE IF EXISTS cp_no_such_table") // silent
    intercept[Exception] { g.sql("TRUNCATE TABLE cp_no_such_table") }
  }

  test("bare USING k (CH) gets Spark's required parens; multi-column " +
    "lists too") {
    mk()
    assert(g.sql("SELECT count() AS n FROM cp_t a JOIN cp_t b USING k")
      .collect()(0).getLong(0) === 5L)
    assert(g.sql("SELECT count() AS n FROM cp_t a JOIN cp_t b USING k, v")
      .collect()(0).getLong(0) === 3L)
  }

  test("ON CLUSTER clauses on DDL are accepted and dropped (a single " +
    "process IS its cluster); a SELECT's ON join keyword is untouched") {
    g.sql("DROP TABLE IF EXISTS cp_oc ON CLUSTER main")
    g.sql("CREATE TABLE cp_oc ON CLUSTER main (k Int64, cluster Int64) " +
      "ENGINE=MergeTree ORDER BY k")
    g.sql("INSERT INTO cp_oc VALUES (1, 5), (2, 6)")
    g.sql("ALTER TABLE cp_oc ON CLUSTER 'my cluster' ADD COLUMN v Int64")
    g.sql("RENAME TABLE cp_oc TO cp_oc2 ON CLUSTER main")
    // a column actually named cluster survives in queries
    assert(g.sql("SELECT count() AS n FROM cp_oc2 a JOIN cp_oc2 b " +
      "ON a.cluster = b.cluster").collect()(0).getLong(0) === 2L)
    g.sql("TRUNCATE TABLE cp_oc2 ON CLUSTER main")
    assert(g.sql("SELECT count() AS n FROM cp_oc2").collect()(0)
      .getLong(0) === 0L)
    g.sql("DROP TABLE cp_oc2 ON CLUSTER main")
  }

  test("SHOW TABLES [NOT] LIKE filters; SYSTEM RELOAD DICTIONARIES " +
    "refreshes every registry entry") {
    mk()
    g.sql("DROP TABLE IF EXISTS cp_like_a")
    g.sql("CREATE TABLE cp_like_a(x Int64)")
    val names = g.sql("SHOW TABLES LIKE 'cp\\_like%'").collect()
      .map(_.getString(0)).toSeq
    assert(names === Seq("cp_like_a"), names)
    val others = g.sql("SHOW TABLES NOT LIKE 'cp%'").collect()
      .map(_.getString(0)).toSeq
    assert(!others.exists(_.startsWith("cp_")), others)
    g.sql("DROP DICTIONARY IF EXISTS cp_d1")
    g.sql("CREATE DICTIONARY cp_d1(k Int64, v Int64) PRIMARY KEY k " +
      "SOURCE(CLICKHOUSE(TABLE 'cp_t'))")
    g.sql("SYSTEM RELOAD DICTIONARIES") // must not throw; refreshes cp_d1
    g.sql("DROP DICTIONARY cp_d1")
    g.sql("DROP TABLE cp_like_a")
  }

  test("SHOW TABLES lists only user tables after a system.tables read " +
    "(the engine's own __graft views stay hidden)") {
    // a fresh session: the shared one carries other suites' temp views
    val g = new GraftSession(spark.newSession(), skipRestore = true)
    g.sql("DROP DATABASE IF EXISTS cp_showdb")
    g.sql("CREATE DATABASE cp_showdb")
    g.sql("CREATE TABLE cp_showdb.st_a(x Int64)")
    g.sql("CREATE TABLE cp_showdb.st_b(x Int64)")
    assert(g.sql("SELECT name FROM system.tables WHERE database = 'cp_showdb'")
      .collect().length === 2)
    val names = g.sql("SHOW TABLES FROM cp_showdb").collect()
      .map(_.getString(0)).toSeq.sorted
    assert(names === Seq("st_a", "st_b"), names)
    g.sql("DROP DATABASE cp_showdb")
  }

  test("GROUP BY ALL (CH 22.x+ shorthand) groups by every non-aggregate " +
    "select item through the dialect pipeline") {
    g.sql("DROP TABLE IF EXISTS cp_gba")
    g.sql("CREATE TABLE cp_gba(k Int64, c String, v Int64)")
    g.sql("INSERT INTO cp_gba VALUES (1,'a',10),(1,'a',5),(2,'b',7)")
    val rows = g.sql("SELECT k, c, CAST(sum(v) AS BIGINT) AS sv " +
      "FROM cp_gba GROUP BY ALL ORDER BY k, c").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, "a", 15L), (2L, "b", 7L)))
    // with a CH-dialect function in the key (runs the full rewrite path)
    g.sql("DROP TABLE IF EXISTS cp_gba2")
    g.sql("CREATE TABLE cp_gba2(d Date, v Int64)")
    g.sql("INSERT INTO cp_gba2 VALUES ('2021-01-05', 1), ('2021-08-05', 2)")
    val r2 = g.sql("SELECT toYear(d) AS y, count(*) AS n FROM cp_gba2 " +
      "GROUP BY ALL ORDER BY y").collect()
    assert(r2.length === 1 && r2(0).getLong(1) === 2L)
    g.sql("DROP TABLE cp_gba; DROP TABLE cp_gba2")
  }

  test("CH's GROUP BY k WITH ROLLUP / WITH CUBE forms run (Spark accepts " +
    "the Hive-compatible syntax natively)") {
    mk()
    val roll = g.sql("SELECT k, CAST(sum(v) AS BIGINT) AS s FROM cp_t " +
      "GROUP BY k WITH ROLLUP ORDER BY k NULLS FIRST, s").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
    assert(roll.toSeq === Seq((-1L, 41L), (1L, 21L), (2L, 20L)))
    val cube = g.sql("SELECT count(*) AS n FROM (SELECT k, v FROM cp_t " +
      "GROUP BY k, v WITH CUBE)").collect()(0).getLong(0)
    // 3 (k,v) + 3 (k,null)→2 distinct... count all grouping-set rows
    assert(cube > 3L)
  }

  test("scalar WITH binds expression aliases (constants, expressions " +
    "over columns, scalar subqueries); CTE WITH is untouched") {
    mk()
    assert(g.sql("WITH 15 AS lim SELECT count() AS n FROM cp_t " +
      "WHERE v > lim").collect()(0).getLong(0) === 1L)
    assert(g.sql("WITH v * 2 AS dv SELECT CAST(sum(dv) AS BIGINT) AS s " +
      "FROM cp_t").collect()(0).getLong(0) === 82L)
    assert(g.sql("WITH (SELECT max(v) FROM cp_t) AS mx SELECT count() " +
      "AS n FROM cp_t WHERE v = mx").collect()(0).getLong(0) === 1L)
    assert(g.sql("WITH cte AS (SELECT k FROM cp_t WHERE v > 10) " +
      "SELECT count(*) AS n FROM cte").collect()(0).getLong(0) === 2L)
  }

  test("CH array literals: [..] in expression position becomes array(), " +
    "after IN it is a plain list, subscripting and string literals are " +
    "untouched") {
    mk()
    assert(g.sql("SELECT arrayJoin([7, 8]) AS x ORDER BY x").collect()
      .map(_.getInt(0)).toSeq === Seq(7, 8))
    assert(g.sql("SELECT count() AS n FROM cp_t WHERE v IN [10, 20]")
      .collect()(0).getLong(0) === 2L)
    assert(g.sql("SELECT 'keep [1,2]' AS s").collect()(0)
      .getString(0) === "keep [1,2]")
    assert(g.sql("SELECT has([1, 2, 3], 2) AS h").collect()(0)
      .getBoolean(0) === true)
  }

  test("CH parametric quantiles map onto Spark's percentile family; " +
    "the plural form returns the probability array") {
    mk()
    val r = g.sql("SELECT quantileExact(0.5)(v) AS med, " +
      "quantiles(0.0, 1.0)(v) AS lohi FROM cp_t").collect()(0)
    assert(r.getDouble(0) === 11.0) // true-rank median of {10, 11, 20}
    assert(r.getSeq[Long](1).toSeq === Seq(10L, 20L))
  }

  test("ANY LEFT JOIN keeps at most one right row per key " +
    "(deterministic full-row-min where CH picks arbitrarily); ALL is " +
    "the default strictness; ON-form ANY errors loudly") {
    mk()
    val any = g.sql("SELECT t1.k AS k, t1.v AS v, t2.v AS v2 FROM cp_t t1 " +
      "ANY LEFT JOIN cp_t t2 USING k ORDER BY k, v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(any === Seq((1L, 10L, 10L), (1L, 11L, 10L), (2L, 20L, 20L)))
    val all = g.sql("SELECT count() AS n FROM cp_t t1 " +
      "ALL INNER JOIN cp_t t2 USING k").collect()(0).getLong(0)
    assert(all === 5L)
    intercept[Exception] {
      g.sql("SELECT t1.k FROM cp_t t1 ANY LEFT JOIN cp_t t2 ON t1.k = t2.k")
        .collect()
    }
    g.sql("DROP TABLE cp_t")
  }
}
