package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession

/** One engine state per SparkSession (`GraftSession.EngineState`): sibling
  * GraftSessions share views and dictionaries, restore reads every
  * recorded script afresh, and the state lives and dies with its
  * SparkSession.
  */
class EngineStateSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def metaFile(db: String, name: String): Path =
    Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      .resolve("_graft_meta").resolve(db).resolve(s"$name.sql")

  test("restore replays a rewritten script even when its mtime and size " +
    "are unchanged (ADVICE r20 #5)") {
    val g = new GraftSession(spark)
    g.sql("DROP TABLE IF EXISTS es_retype")
    g.sql("CREATE TABLE es_retype(k Int32)")
    try {
      new GraftSession(spark) // a warm construction reads the recorded script
      val mf = metaFile("default", "es_retype")
      val before = Files.readString(mf)
      val after = before.replace("Int32", "Int64")
      assert(after != before && after.length == before.length)
      val mtime = Files.getLastModifiedTime(mf)
      Files.writeString(mf, after)
      Files.setLastModifiedTime(mf, mtime)
      // the catalog forgets the table, as after a restart
      spark.sharedState.externalCatalog.dropTable(
        "default", "es_retype", ignoreIfNotExists = true, purge = false)
      val types = new GraftSession(spark).sql("DESC es_retype").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(types.get("k").contains("Int64"), s"DESC read $types")
    } finally g.sql("DROP TABLE IF EXISTS es_retype"): Unit
  }

  test("a GraftSession built before a sibling's CREATE DICTIONARY on the " +
    "same SparkSession answers dictGet and lists it; DROP DATABASE takes " +
    "its views and dictionaries from every sibling") {
    val early = new GraftSession(spark)
    val g = new GraftSession(spark)
    g.sql("DROP DATABASE IF EXISTS es_db")
    g.sql("CREATE DATABASE es_db")
    try {
      g.sql("CREATE TABLE es_db.es_dim(k Int64, nm String)")
      g.sql("INSERT INTO es_db.es_dim VALUES (1, 'one'), (2, 'two')")
      g.sql("CREATE DICTIONARY es_db.es_dict(k Int64, nm String) " +
        "PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'es_db.es_dim')) " +
        "LAYOUT(HASHED()) LIFETIME(MIN 0 MAX 300)")
      g.sql("CREATE VIEW es_db.es_dv AS SELECT k FROM es_db.es_dim")
      assert(early.sql("SELECT dictGet('es_dict', 'nm', 2) AS nm")
        .collect()(0).getString(0) === "two")
      def listed(s: GraftSession): Boolean =
        s.sql("SHOW DICTIONARIES").collect().exists(_.getString(0) == "es_dict")
      assert(listed(early))
      assert(early.sql("SHOW CREATE TABLE es_dv").collect()(0).getString(0)
        .contains("es_db.es_dim"))
      g.sql("DROP DATABASE es_db")
      assert(!listed(early), "a sibling's DROP must be seen too")
      assert(!new GraftSession(spark).sql("SHOW TABLES").collect()
        .exists(_.getString(0) == "es_dv"))
    } finally g.sql("DROP DATABASE IF EXISTS es_db"): Unit
  }

  test("a new GraftSession forgets a dictionary and a view that another " +
    "SparkSession dropped") {
    val other = new GraftSession(spark.newSession(), skipRestore = true)
    other.sql("DROP TABLE IF EXISTS es_xdim")
    other.sql("CREATE TABLE es_xdim(k Int64, nm String)")
    try {
      other.sql("INSERT INTO es_xdim VALUES (1, 'one')")
      other.sql("CREATE DICTIONARY es_xdict(k Int64, nm String) PRIMARY KEY k " +
        "SOURCE(CLICKHOUSE(TABLE 'es_xdim')) LAYOUT(HASHED()) " +
        "LIFETIME(MIN 0 MAX 300)")
      other.sql("CREATE VIEW es_xview AS SELECT k FROM es_xdim")
      new GraftSession(spark) // restores both into this SparkSession's state
      other.sql("DROP DICTIONARY es_xdict")
      other.sql("DROP VIEW es_xview")
      val fresh = new GraftSession(spark)
      assert(!fresh.sql("SHOW DICTIONARIES").collect()
        .exists(_.getString(0) == "es_xdict"))
      assert(!fresh.sql("SHOW TABLES").collect()
        .exists(_.getString(0) == "es_xview"))
    } finally {
      other.sql("DROP DICTIONARY IF EXISTS es_xdict")
      other.sql("DROP VIEW IF EXISTS es_xview")
      other.sql("DROP TABLE IF EXISTS es_xdim")
    }
  }

  test("a warm construction replays exactly the views whose sources " +
    "vanished, wherever their SELECT names them") {
    val g = new GraftSession(spark)
    val tables = Seq("es_kept", "es_gone1", "es_gone2", "es_gone3")
    val views = Seq(
      "es_cte_v" -> "WITH x AS (SELECT k FROM es_gone1) SELECT k FROM x",
      "es_sub_v" -> "SELECT k FROM es_kept WHERE k IN (SELECT k FROM es_gone2)",
      "es_inner_v" -> "SELECT k FROM es_gone3",
      "es_outer_v" -> "SELECT k FROM es_inner_v",
      "es_ok_v" -> "WITH x AS (SELECT k FROM es_kept) SELECT k FROM x")
    def cleanUp(): Unit = {
      views.reverse.foreach { case (v, _) => g.sql(s"DROP VIEW IF EXISTS $v") }
      tables.foreach(t => g.sql(s"DROP TABLE IF EXISTS $t"))
    }
    cleanUp()
    try {
      tables.foreach(t => g.sql(s"CREATE TABLE $t(k Int64)"))
      g.sql("INSERT INTO es_kept VALUES (7)")
      views.foreach { case (v, sel) => g.sql(s"CREATE VIEW $v AS $sel") }
      tables.tail.foreach(t => g.sql(s"DROP TABLE $t"))
      val g2 = new GraftSession(spark)
      val failed = g2.restoreErrors.collect {
        case (_, v, "view", _) if v.startsWith("es_") => v }.toSet
      assert(failed === Set("es_cte_v", "es_sub_v", "es_inner_v", "es_outer_v"))
      assert(g2.sql("SELECT k FROM es_ok_v").collect().map(_.getLong(0))
        .toSeq === Seq(7L))
    } finally cleanUp()
  }

  test("an unreachable SparkSession is not pinned by its state, and a new " +
    "SparkSession starts with empty state") {
    val name = "es_life_v"
    def detached(): WeakReference[SparkSession] = {
      val s = spark.newSession()
      Tables.registerAll(s, SparkTestSession.sf)
      new GraftSession(s, skipRestore = true)
        .sql(s"CREATE VIEW $name AS SELECT 1 AS x")
      // keep the state entry, but let no other suite's restore replay it
      Files.delete(metaFile(s.catalog.currentDatabase, name))
      assert(GraftSession.state(s).views.containsKey(name))
      assert(GraftSession.state(s).registration.isDefined)
      new WeakReference(s)
    }
    val ref = detached()
    var tries = 0
    while (ref.get != null && tries < 50) {
      System.gc(); Thread.sleep(50); tries += 1
    }
    assert(ref.get == null, s"the session was still reachable after $tries GCs")

    val s2 = spark.newSession()
    val st = GraftSession.state(s2)
    assert(st.views.isEmpty && st.dicts.isEmpty && st.registration.isEmpty)
    assert(!s2.catalog.tableExists("nation"))
    Tables.registerAll(s2, SparkTestSession.sf)
    assert(s2.catalog.tableExists("nation"), "registerAll skipped a new session")
    assert(Tables.registrationErrors(s2).isEmpty)
    val g2 = new GraftSession(s2, skipRestore = true)
    assert(g2.sql("SHOW DICTIONARIES").collect().isEmpty)
    assert(!g2.sql("SHOW TABLES").collect().exists(_.getString(0) == name))
  }
}
