package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types._

import graft.exec.GraftSession
import graft.parser.ChParser
import graft.server.{ChHttpServer, ChNativeClient, ChWireServer}

/** One timed operation. Times are ms on [[Clock]]. `inst` is the statement
  * instance (serve-wire) or -1. `traced` marks the operations run while
  * spans were being recorded (traced runs alternate traced and untraced
  * slices so both halves see the same warm-up). */
final case class Op(kind: String, name: String, proto: String, inst: Int,
                    rid: Long, start: Double, end: Double, ok: Boolean,
                    rows: Long, traced: Boolean, error: String = "") {
  def toJson: Map[String, Any] = Map("kind" -> kind, "name" -> name,
    "proto" -> proto, "inst" -> inst, "rid" -> rid, "start" -> start,
    "end" -> end, "ok" -> ok, "rows" -> rows, "traced" -> traced,
    "error" -> error)
}

/** Everything a run hands back to `run.py` (written as one JSON file). */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val dataDir: String, val cpus: Int) {
  val tracer = new Tracer(trace)
  val ops = new ConcurrentLinkedQueue[Op]()
  val rids = new AtomicLong(0)
  val extra = new ConcurrentHashMap[String, Any]()
  /** rid of each engine job group seen by a traced in-process replay. */
  val groupRid = new ConcurrentHashMap[String, Long]()
  /** Server-side time of a traced wire SELECT, as the server itself
    * reports it, by rid. */
  val serverMs = new ConcurrentHashMap[Long, Double]()
  val facts = new ConcurrentLinkedQueue[Map[String, Any]]()
  var setupMs: Seq[Double] = Nil
  var restoreMs: Seq[Double] = Nil
  var measureStart, measureEnd = 0.0

  def nextRid(): Long = rids.incrementAndGet()

  /** The measured window: its bounds, and the GC time and codegen
    * compiles that fell inside it. */
  def window(body: => Unit): Unit = {
    val gc0 = Main.gcMs()
    val cg0 = Main.codegenCount()
    measureStart = Clock.now()
    body
    measureEnd = Clock.now()
    extra.put("gc_pause_ms", Main.gcMs() - gc0)
    extra.put("codegen_compiles", Main.codegenCount() - cg0)
  }

  /** Traced runs split the measured window into four slices and trace the
    * odd ones. */
  def tracedNow(): Boolean =
    trace && ((Clock.now() - measureStart) / (seconds * 1000 / 4)).toInt % 2 == 1

  def timed(kind: String, name: String, proto: String, inst: Int,
            traced: Boolean)(body: Long => Long): Op = {
    val rid = nextRid()
    val s = Clock.now()
    val op =
      try {
        val rows =
          if (traced) tracer.span(rid, s"op.$kind") { body(rid) } else body(rid)
        Op(kind, name, proto, inst, rid, s, Clock.now(), ok = true, rows, traced)
      } catch {
        case NonFatal(e) =>
          Op(kind, name, proto, inst, rid, s, Clock.now(), ok = false, 0,
            traced, String.valueOf(e).take(300))
      }
    ops.add(op)
    op
  }
}

object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val run = new Run(arg(args, "--workload"), arg(args, "--seed").toLong,
      arg(args, "--seconds").toDouble, arg(args, "--trace") == "1",
      arg(args, "--data"), arg(args, "--cpus").toInt)
    val out = arg(args, "--out")
    val spark = graft.Sessions.build("perfbench", run.cpus.toString)
    val jobs = new JobListener
    if (run.trace) spark.sparkContext.addSparkListener(jobs)
    run.workload match {
      case "serve-wire" => ServeWire(spark, run, arg(args, "--pool"))
      case "ingest-mixed" => IngestMixed(spark, run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // what a wire connect pays: a GraftSession over a fresh Spark session
    if (run.trace)
      run.extra.put("session_new_ms", (1 to 5).map(_ =>
        timeMs(new GraftSession(spark.newSession(), skipRestore = true))))
    run.extra.put("codegen_mean_ms", scala.util.Try(
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
        .getSnapshot.getMean).getOrElse(0.0))
    org.apache.spark.PerfbenchBridge.waitForListeners(spark.sparkContext)
    System.gc(); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val doc = Map[String, Any](
      "workload" -> run.workload, "seed" -> run.seed, "trace" -> run.trace,
      "cpus" -> run.cpus, "setup_ms" -> run.setupMs,
      "restore_ms" -> run.restoreMs, "heap_live_mb" -> heap / 1048576.0,
      "measure_start" -> run.measureStart, "measure_end" -> run.measureEnd,
      "ops" -> run.ops.asScala.toSeq.map(_.toJson),
      "spans" -> run.tracer.toJson, "jobs" -> (if (run.trace) jobs.toJson else Nil),
      "group_rid" -> run.groupRid.asScala.toMap,
      "server_ms" -> run.serverMs.asScala.toMap,
      "facts" -> run.facts.asScala.toSeq,
      "extra" -> run.extra.asScala.toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json(doc))
    spark.stop()
    // the HTTP server's request executor is not daemon and outlives stop()
    sys.exit(0)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def codegenCount(): Long = scala.util.Try(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount).getOrElse(0L)

  def timeMs(body: => Unit): Double = {
    val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e6
  }

  /** Register the generated tables on a fresh session of `spark` and replay
    * the warehouse catalog into a new GraftSession over it: the set-up
    * every workload shares. Returns the session and its GraftSession. */
  def attach(spark: SparkSession, run: Run): (SparkSession, GraftSession) = {
    val s = spark.newSession()
    graft.Tables.registerAll(s, run.dataDir)
    var g: GraftSession = null
    run.restoreMs :+= timeMs { g = new GraftSession(s) }
    (s, g)
  }

  /** Set up `reps` times and keep the last; setup_ms holds every rep.
    * `body` gets the rep number; reps before the last build under their own
    * names and are torn down by `discard` outside the timed region, so no
    * rep re-creates a name another session may still hold cached. */
  def setUp[T](run: Run, reps: Int)(body: Int => T)(discard: T => Unit): T = {
    var last: Option[T] = None
    (1 to reps).foreach { rep =>
      run.setupMs :+= timeMs { last = Some(body(rep)) }
      if (rep < reps) discard(last.get)
    }
    last.get
  }

  /** Record the server-side ms of a traced native SELECT: the engine's own
    * statement log holds it, from `GraftSession.sql` until the wire
    * handler retires the fully streamed result. Other statements (`DESC`)
    * are retired before their result streams, so their logged time does
    * not cover the server's whole part and is left out. */
  def logServerMs(run: Run, op: Op, text: String): Unit =
    if (ChParser.parse(text).exists(_.isInstanceOf[graft.parser.ChStatement.Select]))
      graft.exec.PerfbenchQueryLog.durationMs(text,
        Clock.toEpoch(op.start) - 2, Clock.toEpoch(op.end) + 2)
        .foreach(run.serverMs.put(op.rid, _))

  /** In-process replay of one statement for a traced operation: parse,
    * `GraftSession.sql` until it returns, then drain. Job groups map back to
    * the operation's rid; Catalyst phases, planning and scan facts come off
    * the replayed DataFrame's own QueryExecution. */
  def replay(run: Run, g: GraftSession, rid: Long, text: String): Unit = {
    val t = run.tracer
    val df = t.span(rid, "replay") {
      t.span(rid, "parser.parse") { ChParser.parse(text) }
      val df = t.span(rid, "exec.sql") { g.sql(text) }
      Option(g.spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        .foreach(grp => run.groupRid.put(grp, rid))
      t.span(rid, "spark.drain") { df.collect() }
      df.queryExecution.tracker.phases.foreach { case (ph, p) =>
        t.record(rid, s"catalyst.$ph", Clock.fromEpoch(p.startTimeMs),
          Clock.fromEpoch(p.endTimeMs))
      }
      df
    }
    // bookkeeping, outside the replay's span
    g.finishQuery()
    run.facts.add(QueryFacts(df.queryExecution) + ("rid" -> rid))
  }
}

/** Result rows as strings, one Seq per row (`\N` for NULL). */
object Rows {
  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case other => other.toString
  }

  def native(c: ChNativeClient, sql: String): Seq[Seq[String]] = {
    val blocks = c.query(sql)
    blocks.flatMap { b =>
      (0 until b.nRows).map(i => b.columns.map(col => cell(col.values(i))))
    }
  }

  def tsv(body: String): Seq[Seq[String]] =
    body.split("\n", -1).toSeq.filter(_.nonEmpty).map(_.split("\t", -1).toSeq
      .map(_.replace("\\t", "\t").replace("\\n", "\n").replace("\\\\", "\\")))
}

/** Four closed-loop clients over the native and HTTP servers running a
  * seeded mix of ~20 SELECT shapes (the pool `run.py` generated). */
object ServeWire {
  final case class Stmt(id: Int, shape: String, httpOnly: Boolean, ch: String)

  def loadPool(path: String): IndexedSeq[Stmt] = {
    // the pool file is one statement per line: id, shape, protocols, text
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    lines.asScala.toIndexedSeq.filter(_.nonEmpty).map { l =>
      val Array(id, shape, protos, ch) = l.split("\t", 4)
      Stmt(id.toInt, shape, protos == "http", ch)
    }
  }

  val ReconnectEvery = 8

  /** Names one set-up rep builds: the last rep builds the names the pool
    * reads; earlier reps build suffixed twins. */
  final case class Names(db: String, dict: String, view: String)
  val SetupReps = 3
  def names(rep: Int): Names =
    if (rep == SetupReps) Names("sw", "nation_dict", "big_orders")
    else Names(s"sw_r$rep", s"nation_dict_r$rep", s"big_orders_r$rep")

  def build(g: GraftSession, n: Names): Unit = {
    Seq(
      s"CREATE DATABASE ${n.db}",
      s"CREATE TABLE ${n.db}.nation(n_nationkey Int32, n_name String, n_regionkey Int32) " +
        "ENGINE=MergeTree ORDER BY n_nationkey",
      s"INSERT INTO ${n.db}.nation SELECT n_nationkey, n_name, n_regionkey FROM nation",
      s"CREATE TABLE ${n.db}.customer(c_custkey Int64, c_name String, c_nationkey Int32, " +
        "c_acctbal Float64, c_mktsegment String) ENGINE=MergeTree ORDER BY c_custkey",
      s"INSERT INTO ${n.db}.customer SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
        "c_mktsegment FROM customer",
      s"CREATE TABLE ${n.db}.orders(o_orderkey Int64, o_custkey Int64, o_orderstatus String, " +
        "o_totalprice Float64, o_orderdate Date, o_orderpriority String) " +
        "ENGINE=MergeTree ORDER BY o_orderkey",
      s"INSERT INTO ${n.db}.orders SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "o_totalprice, CAST(o_orderdate AS DATE), o_orderpriority FROM orders",
      s"CREATE TABLE ${n.db}.lineitem(l_orderkey Int64, l_partkey Int64, l_suppkey Int64, " +
        "l_quantity Float64, l_extendedprice Float64, l_discount Float64, " +
        "l_returnflag String, l_linestatus String, l_shipdate Date) " +
        "ENGINE=MergeTree PARTITION BY toYYYYMM(l_shipdate) ORDER BY l_orderkey",
      s"INSERT INTO ${n.db}.lineitem SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, " +
        "l_extendedprice, l_discount, l_returnflag, l_linestatus, " +
        "CAST(l_shipdate AS DATE) FROM lineitem",
      s"CREATE TABLE ${n.db}.part_ver(p_partkey Int64, p_brand String, " +
        "p_retailprice Float64, ver UInt32) " +
        "ENGINE=ReplacingMergeTree(ver) ORDER BY p_partkey",
      s"INSERT INTO ${n.db}.part_ver SELECT p_partkey, p_brand, p_retailprice, 1 FROM part",
      s"INSERT INTO ${n.db}.part_ver SELECT p_partkey, p_brand, p_retailprice + 1, 2 " +
        "FROM part WHERE p_partkey % 3 = 0",
      s"CREATE DICTIONARY ${n.dict}(n_nationkey UInt64, n_name String) " +
        s"PRIMARY KEY n_nationkey SOURCE(CLICKHOUSE(TABLE '${n.db}.nation')) " +
        "LAYOUT(HASHED()) LIFETIME(MIN 0 MAX 300)",
      s"CREATE VIEW ${n.view} AS SELECT * FROM ${n.db}.orders " +
        "WHERE o_totalprice > 400000"
    ).foreach(g.sql)
  }

  def apply(spark: SparkSession, run: Run, poolPath: String): Unit = {
    val pool = loadPool(poolPath)
    val (wire, http, _, _) = Main.setUp(run, SetupReps) { rep =>
      val (_, g) = Main.attach(spark, run)
      build(g, names(rep))
      (new ChWireServer(spark).start(), new ChHttpServer(spark).start(), g,
        names(rep))
    } { case (w, h, g, n) =>
      w.stop(); h.stop()
      Seq(s"DROP DICTIONARY IF EXISTS ${n.dict}", s"DROP VIEW IF EXISTS ${n.view}",
        s"DROP DATABASE IF EXISTS ${n.db}").foreach(g.sql)
    }
    val results = new ConcurrentHashMap[String, Seq[Seq[String]]]()
    val hc = java.net.http.HttpClient.newHttpClient()
    // buffered responses: the summary header then carries the server's
    // elapsed time for the whole statement, rendering included
    val uri = java.net.URI.create(
      s"http://127.0.0.1:${http.boundPort}/?wait_end_of_query=1")
    val Elapsed = "\"elapsed_ns\":\"(\\d+)\"".r.unanchored

    /** The result rows and the server's elapsed ms from its summary header. */
    def httpRows(sql: String): (Seq[Seq[String]], Option[Double]) = {
      val req = java.net.http.HttpRequest.newBuilder(uri)
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(sql)).build()
      val resp = hc.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode != 200)
        throw new RuntimeException(s"HTTP ${resp.statusCode}: ${resp.body.take(200)}")
      val elapsed = resp.headers.firstValue("X-ClickHouse-Summary").toScala
        .collect { case Elapsed(ns) => ns.toLong / 1e6 }
      (Rows.tsv(resp.body), elapsed)
    }

    /** Record the first result per (statement, protocol); a later result
      * that differs from it fails the operation. */
    def check(st: Stmt, proto: String, rows: Seq[Seq[String]]): Long = {
      val prev = results.putIfAbsent(s"${st.id}/$proto", rows)
      if (prev != null && prev != rows)
        throw new IllegalStateException(s"result of ${st.id} changed")
      rows.size
    }

    // one in-process replay session per client thread, built like a wire
    // connection's
    val replaySessions = new ThreadLocal[GraftSession] {
      override def initialValue(): GraftSession =
        new GraftSession(spark.newSession(), skipRestore = true)
    }
    /** `exec` returns the rows and, when the protocol reports it, the
      * server-side ms of the statement. */
    def select(proto: String, st: Stmt, traced: Boolean)(
        exec: String => (Seq[Seq[String]], Option[Double])): Unit = {
      var server: Option[Double] = None
      val op = run.timed("select", st.shape, proto, st.id, traced) { rid =>
        val t = if (traced) run.tracer else new Tracer(false)
        t.span(rid, s"server.$proto") {
          val (rows, ms) = exec(st.ch)
          server = ms
          check(st, proto, rows)
        }
      }
      if (traced && op.ok) {
        server.fold(Main.logServerMs(run, op, st.ch))(run.serverMs.put(op.rid, _))
        replay(run, replaySessions.get, op.rid, st.ch)
      }
    }

    // warm-up: every shape once, spread over three native connections and
    // HTTP in parallel (results are kept for the correctness check,
    // timings are not)
    val firsts = pool.groupBy(_.shape).values.map(_.head).toSeq.sortBy(_.id)
    val (httpFirsts, nativeFirsts) = firsts.partition(_.httpOnly)
    val warm = nativeFirsts.grouped((nativeFirsts.size + 2) / 3).map { sts =>
      new Thread(() => {
        val c = new ChNativeClient("127.0.0.1", wire.boundPort)
        try sts.foreach(st => scala.util.Try(check(st, "native", Rows.native(c, st.ch))))
        finally c.close()
      })
    }.toSeq :+ new Thread(() =>
      httpFirsts.foreach(st => scala.util.Try(check(st, "http", httpRows(st.ch)._1))))
    warm.foreach(_.start())
    warm.foreach(_.join())
    val nativePool = pool.filterNot(_.httpOnly)

    val stop = new AtomicBoolean(false)
    def client(i: Int)(body: Random => Unit): Thread =
      new Thread(() => {
        val rnd = new Random(run.seed * 1000 + i)
        while (!stop.get) body(rnd)
      }, s"perfbench-client-$i")
    val natives = (0 until 2).map { i =>
      val next = cycle(nativePool, run.seed * 1000 + i)
      client(i) { rnd =>
        connect(run, wire.boundPort).foreach { c =>
          try {
            var k = 0
            while (k < ReconnectEvery && !stop.get) {
              select("native", next(rnd), run.tracedNow()) { sql =>
                (Rows.native(c, sql), None)
              }
              k += 1
            }
          } finally c.close()
        }
      }
    }
    val https = (2 until 4).map(i => {
      val next = cycle(pool, run.seed * 1000 + i)
      client(i) { rnd => select("http", next(rnd), run.tracedNow())(httpRows) }
    })
    measure(run, stop, natives ++ https)
    run.extra.put("results", results.asScala.toMap)
    wire.stop(); http.stop()
  }

  /** A timed native connect + Hello; None when it failed. */
  def connect(run: Run, port: Int): Option[ChNativeClient] = {
    val traced = run.tracedNow()
    var c: ChNativeClient = null
    run.timed("connect", "native", "native", -1, traced) { rid =>
      val t = if (traced) run.tracer else new Tracer(false)
      c = t.span(rid, "server.connect") { new ChNativeClient("127.0.0.1", port) }
      0L
    }
    Option(c)
  }

  /** A client's statement source: shapes in a seeded order, round robin, and
    * a random instance of each shape. Every client runs each shape equally
    * often, so the mix is the same in every run. */
  def cycle(stmts: IndexedSeq[Stmt], seed: Long): Random => Stmt = {
    val byShape = stmts.groupBy(_.shape)
    val order = new Random(seed).shuffle(byShape.keys.toIndexedSeq.sorted)
    var k = 0
    rnd => {
      val xs = byShape(order(k % order.size))
      k += 1
      xs(rnd.nextInt(xs.size))
    }
  }

  def replay(run: Run, g: GraftSession, rid: Long, text: String): Unit =
    try Main.replay(run, g, rid, text)
    catch { case NonFatal(e) => run.extra.put(s"replay_error_$rid", e.toString) }

  /** Run the client threads for the window, then stop and join them. */
  def measure(run: Run, stop: AtomicBoolean, threads: Seq[Thread]): Unit =
    run.window {
      threads.foreach(_.start())
      Thread.sleep((run.seconds * 1000).toLong)
      stop.set(true)
      threads.foreach(_.join())
    }
}

/** Two native writers streaming 20,000-row INSERT … FORMAT Native blocks
  * into a plain MergeTree table (direct-part path) or a partitioned one
  * feeding a SummingMergeTree MV (group commit + MV propagation), beside
  * two native readers. */
object IngestMixed {
  val BatchRows = 20000
  val Kinds = Array("click", "view", "purchase", "signup", "error")
  val Schema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("kind", StringType),
    StructField("value", LongType), StructField("props", StringType)))
  val Cols = "id Int64, ts DateTime, user_id Int64, kind String, value Int64, props String"
  val T0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** A set-up here costs about a second, so five reps buy a steadier
    * median. The last rep builds `ig`; earlier reps build suffixed twins. */
  val SetupReps = 5
  def db(rep: Int): String = if (rep == SetupReps) "ig" else s"ig_r$rep"

  def build(g: GraftSession, db: String): Unit = Seq(
    s"CREATE DATABASE $db",
    s"CREATE TABLE $db.ev_plain($Cols) ENGINE=MergeTree ORDER BY id",
    s"CREATE TABLE $db.ev_part($Cols) ENGINE=MergeTree " +
      "PARTITION BY toYYYYMM(ts) ORDER BY id",
    s"CREATE TABLE $db.ev_sum(kind String, n UInt64, total Int64) " +
      "ENGINE=SummingMergeTree ORDER BY kind",
    s"CREATE MATERIALIZED VIEW $db.ev_mv TO $db.ev_sum AS SELECT kind, " +
      s"count() AS n, sum(value) AS total FROM $db.ev_part GROUP BY kind"
  ).foreach(g.sql)

  def batch(rnd: Random, seq: Long, firstId: Long): Seq[Row] = {
    val base = T0 + seq * 43200000L
    (0 until BatchRows).map { i =>
      Row(firstId + i, new java.sql.Timestamp(base + rnd.nextInt(43200000)),
        rnd.nextInt(20000).toLong, Kinds(rnd.nextInt(Kinds.length)),
        rnd.nextInt(10000).toLong, s"""{"k": ${rnd.nextInt(100)}, "src": "w"}""")
    }
  }

  def apply(spark: SparkSession, run: Run): Unit = {
    val (wire, _, _) = Main.setUp(run, SetupReps) { rep =>
      val (_, g) = Main.attach(spark, run)
      build(g, db(rep))
      (new ChWireServer(spark).start(), g, db(rep))
    } { case (w, g, d) =>
      w.stop()
      Seq(s"DROP VIEW IF EXISTS $d.ev_mv", s"DROP DATABASE IF EXISTS $d").foreach(g.sql)
    }
    val acked = Map("ev_plain" -> new AtomicLong, "ev_part" -> new AtomicLong)
    // batch `sq` holds ids [sq * BatchRows, (sq + 1) * BatchRows) and a
    // half-day of timestamps; both only ever grow among acknowledged batches
    val nextId = new AtomicLong(0)
    val latestSeq = new AtomicLong(0)
    val tables = Seq("ev_plain", "ev_part", "ev_sum")
    val filesBefore = files(spark, tables).size

    def insert(c: ChNativeClient, rnd: Random, traced: Boolean,
               table: String, sq: Long): Unit = {
      val rows = batch(rnd, sq, sq * BatchRows)
      val op = run.timed("insert", table, "native", -1, traced) { rid =>
        val t = if (traced) run.tracer else new Tracer(false)
        t.span(rid, "server.insert") {
          c.insertStream(s"INSERT INTO ig.$table FORMAT Native", Schema,
            rows.iterator)
        }
      }
      if (op.ok) {
        acked(table).addAndGet(op.rows)
        latestSeq.accumulateAndGet(sq, math.max)
        nextId.accumulateAndGet((sq + 1) * BatchRows, math.max)
      }
    }

    val readers = Seq(
      ("count_plain", (_: Random) => "SELECT count() FROM ig.ev_plain"),
      ("count_part", (_: Random) => "SELECT count() FROM ig.ev_part"),
      ("recent_window", (_: Random) => {
        val from = new java.sql.Timestamp(T0 + (latestSeq.get - 2) * 43200000L)
        s"SELECT kind, count() AS n, sum(value) AS v FROM ig.ev_part " +
          s"WHERE ts >= toDateTime('${from.toString.take(19)}') GROUP BY kind ORDER BY kind"
      }),
      ("point_lookup", (r: Random) =>
        s"SELECT id, user_id, value FROM ig.ev_plain WHERE id = " +
          s"${(r.nextDouble() * math.max(1L, nextId.get)).toLong}"),
      ("mv_read", (_: Random) =>
        "SELECT kind, sum(n) AS n, sum(total) AS total FROM ig.ev_sum " +
          "GROUP BY kind ORDER BY kind"))

    /** Reader statement `k` on connection `c`; a traced one is replayed on
      * `replayOn`, a session as fresh as the connection's. */
    def read(c: ChNativeClient, replayOn: => GraftSession, rnd: Random,
             lastCount: collection.mutable.Map[String, Long], k: Int,
             traced: Boolean): Unit = {
      val (name, text) = readers(k)
      val sql = text(rnd)
      // rows acknowledged before the statement is sent: a count must see them
      val floor =
        if (name.startsWith("count_")) acked("ev_" + name.stripPrefix("count_")).get
        else 0L
      val op = run.timed("select", name, "native", -1, traced) { rid =>
        val t = if (traced) run.tracer else new Tracer(false)
        val rows = t.span(rid, "server.native") { Rows.native(c, sql) }
        if (name.startsWith("count_")) {
          val n = rows.head.head.toLong
          // a reader's successive counts of one table never decrease
          if (n < lastCount.getOrElse(name, 0L))
            throw new IllegalStateException(s"$name went back: $n < ${lastCount(name)}")
          if (n < floor)
            throw new IllegalStateException(s"$name read $n rows after $floor were acknowledged")
          lastCount(name) = n
        }
        rows.size.toLong
      }
      if (traced && op.ok) {
        Main.logServerMs(run, op, sql)
        ServeWire.replay(run, replayOn, op.rid, sql)
      }
    }

    // warm-up: one insert into each table, every reader shape once
    locally {
      val c = new ChNativeClient("127.0.0.1", wire.boundPort)
      val rnd = new Random(run.seed)
      try {
        insert(c, rnd, traced = false, "ev_plain", 0)
        insert(c, rnd, traced = false, "ev_part", 1)
        val last = collection.mutable.Map.empty[String, Long]
        readers.indices.foreach(k => read(c, null, rnd, last, k, traced = false))
      } finally c.close()
    }
    run.ops.clear()

    val stop = new AtomicBoolean(false)
    def client(i: Int)(body: (ChNativeClient, Random) => Unit): Thread =
      new Thread(() => {
        val rnd = new Random(run.seed * 1000 + i)
        val c = new ChNativeClient("127.0.0.1", wire.boundPort)
        try while (!stop.get) body(c, rnd) finally c.close()
      }, s"perfbench-client-$i")
    // each writer alternates the two tables from a seeded first pick, so
    // both write paths get the same share of statements in every run;
    // writer i's n-th batch is batch 2 + 2n + i, whatever the interleaving
    val writers = (0 until 2).map(i => {
      val first = new Random(run.seed + i).nextInt(2)
      var n = 0
      client(i) { (c, rnd) =>
        val table = if ((first + n) % 2 == 0) "ev_plain" else "ev_part"
        insert(c, rnd, run.tracedNow(), table, 2 + 2 * n + i)
        n += 1
      }
    })
    // readers run the five statements round robin from a seeded start, each
    // on a new connection: a connection's session keeps the file listing of
    // a table from its first read of it and never sees later inserts (see
    // the README), so only a fresh connection reads what was acknowledged
    val readerThreads = (2 until 4).map(i => new Thread(() => {
      val rnd = new Random(run.seed * 1000 + i)
      val last = collection.mutable.Map.empty[String, Long]
      var k = new Random(run.seed + i).nextInt(readers.size)
      while (!stop.get) ServeWire.connect(run, wire.boundPort).foreach { c =>
        try read(c, new GraftSession(spark.newSession(), skipRestore = true),
          rnd, last, k % readers.size, run.tracedNow())
        finally c.close()
        k += 1
      }
    }, s"perfbench-client-$i"))
    ServeWire.measure(run, stop, writers ++ readerThreads)
    wire.stop()

    // after the run: counts equal acknowledged rows, and the MV's merged
    // totals equal the base table's aggregate. They read through a fresh
    // session: the set-up session still holds the file listing it cached
    // for each unpartitioned table when it was empty, and writes from other
    // sessions do not invalidate it.
    val fresh = new GraftSession(spark.newSession(), skipRestore = true)
    val checks = collection.mutable.LinkedHashMap.empty[String, Any]
    acked.foreach { case (t, n) =>
      val got = fresh.sql(s"SELECT count() FROM ig.$t").collect().head.getLong(0)
      checks(s"count_$t") = Map("stored" -> got, "acked" -> n.get, "ok" -> (got == n.get))
    }
    def agg(sql: String): Map[String, (Long, Long)] =
      fresh.sql(sql).collect().map(r => r.get(0).toString ->
        (r.get(1).toString.toLong, r.get(2).toString.toLong)).toMap
    val base = agg("SELECT kind, count() AS n, sum(value) AS v FROM ig.ev_part GROUP BY kind")
    val mv = agg("SELECT kind, sum(n) AS n, sum(total) AS v FROM ig.ev_sum GROUP BY kind")
    checks("mv_totals") = Map("base" -> base.map { case (k, v) => k -> Seq(v._1, v._2) },
      "mv" -> mv.map { case (k, v) => k -> Seq(v._1, v._2) }, "ok" -> (base == mv))
    val fs = files(spark, tables)
    // the MV's target holds parts on disk, not only a cached relation
    val mvFiles = files(spark, Seq("ev_sum")).size
    checks("mv_files") = Map("files" -> mvFiles, "ok" -> (mvFiles > 0))
    run.extra.put("checks", checks)
    run.extra.put("stored_bytes", fs.map(_.length).sum)
    run.extra.put("stored_rows", acked.values.map(_.get).sum)
    run.extra.put("files_end", fs.size)
    run.extra.put("files_new", fs.size - filesBefore)
  }

  /** Data files under the given tables' locations. */
  def files(spark: SparkSession, tables: Seq[String]): Seq[java.io.File] =
    tables.flatMap { t =>
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some("ig"))).location
      val root = new java.io.File(loc)
      val w = java.nio.file.Files.walk(root.toPath)
      try w.iterator.asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toVector
      finally w.close()
    }
}
