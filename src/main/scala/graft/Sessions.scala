package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** Single place that builds a correctly-configured local SparkSession.
  *
  * Every setting here is load-bearing for the oracle gate or for scale
  * posture:
  *   - UTC session timezone: timestamp literals must resolve identically to
  *     the DuckDB oracle's naive TIMESTAMP literals regardless of host TZ.
  *   - nanosAsLong: events.parquet carries timestamp[ns], which Spark's
  *     vectorized reader otherwise rejects (see [[Tables.events]]).
  *   - shuffle.partitions sized to the local core count (not the 200
  *     default); on a real cluster this would be set per-job or left to AQE.
  *   - AQE on: runtime coalescing + skew-join handling is part of the
  *     100 TB design (SURVEY §4.1 — the reference's static repartition rule
  *     is strictly weaker).
  *
  * Three more make generated code compile once per engine, not once per
  * session and literal value. Spark keys its compiled-class cache
  * (`CodeGenerator.cache`) on (context classloader, Java source), and
  * every wire connection is a new SparkSession:
  *   - artifact isolation off: with it on, each SparkSession's tasks run
  *     under their own classloader, so every connection recompiled
  *     byte-identical sources. Safe because nothing in the engine adds
  *     session artifacts (no `ADD JAR`, no `addArtifact`, no classloaders of
  *     its own), so there is nothing to isolate.
  *   - [[graft.plans.ParameterizeLiterals]], a physical rule installed by
  *     [[GraftExtensions.injectPlanRules]]: filter comparisons and `IN` lists
  *     pass int/long/date/timestamp/double literals through the generated
  *     class's `references`, so the source no longer depends on the value.
  *     It applies to `FilterExec` conditions only, before
  *     `CollapseCodegenStages` with and without AQE; scan pushdown keeps its
  *     `Literal`s.
  *   - [[CodegenCacheEntries]] cache entries instead of 100.
  */
object Sessions {
  /** `spark.sql.codegen.cache.maxEntries`: the smallest round size that
    * holds the engine's largest working set, one `graft.Verify` pass over
    * all 222 entries, which compiles 2,917 distinct classes at sf0.01.
    * Spark's default of 100 evicts classes that later queries need again.
    * The cache fills only to the working set a process actually runs.
    */
  val CodegenCacheEntries = 3000

  def build(appName: String,
            cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      .config("spark.ui.enabled", "false")
      // Commit protocol (guide §6 small-files / §1.2 fixed costs): v1
      // renames every task file twice (task dir → job dir → table) and the
      // job-commit pass is a serial driver-side listing+rename; v2 renames
      // once at task commit and job commit is O(1). Each insert statement
      // pays this fixed cost, and a DDL-heavy workload (MV propagation,
      // OPTIMIZE staging) pays it per write. _SUCCESS markers are pure
      // overhead for managed engine tables (the engine's own intent files
      // carry crash-safety where it matters — stagedReplace).
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    if (!GraftExtensions.configured(new SparkConf().getOption("spark.sql.extensions")))
      b.withExtensions(GraftExtensions.injectPlanRules)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Fixed-zone civil-field collapse (year/month/day over timestamps as
    // pure integer arithmetic) — registered here so EVERY entry point
    // (bench anchors, verify, servers, tests) plans through it.
    GraftExtensions.addOptimization(s, graft.plans.CivilFieldRewrite(s))
    // Monotone civil-predicate unwrap (toYear(d)=1995 → d range) — must
    // follow CivilFieldRewrite so it sees the EpochCivilField form.
    GraftExtensions.addOptimization(s, graft.plans.CivilPredicateUnwrap(s))
    GraftExtensions.addOptimization(s, graft.plans.ProjectionRoute(s))
    s
  }
}
