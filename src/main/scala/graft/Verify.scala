package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names to skip (scale probes
    // exclude a known-quadratic entry without forking the contract — the
    // driver's 2-arg invocation is unchanged)
    val (sfDir, outDir, skip) = args match {
      case Array(s, o)     => (s, o, Set.empty[String])
      case Array(s, o, sk) => (s, o, sk.split(",").map(_.trim).toSet)
    }
    // optional builder-side dev loop: GRAFT_VERIFY_ONLY=q1,q2 runs just
    // those entries (the driver never sets it, so its gate is unaffected)
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Sessions.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    val plansDir = Paths.get("target/plans")
    Files.createDirectories(plansDir)
    SparkEntry.queries.foreach { case (name, fn) =>
      try if (!skip(name) && only.forall(_.contains(name))) {
        System.err.println(s"[verify] start $name")
        val df = fn(spark, sfDir)
        // plan snapshot for shuffle/pushdown audits without re-deriving
        Files.writeString(plansDir.resolve(s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        // A query over a table that failed to REGISTER dies with a generic
        // TABLE_OR_VIEW_NOT_FOUND; report the real registration cause once
        // per query instead (VERDICT r9 wrong #2).
        val regCause = Tables.registrationErrors(spark).collectFirst {
          case (t, c) if Option(e.getMessage).exists(_.contains(s"`$t`")) =>
            s" (table '$t' failed to register: $c)"
        }.getOrElse("")
        System.err.println(s"[verify] $name failed: ${e.getMessage}$regCause")
      } finally
        // queries that pin a shared intermediate (l13's materialize) hand
        // cache ownership to their caller once the result is written
        graft.queries.LlmQueries.releaseShared()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // __SFBASE__ → this run's SF basename: fixture paths in oracle SQL must
    // name the per-SF export subtree the queries just wrote (two sequential
    // runs at different SFs would otherwise race on one shared directory).
    val sfBase = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__SFBASE__", sfBase))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
