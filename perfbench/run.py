#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <serve-wire|ingest-mixed>
        --seed N --seconds S --trace 0|1 [--raw FILE]

Run from the repository root. The first run compiles the engine
(src/main/scala) and the harness (perfbench/src) into .bench_build/ with the
Scala compiler shipped in the Spark jars; later runs reuse the classes while
the sources are unchanged. Each run generates its tables from the seed,
starts one JVM that sets up, warms up and measures the workload, checks the
outputs (DuckDB computes the expected values), and prints
{"correct", "attempted", "failed", "metrics"} as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import datetime as dt
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

T_START = time.monotonic()
# A run must end within this many seconds of its start (builds excepted).
RUN_BUDGET_S = 170

# Generated table scale per workload (lineitem = 6e6 * sf rows).
WORKLOADS = {"serve-wire": 0.002, "ingest-mixed": 0.001}
# The tail percentile reported as select_p90_ms: every run's SELECT count
# must support it with stats.MIN_BEYOND samples beyond it.
TAIL_Q = 0.9
# serve-wire: statement instances per shape in the pool
POOL_PER_SHAPE = 12
BUILD = ".bench_build"


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars() -> str:
    """$SPARK_HOME/jars, else the jars beside a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark jars with a Scala compiler: set SPARK_HOME")


def java() -> str:
    j = shutil.which("java")
    if not j:
        fail("no java on PATH")
    return j


def digest(files) -> str:
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars: str, classpath: list, out: str, sources: list) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", out]
    if classpath:
        cmd += ["-cp", ":".join(classpath)]
    r = subprocess.run(cmd + sources, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compile into {out} failed")


def build(jars: str) -> list:
    """Compile engine and harness when their sources changed; returns the
    JVM classpath."""
    engine_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not engine_src:
        fail("no engine sources under src/main/scala (run from the repo root)")
    resources = sorted(f for f in glob.glob("src/main/resources/**", recursive=True)
                       if os.path.isfile(f))
    harness_src = sorted(glob.glob("perfbench/src/*.scala"))
    engine_out = os.path.join(BUILD, "engine")
    harness_out = os.path.join(BUILD, "harness")
    stamp_e = digest(engine_src + resources)
    stamp_h = digest(harness_src) + stamp_e

    def fresh(out, stamp):
        p = os.path.join(out, ".stamp")
        return os.path.exists(p) and open(p).read() == stamp

    if not fresh(engine_out, stamp_e):
        scalac(jars, [], engine_out, engine_src)
        for f in resources:
            dst = os.path.join(engine_out, os.path.relpath(f, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(f, dst)
        open(os.path.join(engine_out, ".stamp"), "w").write(stamp_e)
    if not fresh(harness_out, stamp_h):
        scalac(jars, [engine_out], harness_out, harness_src)
        open(os.path.join(harness_out, ".stamp"), "w").write(stamp_h)
    return [os.path.abspath(harness_out), os.path.abspath(engine_out),
            os.path.join(jars, "*")]


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(cp: list, run_dir: str, args: list, cpus: int) -> None:
    for d in ("tmp", "local", "warehouse", "files"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = [java(), "-XX:-UsePerfData", "-Xmx3g", "-Xss4m",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/local",
           f"-Dspark.graft.fileRoot={run_dir}/files",
           "-Dspark.sql.catalogImplementation=in-memory",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(cp), "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=f"{run_dir}/warehouse",
               SPARK_GRAFT_CPUS=str(cpus))
    env.pop("GRAFT_SPREAD", None)
    left = RUN_BUDGET_S - (time.monotonic() - T_START)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, left))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("workload did not finish in time", 3)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload JVM exited with {rc}", 3)


# --- correctness ------------------------------------------------------------

def _cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def _num(s):
    try:
        return float(s)
    except (TypeError, ValueError):
        return None


def _key(row):
    return tuple(("%.6g" % n) if (n := _num(c)) is not None else c for c in row)


def rows_match(got, want) -> bool:
    """Same multiset of rows; numbers equal to a relative 1e-6."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            na, nb = _num(a), _num(b)
            if na is not None and nb is not None:
                if not math.isclose(na, nb, rel_tol=1e-6, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


def duck(data_dir: str, run_dir: str):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{run_dir}/tmp'")
    con.execute("SET threads=2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    for name, sql in gen.DUCK_VIEWS.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return con


def check_serve(raw, con, pool) -> set:
    """rids of SELECTs whose (statement, protocol) result was wrong."""
    by_id = {p["id"]: p for p in pool}
    wrong = set()
    for key, rows in raw["extra"]["results"].items():
        sid, proto = key.split("/")
        st = by_id[int(sid)]
        if st["duck"] is None:
            ok = sorted(r[0] for r in rows) == sorted(st["expect_first_col"])
        else:
            want = [[_cell(v) for v in r] for r in con.execute(st["duck"]).fetchall()]
            ok = rows_match(rows, want)
        if not ok:
            print(f"perfbench: wrong result for {st['shape']} over {proto}: "
                  f"{st['ch']}", file=sys.stderr)
            wrong.add((int(sid), proto))
    return {o["rid"] for o in raw["ops"]
            if o["kind"] == "select" and (o["inst"], o["proto"]) in wrong}


# --- reduction ----------------------------------------------------------------

def wall(o):
    return o["end"] - o["start"]


def end_to_end(workload, raw, good):
    sel = [wall(o) for o in good if o["kind"] == "select"]
    if not stats.supports(len(sel), TAIL_Q):
        print(f"perfbench: {len(sel)} SELECTs do not support p{TAIL_Q * 100:g}",
              file=sys.stderr)
    secs = (raw["measure_end"] - raw["measure_start"]) / 1000.0
    if workload == "serve-wire":
        # the HTTP clients' SELECTs, which queue on the server's one lock
        aux = stats.median([wall(o) for o in good
                            if o["kind"] == "select" and o["proto"] == "http"])
    else:
        # writers alternate the two tables: the mean of the two paths' means
        per = {}
        for o in good:
            if o["kind"] == "insert":
                per.setdefault(o["name"], []).append(wall(o))
        aux = sum(statistics.mean(v) for v in per.values()) / len(per)
    return {
        "setup_s": (stats.median(raw["setup_ms"]) / 1000.0, "s"),
        "select_p50_ms": (stats.median(sel), "ms"),
        "select_p90_ms": (stats.quantile(sel, TAIL_Q), "ms"),
        "select_qps": (len(sel) / secs, "1/s"),
        "aux_ms": (aux, "ms"),
        "heap_live_mb": (raw["heap_live_mb"], "MB"),
    }


def per_layer(workload, raw, good):
    """Per-layer metrics of a traced run, as means per traced operation.

    The traced operations are the SELECTs run in the traced slices. Each was
    replayed in process right after its wire round trip, so parse,
    `GraftSession.sql`, Catalyst phases, scans and Spark jobs are measured
    on the replay.
    """
    traced = [o for o in good if o["traced"] and o["kind"] == "select"]
    untraced = [o for o in good if not o["traced"] and o["kind"] == "select"]
    rids = {o["rid"] for o in traced}
    n = max(1, len(traced))
    spans = [s for s in raw["spans"] if s["rid"] in rids]
    selfs = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, []))

    extra = raw["extra"]
    m = {}
    m["parser.parse_us"] = (total("parser.parse") * 1000.0 / n, "us")
    m["exec.sql_ms"] = (total("exec.sql") / n, "ms")
    # GraftSession.sql minus the Catalyst work it triggers and the CH parse:
    # mostly the rewriteSelect text chain and view refresh
    m["exec.frontend_ms"] = (max(0.0, total("exec.sql") - total("parser.parse")
                                 - total("catalyst.parsing")
                                 - total("catalyst.analysis")) / n, "ms")
    sn = extra.get("session_new_ms")
    m["exec.session_new_ms"] = (stats.median(sn) if sn else 0.0, "ms")
    m["exec.session_restore_ms"] = (stats.median(raw["restore_ms"]), "ms")
    for t, key in (("ev_plain", "exec.insert_plain_p50_ms"),
                   ("ev_part", "exec.insert_mv_p50_ms")):
        xs = [wall(o) for o in good if o["kind"] == "insert" and o["name"] == t]
        m[key] = (stats.median(xs) if xs else 0.0, "ms")

    for ph in ("parsing", "analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = (total(f"catalyst.{ph}") / n, "ms")
    facts = [f for f in raw["facts"] if f.get("rid") in rids]

    def fsum(k):
        return sum(f.get(k, 0) for f in facts)

    m["plans.rules_ms"] = (fsum("plan_rules_ms") / n, "ms")
    m["storage.files_read"] = (fsum("files_read") / n, "count")
    m["storage.scan_metadata_ms"] = (fsum("scan_metadata_ms") / n, "ms")
    pt = fsum("partitions_total")
    m["storage.partitions_read_ratio"] = (fsum("partitions_read") / pt if pt else 0.0,
                                          "ratio")

    owner = stats.attribute_jobs(raw["jobs"], raw["group_rid"])
    mine = [j for j in raw["jobs"] if owner[j["id"]] in rids and j["end"] is not None]
    per_rid = {}
    for j in mine:
        per_rid.setdefault(owner[j["id"]], []).append((j["start"], j["end"]))
    in_jobs = sum(stats.union_length(iv) for iv in per_rid.values()) / n
    # the interval the jobs belong to: the replay
    op_ms = total("replay") / n

    def jsum(k):
        return sum(j[k] for j in mine) / n

    m["spark.jobs"] = (len(mine) / n, "count")
    m["spark.stages"] = (jsum("stages"), "count")
    m["spark.tasks"] = (jsum("tasks"), "count")
    m["spark.in_jobs_ms"] = (in_jobs, "ms")
    m["spark.outside_jobs_ms"] = (max(0.0, op_ms - in_jobs), "ms")
    m["spark.task_run_ms"] = (jsum("run_ms"), "ms")
    m["spark.task_cpu_ms"] = (jsum("cpu_ms"), "ms")
    m["spark.gc_ms"] = (jsum("gc_ms"), "ms")
    m["spark.shuffle_write_bytes"] = (jsum("shuffle_write_bytes"), "bytes")
    m["spark.shuffle_read_bytes"] = (jsum("shuffle_read_bytes"), "bytes")
    m["spark.spill_bytes"] = (jsum("spill_bytes"), "bytes")
    m["spark.input_rows"] = (jsum("input_rows"), "count")
    returned = sum(o["rows"] for o in traced)
    m["spark.rows_read_per_row_returned"] = (
        sum(j["input_rows"] for j in mine) / returned if returned else 0.0, "ratio")
    # compiles are counted process-wide: per operation of the window
    ops_all = max(1, len([o for o in raw["ops"] if o["kind"] in ("select", "insert")]))
    m["spark.codegen_compiles"] = (extra["codegen_compiles"] / ops_all, "count")
    m["spark.codegen_compile_ms"] = (
        extra["codegen_compiles"] * extra["codegen_mean_ms"] / ops_all, "ms")
    m["jvm.gc_pause_ms"] = (extra["gc_pause_ms"] / ops_all, "ms")

    # wire: client round trip minus the server's own time for the same
    # statement execution (native: the engine's statement log; HTTP: the
    # summary header's elapsed time), per protocol
    server_ms = {int(k): v for k, v in raw["server_ms"].items()}
    secs = (raw["measure_end"] - raw["measure_start"]) / 1000.0
    for proto in ("native", "http"):
        d = [s["end"] - s["start"] - server_ms[s["rid"]]
             for s in by_name.get(f"server.{proto}", []) if s["rid"] in server_ms]
        m[f"server.{proto}_overhead_ms"] = (sum(d) / len(d) if d else 0.0, "ms")
        xs = [wall(o) for o in untraced if o["proto"] == proto]
        m[f"server.{proto}_select_p50_ms"] = (stats.median(xs) if xs else 0.0, "ms")
    cx = [wall(o) for o in good if o["kind"] == "connect" and not o["traced"]]
    m["server.connect_p50_ms"] = (stats.median(cx) if cx else 0.0, "ms")
    m["server.select_qps"] = (len([o for o in good if o["kind"] == "select"]) / secs, "1/s")

    inserts = [o for o in raw["ops"] if o["kind"] == "insert"]
    m["storage.parts_end"] = (extra.get("files_end", 0), "count")
    m["storage.files_per_insert"] = (extra.get("files_new", 0) / len(inserts)
                                     if inserts else 0.0, "ratio")
    m["storage.stored_bytes_per_row"] = (extra["stored_bytes"] / extra["stored_rows"]
                                         if extra.get("stored_rows") else 0.0, "bytes")
    m["ingest.rows_per_s"] = (extra.get("stored_rows", 0) / secs, "1/s")

    # honesty: traced time no layer span covers, and what tracing costs
    containers = [s for s in spans if s["parent"] == -1]
    m["trace.unattributed_ms"] = (sum(selfs[s["id"]] for s in containers) / n, "ms")
    m["trace.overhead_ratio"] = (stats.overhead_ratio(raw["ops"]), "ratio")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="also copy the JVM's raw record here")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    cp = build(spark_jars())
    run_dir = os.path.abspath(os.path.join(
        BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        sf = WORKLOADS[a.workload]
        data = os.path.join(run_dir, "data")
        gen.write_tables(a.seed, sf, data)
        cpus = len(os.sched_getaffinity(0))
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--cpus", str(cpus),
                "--out", os.path.join(run_dir, "raw.json")]
        pool = None
        if a.workload == "serve-wire":
            pool = gen.statement_pool(a.seed, sf, POOL_PER_SHAPE)
            with open(os.path.join(run_dir, "pool.tsv"), "w") as f:
                for p in pool:
                    f.write(f"{p['id']}\t{p['shape']}\t{p['protos']}\t{p['ch']}\n")
            args += ["--pool", os.path.join(run_dir, "pool.tsv")]
        run_jvm(cp, run_dir, args, cpus)
        with open(os.path.join(run_dir, "raw.json")) as f:
            raw = json.load(f)
        if a.raw:
            shutil.copy(os.path.join(run_dir, "raw.json"), a.raw)

        con = duck(data, run_dir)
        bad = set()
        checks = []
        if a.workload == "serve-wire":
            bad = check_serve(raw, con, pool)
        else:
            for name, c in raw["extra"]["checks"].items():
                checks.append(c["ok"])
                if not c["ok"]:
                    print(f"perfbench: check {name} failed: {json.dumps(c)}",
                          file=sys.stderr)
        con.close()
        for o in raw["ops"]:
            if not o["ok"]:
                print(f"perfbench: {o['kind']} {o['name']} failed: {o['error']}",
                      file=sys.stderr)
        good = [o for o in raw["ops"] if o["ok"] and o["rid"] not in bad]
        attempted = len(raw["ops"]) + len(checks)
        failed = attempted - len(good) - sum(checks)
        if a.trace:
            metrics = per_layer(a.workload, raw, good)
        else:
            metrics = end_to_end(a.workload, raw, good)
        bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
        missing = [k for k in names if k not in metrics]
        if missing:
            fail(f"metrics missing from the reduction: {missing}", 4)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]}
                              for k in names}}
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
