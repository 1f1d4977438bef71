#!/usr/bin/env python3
"""Benchmark entry point for the Spark ETL engine in this repository.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Builds the program and the harness from the checkout's sources (once; a
content stamp skips the build when nothing changed), runs one workload in
one JVM (Spark `local[3]`), checks the workload's outputs, and prints one
JSON object as the last line of standard output:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones (a second, traced pass inside the same run). Everything
the run writes lives under perfbench/target/ and is deleted at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_backfill", "crawl_redrive", "query_catalog")
# The headline catalog rows query_catalog runs: at least one per catalog
# module, the ANN path (rplsh_knn) and a build-once artifact probe.
CATALOG_ROWS = (
    "lookup_join", "flatten", "rplsh_knn", "corpus_dedup_probe",
    "gopher_filter", "window_tumbling", "batch_slice", "media_decode", "schema_keys",
    "rollup_census", "range_join", "stream_inc_dedup")
# Spark's cores: one of four is left to the driver thread, JIT and GC
SPARK_CPUS = max(1, min(3, (os.cpu_count() or 1) - 1))
# The build's class-data-sharing archive (see build()).
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
# Wall budget of one run; the first run of a checkout also builds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# The child process (sbt or the benchmark JVM) runs in its own process group;
# if this script is stopped, the group goes with it.
_child = None


def _stop(signum, _frame):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout_s, **kw):
    """Runs `cmd` in its own process group; returns its exit code, or None
    when it ran out of time (the whole group is then killed)."""
    global _child
    _child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return _child.wait(timeout=max(5, timeout_s))
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        return None
    finally:
        _child = None


def source_stamp(root):
    """Hash of every file the build reads, so an unchanged checkout skips sbt."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt")]
    for base in (os.path.join(root, "project"), os.path.join(root, "src", "main"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    paths.append(os.path.join(HERE, "build.sbt"))
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compiles and packages the program and the harness, then makes one
    small ETL run that records the classes it loads in a class-data-sharing
    archive, which every measured run of the build maps: it took about 7 s of
    class loading out of crawl_redrive's set-up on a 4-core box, the same for
    every run. Returns the classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "perfbench-classpath.txt")
    stamp_file = os.path.join(target, "perfbench-stamp.txt")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log_file = os.path.join(target, "build.log")
    os.makedirs(target, exist_ok=True)
    with open(log_file, "w") as log:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
                         BUILD_LIMIT_S, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    with open(log_file) as f:
        out = f.read()
    lines = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if code != 0 or not lines:
        print(out[-4000:], file=sys.stderr)
        fail("build failed")
    cp = lines[-1]
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    dump_dir = os.path.join(target, "runs", "cds-dump")
    shutil.rmtree(dump_dir, ignore_errors=True)
    os.makedirs(os.path.join(dump_dir, "tmp"))
    run_jvm(cp, ["etl_backfill", "1", "1", "0", dump_dir, os.path.join(dump_dir, "result.json"),
                 root, "", str(int(time.time() * 1000))], dump_dir, RUN_LIMIT_S,
            f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    shutil.rmtree(dump_dir, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, run_dir, timeout_s, cds=f"-XX:SharedArchiveFile={ARCHIVE}"):
    """Runs perfbench.Main with the class-data-sharing option `cds`."""
    cmd = ["java", cds]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # A fixed heap with a fixed young generation: the young generation is
    # touched in full within seconds, so the resident set is 768 MB plus the
    # old generation's peak plus native memory, and moves with what the
    # program retains rather than with how the collector sized the heap
    # (with adaptive sizing its peak varied by a quarter between runs).
    cmd += ["-Xms2g", "-Xmx2g", "-Xmn768m", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(SPARK_CPUS),
               SPARK_GRAFT_VERIFY_ONLY=",".join(CATALOG_ROWS))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        return run_child(cmd, timeout_s, stdout=log, stderr=subprocess.STDOUT, env=env)


def main():
    t_start_ms = int(time.time() * 1000)
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the sf0.1 tables the catalog is written against (see TESTDATA.md)
    ap.add_argument("--testdata", default=os.path.expanduser("~/testdata/sf0.1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail(f"no program sources under {root}; run from the root of a checkout")
    bench_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json not found")
    with open(bench_file) as f:
        bench = json.load(f)
    if a.workload == "query_catalog" and not os.path.isfile(os.path.join(a.testdata, "lineitem.parquet")):
        fail(f"query_catalog needs the sf0.1 tables at {a.testdata}")

    cp = build(root)
    # set-up is timed from the JVM launch: the build is not part of it
    t_launch_ms = int(time.time() * 1000)
    run_dir = os.path.join(HERE, "target", "runs", f"{a.workload}-{os.getpid()}-{t_start_ms}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_file = os.path.join(run_dir, "result.json")
    try:
        code = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir,
                            result_file, root, a.testdata, str(t_launch_ms)],
                       run_dir, RUN_LIMIT_S)
        if code != 0 or not os.path.isfile(result_file):
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
                print(f.read()[-6000:], file=sys.stderr)
            fail(f"benchmark JVM {'timed out' if code is None else f'exited with {code}'}")
        with open(result_file) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        t_jvm_end = time.time()
        if a.workload == "query_catalog":
            n, bad, lines = oracle_check(root, a.testdata, os.path.join(run_dir, "verify"))
            attempted += n
            failed += bad
            res["detail"] += lines
        for line in res["detail"]:
            print(line, file=sys.stderr)
        print(f"phases: jvm {t_jvm_end - t_launch_ms / 1000:.1f} s, after jvm "
              f"{time.time() - t_jvm_end:.1f} s; in the jvm {res['phases']}", file=sys.stderr)
        if a.trace:
            spans = os.path.join(run_dir, "spans.json")
            if os.path.isfile(spans):
                shutil.copy(spans, os.path.join(HERE, "target", f"spans-{a.workload}.json"))
            names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
            # a layer the workload does not touch reads 0
            values = {n: 0.0 for n, _ in names}
            values.update(res["layer"])
            values["e2e.failed_ratio"] = failed / attempted
        else:
            names = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
            values = {k: v["value"] for k, v in res["e2e"].items()}
            missing = [n for n, _ in names if values.get(n) is None]
            if missing:
                fail(f"metrics not produced: {missing}")
        out = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


def oracle_check(root, sf_dir, verify_dir):
    """Compares graft.Verify's output for the catalog rows with DuckDB's, by
    the repository's own rule (scripts/compare.py: columns sorted by name,
    values normalised by its `norm`, same values in the same order).
    Returns (rows, rows that failed, detail lines)."""
    sys.path.insert(0, os.path.join(root, "scripts"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    import compare
    import pyarrow.parquet as pq

    def digest(table):
        cols = sorted(table.column_names)
        rows = [tuple(compare.norm(r[c]) for c in cols) for r in table.to_pylist()]
        return [len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()]

    sql_file = os.path.join(verify_dir, "oracle_sql.json")
    if not os.path.isfile(sql_file):
        return len(CATALOG_ROWS), len(CATALOG_ROWS), ["FAILED oracle: graft.Verify wrote no oracle_sql.json"]
    with open(sql_file, "rb") as f:
        sql_bytes = f.read()
    oracle = json.loads(sql_bytes)
    # DuckDB's results depend only on the SQL and the tables: computed once
    # and cached, outside every run's timing
    key = hashlib.sha256(sql_bytes + os.path.realpath(sf_dir).encode()).hexdigest()[:16]
    cache = os.path.join(HERE, "target", f"oracle-{key}.json")
    if os.path.isfile(cache):
        with open(cache) as f:
            want = json.load(f)
    else:
        import duckdb
        con = duckdb.connect()
        for t in compare.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        want = {name: digest(con.execute(sql).fetch_arrow_table()) for name, sql in oracle.items()}
        with open(cache, "w") as f:
            json.dump(want, f)
    bad, lines = 0, []
    for name in CATALOG_ROWS:
        d = os.path.join(verify_dir, name)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else []
        got = digest(pq.read_table(os.path.join(d, files[0]))) if files else None
        ok = name in want and got == want[name]
        bad += 0 if ok else 1
        lines.append(f"{'ok' if ok else 'FAILED'} oracle {name}: Spark {got and got[0]} rows, "
                     f"DuckDB {want[name][0] if name in want else None}")
    return len(CATALOG_ROWS), bad, lines


if __name__ == "__main__":
    main()
