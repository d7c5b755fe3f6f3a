#!/usr/bin/env python3
"""Production-path benchmark: one workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the repository's
sources together with the benchmark's Scala driver (sbt, offline) and
caches the classpath under .bench_build/; later runs reuse it until a
source file changes. Each run generates its inputs from the seed, starts
one JVM (the Spark driver, local[nproc]) and prints a report followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. A failed output check makes the exit
code 1.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

STATE = os.path.join(".bench_build", "perfbench")
DRIVER_MEM = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

# Input size per workload: days of events at the sf0.1 rate and late
# increments (see README.md for why).
INPUTS = {
    "write": dict(days=20, increments=8),
    "read": dict(days=10),
    # reference only (not in BENCHMARK.json): Bench.cascadeRun on the
    # write workload's input
    "cascade": dict(days=20),
}
# The read workload's input comes from this fixed seed, so its table
# depends only on the code and is kept between runs; the run's seed
# drives the query mix.
READ_INPUT_SEED = 0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run `cmd` as a process group of its own and wait for it. Whatever
    ends the wait (exit, timeout, an exception, SIGTERM) the whole group
    is killed and reaped before this returns. Returns the exit code, or
    None on a timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def source_stamp():
    """Hash of every file the build reads, so a source change rebuilds,
    and of the input generator, which the kept read table depends on."""
    h = hashlib.sha256()
    roots = ["build.sbt", os.path.join("project", "build.properties"), "src",
             os.path.join(HERE, "gen.py"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build with sbt if the sources changed; return the runtime classpath."""
    stamp_file = os.path.join(STATE, "classpath.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt)", file=sys.stderr, flush=True)
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as lf:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"],
                         BUILD_LIMIT_S, cwd=HERE, env=env, stdout=lf,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        out = f.read()
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-6000:])
        fail("build timed out" if code is None else "build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def curate_check(result, input_dir):
    """Row count of each curation query against its count at the seed
    commit (curate_counts.json: the read input is fixed, so the counts
    are too) and, when duckdb is importable, against its DuckDB oracle
    SQL (the registry's oracleSql, the repository's correctness gate).
    The oracle's answer depends only on the input files and the SQL, so
    it is computed once per (input, SQL) and kept."""
    info = result["info"]
    got = info["curate_counts"]
    with open(os.path.join(HERE, "curate_counts.json")) as f:
        seed_commit = json.load(f)
    bad = [f"{k}: {n} rows, seed commit {seed_commit.get(k)}"
           for k, n in got.items() if seed_commit.get(k) != n]
    h = hashlib.sha256(json.dumps(info["oracle_sql"], sort_keys=True).encode())
    for t in ("documents", "embeddings"):
        with open(f"{input_dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    cache = os.path.join(STATE, f"oracle-{h.hexdigest()[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            want = json.load(f)
    else:
        try:
            import duckdb
        except ImportError:
            return bad
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{input_dir}/{t}.parquet'")
        want = {k: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                for k, sql in info["oracle_sql"].items()}
        with open(cache, "w") as f:
            json.dump(want, f)
    return bad + [f"{k}: {n} rows, oracle {want.get(k)}"
                  for k, n in got.items() if want.get(k) != n]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the JVM is stopped first
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the repository root: build.sbt and src/main/scala "
             "are needed to build the program under test")
    try:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found in the working directory")

    cp, stamp = classpath()
    t0 = time.monotonic()
    run_dir = os.path.abspath(os.path.join(
        STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}"))
    input_dir = os.path.join(run_dir, "input")
    work_dir = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    table_cache = os.path.join(STATE, f"read-table-{stamp[:16]}")
    query_root = os.path.join(work_dir, "query")
    try:
        input_seed = READ_INPUT_SEED if args.workload == "read" else args.seed
        input_bytes = gen.generate(input_dir, input_seed,
                                   **INPUTS[args.workload])
        if args.workload == "read" and os.path.isdir(table_cache):
            shutil.copytree(table_cache, query_root)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if "JAVA_HOME" in os.environ else "java"
        cmd = [java] + [x for p in ADD_OPENS
                        for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work_dir}/tmp", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--input", input_dir, "--work", work_dir, "--out", out]
        log = os.path.join(run_dir, "driver.log")
        with open(log, "w") as lf:
            code = run_group(cmd, max(RUN_LIMIT_S - (time.monotonic() - t0), 10),
                             stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        if code is None:
            fail(f"driver exceeded {RUN_LIMIT_S} s")
        if code != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"driver exited with {code}")
        with open(out) as f:
            result = json.load(f)
        if args.workload == "read" and not os.path.isdir(table_cache):
            # keep only the current build's table
            for d in os.listdir(STATE):
                if d.startswith("read-table-"):
                    shutil.rmtree(os.path.join(STATE, d))
            shutil.copytree(query_root, table_cache + ".tmp")
            os.rename(table_cache + ".tmp", table_cache)

        failures = list(result["failures"])
        attempted, failed = result["attempted"], result["failed"]
        if args.workload == "read":
            bad = curate_check(result, input_dir)
            attempted += len(result["info"]["curate_counts"])
            failed += len(bad)
            failures += bad
        info = result["info"]
        info["failed_ratio"] = failed / attempted
        info["input_file_bytes"] = input_bytes
        name = f"{args.workload}-{args.seed}-trace{args.trace}"
        shutil.copyfile(out, os.path.join(results, name + ".json"))
        spans = out[:-5] + "-spans.json"
        if os.path.exists(spans):
            shutil.copyfile(spans, os.path.join(results, name + "-spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report(args, spec, result, info, failures, results)
    kind = "per_layer" if args.trace else "end_to_end"
    values = result["per_layer" if args.trace else "e2e"]
    metrics = {}
    for m in spec[kind]:
        if m["name"] not in values and kind == "end_to_end":
            fail(f"driver did not report {m['name']}")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def report(args, spec, result, info, failures, results):
    """Human-readable lines before the final JSON line."""
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}")
    print("# config " + json.dumps(info["config"], sort_keys=True))
    for k in ("input_rows", "increment_rows", "base_table",
              "input_file_bytes", "op_kinds"):
        if k in info:
            print(f"# {k} {json.dumps(info[k])}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for k, v in result["e2e"].items():
        print(f"# {k} {v:.6g} {units.get(k, '')}")
    print(f"# op_tail_s is p{info['op_tail_percentile']:.1f} of "
          f"{info['op_samples']} operations")
    print(f"# failed_ratio {info['failed_ratio']:.6g} ratio")
    for msg in failures:
        print(f"# FAILED {msg}")
    if args.trace:
        for k in sorted(result["per_layer"]):
            print(f"# layer {k} {result['per_layer'][k]:.6g}")
        share = result["per_layer"].get("trace.unattributed_ratio", 0.0)
        print(f"# trace reconcile: largest unattributed share of an operation "
              f"{share:.4f} (bar 0.05) {'ok' if share <= 0.05 else 'EXCEEDED'}")
        plain = os.path.join(results, f"{args.workload}-{args.seed}-trace0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                p50 = json.load(f)["e2e"]["op_p50_s"]
            print(f"# tracing overhead op_p50_s {result['e2e']['op_p50_s'] - p50:+.4f} s "
                  f"(traced {result['e2e']['op_p50_s']:.4f} vs untraced {p50:.4f}, same seed)")


if __name__ == "__main__":
    main()
