#!/usr/bin/env python3
"""The extraction benchmark: builds the engine and the harness from source,
runs one workload, checks its outputs, and prints its metrics.

One run (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Every line it prints names a metric with its unit; the last line is one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. Timings are raw seconds: nothing is normalised by a
calibration kernel, so a faster parse core cannot rescale other numbers.

Everything, offline (every workload untraced and then traced, default seed):

    python3 perfbench/run.py

Self-check of the harness (one altered span hash and one altered oracle row
must each fail their run):

    python3 perfbench/run.py --selfcheck

Workloads, seeds and references are described in perfbench/LAYERS.md.
"""
import argparse
import collections
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# this process's scratch space: inputs, outputs, Spark's local dirs
WORK = os.path.join(HERE, ".work", str(os.getpid()))
# oracle results keyed by their SQL and table digest (kept across runs)
ORACLE_CACHE = os.path.join(HERE, ".oracle-cache")
LAUNCH = os.path.join(HERE, "target", "launch")
WORKLOADS = ["extract_scan", "extract_write_resume", "curate_neardup"]
# the fixed documents table curate_neardup reads (a copy of the sf0.1 test
# table the oracle rows gate); the pin keeps it from drifting
DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")
DOCUMENTS_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"
# a fixed, pre-touched heap: without it the first passes pay page faults
# on heap pages used for the first time, and pass times fell for minutes.
# Transparent huge pages (where the kernel offers them on request) cut TLB
# misses, which made pass times less sensitive to a busy host.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages"]
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def sha256_file(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def check_layout():
    """The benchmark needs the repository around it: the engine's build and
    sources, and the committed golden hashes it checks against."""
    for rel in ["build.sbt", "src/main/scala/graft",
                "src/test/resources/goldens/sf0.1.hashes.jsonl",
                "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} is missing; run from a full checkout of the repository")
    if sha256_file(DOCUMENTS) != DOCUMENTS_SHA256:
        fail(f"{DOCUMENTS} does not match its pinned sha256")


def source_stamp():
    """Digest of every input of the build; a changed digest rebuilds."""
    h = hashlib.sha256()
    files = []
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        for d, dirs, names in os.walk(base):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt (offline, from the local
    caches) unless the last build's sources are unchanged."""
    stamp = source_stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building the engine and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launch"]
    r = run_process(cmd, cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S)
    if r != 0:
        fail(f"build failed (exit {r})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_process(cmd, cwd, env=None, timeout=None):
    """Runs cmd with its output on stderr; kills its process group on
    timeout and waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} ran over {timeout} s and was stopped")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_command():
    with open(os.path.join(LAUNCH, "java-options")) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    with open(os.path.join(LAUNCH, "classpath")) as f:
        cp = f.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java] + opts + HEAP + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"]


def run_jvm(workload, seed, seconds, trace, corrupt):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    out = os.path.join(WORK, "result.json")
    cmd = java_command() + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--root", ROOT, "--work", WORK, "--out", out,
        "--corrupt", "1" if corrupt else "0"]
    r = run_process(cmd, cwd=ROOT, timeout=JVM_TIMEOUT_S)
    if r != 0 or not os.path.exists(out):
        fail(f"the harness exited with {r} and no result")
    with open(out) as f:
        return json.load(f)


def check_oracles(oracles, corrupt):
    """Compares each query's Spark result with its DuckDB oracle SQL over the
    same documents table, as multisets of rows with exact values. Returns
    (rows checked, rows wrong)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCUMENTS}')")
    checked = wrong = 0
    for i, o in enumerate(oracles):
        cols, want = oracle_rows(con, o["sql"])
        got_rel = con.sql(f"SELECT * FROM read_parquet('{o['parquet']}/*.parquet')")
        if sorted(got_rel.columns) != cols:
            log(f"{o['name']}: columns {sorted(got_rel.columns)} differ from the oracle's {cols}")
            n = len(got_rel.fetchall())
            checked += n
            wrong += max(n, 1)
            continue
        got = [list(r) for r in got_rel.select(*cols).fetchall()]
        if corrupt and i == 0 and got:
            # alter one value of one row: the compare must count it
            got[0][-1] = got[0][-1] + 1 if isinstance(got[0][-1], (int, float)) else str(got[0][-1]) + "x"
        got = [tuple(r) for r in got]
        diff = collections.Counter(got)
        diff.subtract(collections.Counter(want))
        bad = sum(abs(v) for v in diff.values())
        log(f"oracle {o['name']}: {len(got)} rows, {len(want)} expected, {bad} differ")
        checked += max(len(got), len(want))
        wrong += bad
    return checked, wrong


def oracle_rows(con, sql):
    """The oracle's sorted column names and rows; cached on disk under a key
    of the SQL, the table's digest and the DuckDB version."""
    import duckdb
    key = hashlib.sha256("\0".join([sql, DOCUMENTS_SHA256, duckdb.__version__])
                         .encode()).hexdigest()
    path = os.path.join(ORACLE_CACHE, key + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    result = (cols, [tuple(r) for r in rel.select(*cols).fetchall()])
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(result, f)
    os.replace(path + ".tmp", path)
    return result


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return [(m["name"], m["unit"]) for m in b["per_layer" if trace else "end_to_end"]]


def run_one(workload, seed, seconds, trace, corrupt=False):
    """One run; prints its metrics and returns the result object."""
    try:
        res = run_jvm(workload, seed, seconds, trace, corrupt)
        c, w = check_oracles(res["oracles"], corrupt) if res["oracles"] else (0, 0)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    checked, wrong = res["checked"] + c, res["wrong"] + w
    metrics = res["metrics"]
    names = declared(trace)
    missing = [n for n, _ in names if n not in metrics]
    extra = [n for n in metrics if n not in dict(names)]
    units = [n for n, u in names if n in metrics and metrics[n]["unit"] != u]
    nulls = [n for n in metrics if metrics[n]["value"] is None]
    if missing or extra or units or nulls:
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, undeclared "
             f"{extra}, unit differs {units}, no value {nulls}", 3)
    for n in res["problems"]:
        log(f"problem: {n}")
    wrong_share = wrong / checked if checked else 1.0
    failed_share = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    correct = wrong == 0 and checked > 0 and not res["problems"]
    print(f"{workload} seed={seed} trace={trace}")
    for n, _ in names:
        print(f"  {n:36s} {metrics[n]['value']:.6g} {metrics[n]['unit']}")
    print(f"  {'wrong_output_share':36s} {wrong_share:.6g} ratio ({wrong} of {checked} outputs)")
    print(f"  {'failed_share':36s} {failed_share:.6g} ratio "
          f"({res['failed']} of {res['attempted']} docs)")
    return {"correct": correct, "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {n: metrics[n] for n, _ in names}}


def main():
    # a terminated run still stops the JVM it started (see run_process)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    check_layout()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = a.seconds or json.load(f)["run_seconds"]
    build()
    if a.selfcheck:
        ok = True
        for w in ["extract_scan", "curate_neardup"]:
            r = run_one(w, 0, 1, 0, corrupt=True)
            caught = not r["correct"]
            log(f"self-check {w}: one altered output {'was' if caught else 'was NOT'} caught")
            ok = ok and caught
        sys.exit(0 if ok else 1)
    if a.workload is None:
        results = [run_one(w, a.seed, seconds, t) for w in WORKLOADS for t in (0, 1)]
        sys.exit(0 if all(r["correct"] for r in results) else 1)
    print(json.dumps(run_one(a.workload, a.seed, seconds, a.trace)))


if __name__ == "__main__":
    main()
