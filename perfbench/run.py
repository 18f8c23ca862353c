#!/usr/bin/env python3
"""Run one workload of the spark-graft benchmark and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Workloads: relational and corpus (see BENCHMARK.json and
perfbench/README.md). The last stdout line is one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.

The script compiles the library sources of the checkout together with
the benchmark's JVM program (`perfbench/build.sbt`, once per source
change), runs it in one JVM at `local[k]`, k = half the host's cores and
at most 4 unless `--cores` says otherwise, and checks every batch gate's
result against its DuckDB oracle (`SparkEntry.oracleSql`, compared under the rules of
`tools/precheck.py`; oracle digests are cached). Everything a run
writes lives under `perfbench/.work`; the run's own directory (stores,
checkpoints, warehouse, verification dumps) is removed at exit. The
full record of a run (host facts, per-op medians and quartiles,
per-pass health, failures) is kept in `perfbench/.work/results`, and a
traced run's span file beside it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["relational", "corpus"]
# a fixed heap size keeps the collector's sizing out of the timings
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    """sha256 over the names and bytes of every file under `paths`."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = tree_digest([SRC, os.path.join(BENCH, "src"),
                         os.path.join(BENCH, "build.sbt"),
                         os.path.join(BENCH, "project", "build.properties")])
    state = os.path.join(WORK, "build.json")
    if os.path.exists(state):
        with open(state) as fh:
            prev = json.load(fh)
        if prev.get("stamp") == stamp and all(
                os.path.exists(p) for p in prev["classpath"].split(os.pathsep)):
            return prev["classpath"]
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        # build.sbt compiles against the jars of the Spark on the PATH
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and "classes" in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (sbt exit {rc}); log in {log}", 1)
    with open(state, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, fh)
    return cps[-1]


# ------------------------------------------------------------------ oracle
def oracle_check(verdicts):
    """Compare every dumped batch result with its DuckDB oracle by the
    digest of its normalised table (precheck's column sort, row sort and
    string compare). Returns {op: error-or-None}."""
    todo = {k: v for k, v in verdicts.items() if v.get("kind") == "oracle"}
    if not todo:
        return {}
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    import precheck  # noqa: E402  (the repo's oracle comparison rules)

    def digest(df):
        df = precheck.norm(df)
        s = df.astype(str)
        h = hashlib.sha256("\x1f".join(s.columns).encode())
        for row in s.itertuples(index=False):
            h.update(("\x1e" + "\x1f".join(row)).encode())
        return {"digest": h.hexdigest(), "rows": len(s)}

    cache_file = os.path.join(WORK, "oracle.json")
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as fh:
            cache = json.load(fh)
    data_stamp = tree_digest([DATA])
    con = precheck.connect(DATA)
    out, dirty = {}, False
    for name, v in sorted(todo.items()):
        key = hashlib.sha256((data_stamp + v["sql"]).encode()).hexdigest()
        try:
            if key not in cache:
                cache[key] = digest(con.sql(v["sql"]).df())
                dirty = True
            files = [os.path.join(v["path"], f) for f in sorted(os.listdir(v["path"]))
                     if f.endswith(".parquet")]
            got = digest(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
            want = cache[key]
            out[name] = None if got == want else (
                f"result digest differs from the oracle "
                f"({got['rows']} rows vs {want['rows']})")
        except Exception as e:  # a failed oracle compare is a failed op
            out[name] = f"oracle compare failed: {e}"
    if dirty:
        with open(cache_file, "w") as fh:
            json.dump(cache, fh)
    return out


# --------------------------------------------------------------------- run
def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # half the host's cores, at most 4: on a virtual machine whose vCPUs
    # are all busy, hypervisor steal lands on the measured work itself
    ap.add_argument("--cores", type=int,
                    default=max(1, min(4, (os.cpu_count() or 2) // 2)))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(SRC, "graft")):
        die(f"library sources not found under {SRC}; run from a full checkout")
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_file) as fh:
        spec = json.load(fh)

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    classpath = build()
    t_start = time.time()  # the run's time limit starts after the build

    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(WORK, "runs"))
    proc = None

    def cleanup(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    signal.signal(signal.SIGTERM, lambda *_: (cleanup(), sys.exit(143)))
    tag = f"{a.workload}-c{a.cores}-s{a.seed}-t{a.trace}"
    result_file = os.path.join(WORK, "results", tag + ".json")
    span_file = os.path.join(WORK, "results", tag + ".spans.jsonl")
    try:
        os.makedirs(os.path.join(run_dir, "tmp"))
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
                  f"-Djava.io.tmpdir={run_dir}/tmp",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classpath, "graft.perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--cores", str(a.cores), "--data", DATA, "--work", run_dir,
                  "--out", os.path.join(run_dir, "result.json"),
                  "--spans", span_file, "--src", SRC])
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = proc.wait(timeout=max(30, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            die(f"benchmark JVM failed ({rc})", 1)
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)
        oracle = oracle_check(res["verdicts"])
    finally:
        cleanup()

    failures = list(res["failures"])
    for name, err in sorted(oracle.items()):
        res["verdicts"][name] = {"kind": "oracle", "ok": err is None,
                                 **({"msg": err} if err else {})}
        if err:
            failures.append({"op": name, "where": "oracle", "msg": err})
    res["failures"] = failures
    attempted = int(res["attempted"])
    failed = min(attempted, len(failures))
    res["fail_ratio"] = failed / attempted if attempted else 1.0

    if a.trace:
        # tracing overhead: this run against the medians of the untraced
        # runs of the same workload and core count kept in the results
        # (results are the same for every seed)
        untraced = []
        for f in sorted(os.listdir(os.path.join(WORK, "results"))):
            if f.startswith(f"{a.workload}-c{a.cores}-") and f.endswith("-t0.json"):
                with open(os.path.join(WORK, "results", f)) as fh:
                    untraced.append(json.load(fh))
        untraced = [r for r in untraced if "cpu_s" in r["metrics"]]
        if untraced:
            o = {"untraced_runs": len(untraced)}
            for k in ("total_s", "cpu_s"):
                o[f"untraced_{k}"] = statistics.median(r["metrics"][k] for r in untraced)
                o[f"traced_{k}"] = res["metrics"][k]
                o[f"{k}_change"] = o[f"traced_{k}"] / o[f"untraced_{k}"] - 1.0
            rates = [r["stream"]["rows_per_s"] for r in untraced
                     if r.get("stream", {}).get("rows_per_s", 0) > 0]
            if rates:
                o["untraced_rows_per_s"] = statistics.median(rates)
                o["traced_rows_per_s"] = res["stream"]["rows_per_s"]
            res["tracing_overhead"] = o
    with open(result_file, "w") as fh:
        json.dump(res, fh, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res["per_layer"] if a.trace else res["metrics"]
    host = res["host"]
    print(f"host: nproc={host['nproc']} mem_total_kb={host['mem_total_kb']} "
          f"k={host['k']} xmx_mb={host['xmx_mb']} jvm={host['jvm']} "
          f"spark={host['spark']}; passes={res['passes']}, "
          f"batch samples={int(res['batch_ms']['n'])}; details in {result_file}")
    for f in failures:
        print(f"FAIL {f['op']} ({f['where']}): {f['msg']}")
    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<36} {v:>16.6g} {m['unit']}")
    if "tracing_overhead" in res:
        o = res["tracing_overhead"]
        print(f"tracing overhead against the medians of {o['untraced_runs']} untraced runs: "
              + "; ".join(f"{k} {o['traced_' + k]:.4f} traced vs {o['untraced_' + k]:.4f} "
                          f"({o[k + '_change']:+.1%})" for k in ("total_s", "cpu_s"))
              + (f"; stream rows_per_s {o['traced_rows_per_s']:.1f} traced vs "
                 f"{o['untraced_rows_per_s']:.1f}" if "traced_rows_per_s" in o else ""))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
