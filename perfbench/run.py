#!/usr/bin/env python3
"""Benchmark of the Spark KG engine: two workloads, ingest and analytics.

Run from the repository root:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

builds the program and the benchmark with sbt when their sources changed
(output under .bench_build/), runs one JVM that generates the seeded
inputs, runs a reference op and times whole ops, then checks the reference output of
every call against DuckDB's evaluation of the query's
`SparkEntry.oracleSql` on the same inputs. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}; end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. The line before it
holds the run's context (load, steal, JVM flags, op times, jobs per op).

Other modes:
    --selfcheck N       run the workload N times (seeds 1..N) and print,
                        per end-to-end metric, median, quartiles and the
                        quartile spread against the bound in BENCHMARK.json
    --rebuild-oracle    recompute perfbench/oracle/expected.json (DuckDB
                        results of every check on every input variant)
    --smoke             one op per workload at sf0.01 scale; checks pass
                        and every named metric, end-to-end and per-layer,
                        is emitted
"""
import argparse
import hashlib
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(HERE, "oracle", "expected.json")
LOCAL_EXPECTED = os.path.join(BUILD, "oracle", "expected.json")
# the testdata directory of TESTDATA.md (sf0.1 for runs, sf0.01 for --smoke)
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", os.path.expanduser("~/testdata"))
WORKLOADS = ("ingest", "analytics")
VARIANTS = 8  # Inputs.Variants
HEAP = "3g"
JVM_TIMEOUT_S = 150

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build --

def source_stamp():
    """Hash of every file the build reads: the program and the benchmark."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.exists(r):
            raise SystemExit(f"perfbench: program source {os.path.relpath(r, ROOT)} not found")
        paths = [r] if os.path.isfile(r) else []
        for d, ds, fs in os.walk(r):
            ds[:] = sorted(x for x in ds if x not in ("target", "project"))
            paths += sorted(os.path.join(d, f) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + benchmark (only when sources changed); classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    cmd.append("export perfbench/Runtime/fullClasspath")
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building:", " ".join(cmd))
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, timeout=800,
                       stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


# ------------------------------------------------------------------ jvm --

def run_jvm(cp, workload, seed, seconds, trace, sizes="full", extra=()):
    work = os.path.join(BUILD, "work", workload)
    result = os.path.join(BUILD, f"result-{workload}.json")
    if os.path.exists(result):
        os.remove(result)
    os.makedirs(BUILD, exist_ok=True)
    src = os.path.join(TESTDATA, "sf0.01" if sizes == "smoke" else "sf0.1")
    # a fixed young generation keeps the touched heap, and so peak RSS, from
    # depending on how far G1 happened to grow it in this run
    cmd = ["java", f"-Xmx{HEAP}", "-Xmn1g"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=warn", "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--src", src, "--work", work,
            "--result", result, "--sizes", sizes, "--cpus", str(nproc()),
            "--launch-ms", str(int(time.time() * 1000))] + list(extra)
    jvm_log = os.path.join(BUILD, f"jvm-{workload}.log")
    with open(jvm_log, "w") as lf:
        # the JVM is killed (and waited for) if it outlives the run's limit
        p = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                           env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                           stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(result):
        with open(jvm_log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {p.returncode})")
    with open(result) as f:
        return json.load(f)


# --------------------------------------------------------------- oracle --

def canon(v):
    """Canonical text of one value as pandas gives it from DuckDB."""
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return "\\N" if v != v else repr(v)
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        return canon(v.item())
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return "[" + ",".join(canon(x) for x in (v.tolist() if hasattr(v, "tolist") else v)) + "]"
    return str(v)


def result_fingerprint(con, sql):
    """Row-order-independent fingerprint of a query result: column names,
    pandas dtypes (as the repository's DuckDB gate compares them) and the
    sorted canonical rows."""
    df = con.execute(sql).df()
    cols = sorted(df.columns)
    df = df[cols]
    h = hashlib.sha256(json.dumps([[c, str(df[c].dtype)] for c in cols]).encode())
    rows = sorted("\x1f".join(canon(v) for v in r) for r in df.itertuples(index=False, name=None))
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:40]}"


def duck():
    import duckdb
    con = duckdb.connect()
    os.makedirs(os.path.join(BUILD, "duckdb-tmp"), exist_ok=True)
    con.execute(f"SET threads={nproc()}")
    con.execute("SET memory_limit='5GB'")
    con.execute(f"SET temp_directory='{os.path.join(BUILD, 'duckdb-tmp')}'")
    return con


def bind_inputs(con, input_dir):
    """One view per input table; returns each table's fingerprint."""
    fps = {}
    for t in sorted(os.listdir(input_dir)):
        if not t.endswith(".parquet"):
            continue
        name = t[: -len(".parquet")]
        path = os.path.join(input_dir, t, "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        fps[name] = result_fingerprint(con, f"SELECT * FROM {name}")
    return fps


def load_expected(path):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def oracle_key(input_fps, sql):
    """Cache key of an oracle result: the SQL and the fingerprints of the
    input tables it names."""
    used = ";".join(f"{t}={fp}" for t, fp in sorted(input_fps.items())
                    if re.search(rf"\b{t}\b", sql, re.IGNORECASE))
    return hashlib.sha256((used + "\n" + sql).encode()).hexdigest()[:40]


def check(res, expected, local):
    """DuckDB check of every reference output; returns a list of errors."""
    con = duck()
    errors, bound = [], {}
    for c in res["checks"]:
        if c["input"] not in bound:
            bound[c["input"]] = bind_inputs(con, c["input"])
        key = oracle_key(bound[c["input"]], c["oracle"])
        want = (expected.get(key) or local.get(key) or {}).get("fingerprint")
        if want is None:
            t0 = time.time()
            want = result_fingerprint(con, c["oracle"])
            local[key] = {"name": c["name"], "fingerprint": want}
            log(f"oracle {c['name']} evaluated in {time.time() - t0:.1f} s (not cached)")
        out = os.path.join(c["output"], "*.parquet")
        try:
            got = result_fingerprint(con, f"SELECT * FROM read_parquet('{out}')")
        except Exception as e:  # no output: the reference op failed
            got = f"(no output: {type(e).__name__})"
        if got != want:
            errors.append(f"{c['name']}: spark {got} != duckdb {want}")
    con.close()
    return errors


def save_expected(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


# ------------------------------------------------------------------ run --

def bench_spec():
    p = os.path.join(ROOT, "BENCHMARK.json")
    with open(p) as f:
        return json.load(f)


def one_run(cp, workload, seed, seconds, trace, sizes="full", extra=()):
    res = run_jvm(cp, workload, seed, seconds, trace, sizes, extra)
    local = load_expected(LOCAL_EXPECTED)
    n_local = len(local)
    t0 = time.time()
    errors = check(res, load_expected(EXPECTED), local)
    res["context"]["check_s"] = round(time.time() - t0, 3)
    if len(local) != n_local:
        save_expected(LOCAL_EXPECTED, local)
    for f in res["failures"] + errors:
        log("FAIL", f)
    # per-layer metrics common to every workload are the result's metrics;
    # the workload's own layers (phases, queries, candidate tiers) and the
    # traced run's end-to-end figures go with the context
    spark = {k: v for k, v in res["layers"].items() if k.startswith("spark.")}
    metrics = spark if trace else res["metrics"]
    ctx = dict(res["context"], workload=workload, seed=seed, variant=res["variant"],
               failures=res["failures"], check_errors=errors)
    if trace:
        ctx["calls"] = [c["name"] for c in res["checks"]]
        ctx["layers"] = {k: v for k, v in res["layers"].items() if k not in spark}
        ctx["traced_end_to_end"] = res["metrics"]
    return {"correct": not errors, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}, ctx


def selfcheck(cp, workload, n, seconds):
    spec = bench_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    vals, fails = {}, []
    for seed in range(1, n + 1):
        out, ctx = one_run(cp, workload, seed, seconds, 0)
        fails.append(out["failed"] / out["attempted"])
        log(f"seed {seed}: {json.dumps(out)} context "
            + json.dumps({k: ctx.get(k) for k in ("load_avg_start", "steal_jiffies", "session_s",
                          "generate_s", "reference_op_s", "timed_op_s",
                          "jobs_per_op", "check_s")}))
        for k, m in out["metrics"].items():
            vals.setdefault(k, []).append(m["value"])
    report = {}
    for k, xs in vals.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        report[k] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med, "bound": bounds.get(k), "values": xs}
        log(f"{workload} {k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
            f"spread {(q3 - q1) / med:.3f} bound {bounds.get(k)}")
    print(json.dumps({"workload": workload, "failed_share": fails, "metrics": report}))


def rebuild_oracle(cp):
    """Recompute DuckDB's result for every check of every input variant."""
    data = {}
    for w in WORKLOADS:
        for v in range(VARIANTS):
            res = run_jvm(cp, w, v, 0, 0, extra=["--generate-only", "1"])
            con = duck()
            bound = {}
            for c in res["checks"]:
                if c["input"] not in bound:
                    bound[c["input"]] = bind_inputs(con, c["input"])
                key = oracle_key(bound[c["input"]], c["oracle"])
                if key in data:  # same query on the same tables as another variant
                    continue
                t0 = time.time()
                fp = result_fingerprint(con, c["oracle"])
                data[key] = {"name": c["name"], "variant": v, "fingerprint": fp}
                log(f"{w} variant {v} {c['name']}: {fp} ({time.time() - t0:.1f} s)")
            con.close()
            save_expected(EXPECTED, data)
    if os.path.exists(LOCAL_EXPECTED):
        os.remove(LOCAL_EXPECTED)


INGEST_LAYERS = [f"{p}_{m}" for p in ("extract.pages", "extract.mentions", "shape.triples",
                                       "canon.components", "canon.canonical",
                                       "pipeline.merge") for m in ("s", "jobs")] + [
    "pipeline.written_mb", "pipeline.files_written"]
DEDUP_LAYERS = ["dedup.jaccard_candidates", "dedup.jaccard_pairs",
                "dedup.minhash_candidates", "dedup.minhash_pairs"]


def workload_layers(workload, calls):
    """The workload's own layer metrics a traced run must report."""
    if workload == "ingest":
        return INGEST_LAYERS
    names = list(DEDUP_LAYERS)
    for q in calls:
        layer = "dedup" if q.startswith("dd_") else "kgql" if q == "kg_path" else "canon"
        names += [f"{layer}.{q}.{m}" for m in ("s", "jobs", "busy_cores")]
        if layer == "dedup":
            names.append(f"dedup.{q}.shuffle_mb")
    return names


def smoke(cp):
    """One op per workload at sf0.01 scale: checks pass, every metric named
    in BENCHMARK.json and every layer metric of the workload is emitted."""
    spec = bench_spec()
    ok = True
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out, ctx = one_run(cp, w, 1, 0, trace, sizes="smoke")
            want = {m["name"] for m in spec[key]}
            missing = sorted(want - set(out["metrics"]))
            if trace:
                missing += sorted(set(workload_layers(w, ctx["calls"])) - set(ctx["layers"]))
            good = out["correct"] and out["failed"] == 0 and not missing
            ok &= good
            log(f"smoke {w} trace={trace}: {'ok' if good else 'FAIL'} "
                f"correct={out['correct']} failed={out['failed']} missing={missing}")
    print(json.dumps({"smoke": "ok" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", type=int, metavar="N")
    ap.add_argument("--rebuild-oracle", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    cp = build()
    if a.rebuild_oracle:
        rebuild_oracle(cp)
        return 0
    if a.smoke:
        return smoke(cp)
    if not a.workload:
        ap.error("--workload is required")
    if a.selfcheck:
        selfcheck(cp, a.workload, a.selfcheck, a.seconds)
        return 0
    out, ctx = one_run(cp, a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps({"context": ctx}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
