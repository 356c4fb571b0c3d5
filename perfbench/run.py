#!/usr/bin/env python3
"""Benchmark of the readstat data source and the operator suite on top.

Run one workload from the root of a checkout:

    python3 perfbench/run.py --workload read --seed 1 --seconds 10 --trace 0

The first run builds the library and the harness with sbt (into
perfbench/target); later runs reuse the build while no source changed.
The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The lines before it are the full report. Each run also leaves its result
file (and, when traced, its span file) under perfbench/results/.

`--workload all` runs every workload of BENCHMARK.json in turn.

Compare two result files (input digests and deterministic counts):

    python3 perfbench/run.py --compare perfbench/results/a.json perfbench/results/b.json

See perfbench/README.md for the workloads, metrics and trace format.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIB_SRC = ROOT / "src" / "main"
WORK = HERE / ".work"
RESULTS = HERE / "results"
DATA = HERE / "data" / "sf0.01"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Per-layer metric families each workload drives; every other per-layer
# metric reads 0 for it (the layer does no work in that workload).
EXERCISED = {
    "read": ("engine.", "trace.", "decode.", "meta.", "plan.", "scan."),
    "write": ("engine.", "trace.", "encode.", "write.", "op."),
}

# Counts that should repeat exactly between runs of the same workload and
# seed: byte, file and task counts, read amplification and write_amp.
DETERMINISTIC_SUFFIXES = (".bytes", ".files", ".read_amp", ".read_mb")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(msg, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(p for p in LIB_SRC.rglob("*") if p.is_file())
    files += sorted(p for p in (HERE / "src").rglob("*") if p.is_file())
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the library and the harness; returns the runtime classpath."""
    if not (LIB_SRC / "scala").is_dir():
        die(f"library sources not found under {LIB_SRC.relative_to(ROOT)}; "
            "run from the root of a full checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set; the build takes Spark's jars from $SPARK_HOME/jars")
    target = HERE / "target"
    cp_file, stamp_file = target / "classpath.txt", target / "build.stamp"
    stamp = source_stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():  # resolve from the local caches only
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "build.log", "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die("build timed out")
    if rc != 0 or not cp_file.is_file():
        tail = (WORK / "build.log").read_text()[-3000:]
        die(f"build failed (exit {rc}):\n{tail}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


# ---------------------------------------------------------------- oracle

def oracle_check(oracle_dir):
    """Compares each dumped query result with DuckDB running the query's
    oracle SQL over the same tables: column-name-sorted, row-sorted, exact.
    Returns [(query, error)] for the mismatches."""
    try:
        import duckdb
    except ImportError as e:
        return [("oracle", f"duckdb is not importable: {e}")]

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / (t + '.parquet')}'")
    sqls = json.loads((oracle_dir / "oracle_sql.json").read_text())
    bad = []
    for name, sql in sorted(sqls.items()):
        files = glob.glob(str(oracle_dir / name / "*.parquet"))
        if not files:
            bad.append((name, "no result dumped"))
            continue
        try:
            exp = con.execute(sql).fetchdf()
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append((name, f"oracle error: {e}"))
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            bad.append((name, f"columns {list(got.columns)} != {list(exp.columns)}"))
            continue
        erows = sorted(tuple(norm(v) for v in r) for r in exp.itertuples(index=False))
        grows = sorted(tuple(norm(v) for v in r) for r in got.itertuples(index=False))
        if erows != grows:
            diff = sum(1 for a, b in zip(grows, erows) if a != b) + abs(len(erows) - len(grows))
            bad.append((name, f"{diff} of {len(erows)} rows differ from the oracle"))
    con.close()
    return bad


# ---------------------------------------------------------------- compare

def deterministic_counts(res):
    out = {k: v for k, v in list(res.get("counts", {}).items()) +
           list(res.get("layers", {}).items())
           if k == "engine.tasks" or k.endswith(DETERMINISTIC_SUFFIXES)}
    if "write_amp" in res.get("metrics", {}):
        out["write_amp"] = res["metrics"]["write_amp"]["value"]
    return out


def compare(a, b):
    """Lines describing how two results of one workload differ in their
    inputs and in the counts that should repeat exactly."""
    lines = []
    fa, fb = a.get("fingerprints", {}), b.get("fingerprints", {})
    for k in sorted(set(fa) | set(fb)):
        if fa.get(k) != fb.get(k):
            lines.append(f"input {k} differs: {fa.get(k)} vs {fb.get(k)}")
    ca, cb = deterministic_counts(a), deterministic_counts(b)
    for k in sorted(set(ca) & set(cb)):
        if ca[k] != cb[k]:
            lines.append(f"count {k} does not repeat: {ca[k]} vs {cb[k]}")
    return lines


# ---------------------------------------------------------------- run

def run(args):
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        die("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_file.read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        die(f"unknown workload {args.workload!r}; one of {', '.join(names)}")
    cp = build()

    if WORK.is_dir():  # leftovers of a killed run
        for d in WORK.glob("run-*"):
            shutil.rmtree(d, ignore_errors=True)
    work = WORK / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    RESULTS.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = RESULTS / f"{tag}.json"
    previous = {p.name: json.loads(p.read_text())
                for p in RESULTS.glob(f"{args.workload}-seed{args.seed}-trace*.json")}
    for stale in (out, RESULTS / f"{tag}.trace.jsonl"):
        stale.unlink(missing_ok=True)

    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # A fixed heap and young generation, and 4 MB G1 regions (at the default
    # 1 MB, the readers' and writers' 1 MB stream buffers are humongous
    # objects): with adaptive sizing, peak RSS varied by a third between runs.
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-XX:G1HeapRegionSize=4m",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dperfbench.data={DATA}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work), "--out", str(out)]
    try:
        with open(work / "jvm.log", "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=jlog, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
        if rc != 0 or not out.is_file():
            tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
            die(f"benchmark JVM failed (exit {rc}):\n{tail}")
        res = json.loads(out.read_text())
        failures = [(f["op"], f["error"]) for f in res["failures"]]
        attempted = res["attempted"]
        if (work / "oracle").is_dir():
            bad = oracle_check(work / "oracle")
            attempted += len(json.loads((work / "oracle" / "oracle_sql.json").read_text()))
            failures += [(f"{q}.oracle", e) for q, e in bad]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {}
        for m in spec["per_layer"]:
            n = m["name"]
            if n not in res.get("layers", {}) and n.startswith(EXERCISED[args.workload]):
                attempted += 1
                failures.append((n, "layer metric was not produced"))
            metrics[n] = {"value": res.get("layers", {}).get(n, 0), "unit": m["unit"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in res["metrics"]]
        if missing:
            die(f"end-to-end metrics not produced: {', '.join(missing)}")
        metrics = {m["name"]: {"value": res["metrics"][m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    res["attempted"] = attempted
    res["failures"] = [{"op": o, "error": e} for o, e in failures]
    res["metrics"]["fail_ratio"] = {"value": len(failures) / attempted, "unit": "ratio",
                                    "n": attempted}
    out.write_text(json.dumps(res))
    report(res, previous)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


def report(res, previous):
    w = res["workload"]
    log(f"# perfbench {w} seed={res['seed']} trace={int(res['trace'])} "
        f"nproc={res['nproc']} max_heap_mb={res['max_heap_mb']:.0f}")
    cb, ca = res["calibrate_before"], res["calibrate_after"]
    log(f"# calibrate seq_s {cb['seq_s']:.4f} -> {ca['seq_s']:.4f}, "
        f"par_s {cb['par_s']:.4f} -> {ca['par_s']:.4f}, cpu steal {res['cpu_steal_s']:.2f} s")
    for name, m in res["metrics"].items():
        log(f"{w} {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    for k, v in res.get("layers", {}).items():
        log(f"{w} layer {k} = {v:.6g}")
    log(f"# phases_s " + " ".join(f"{k}={v:.2f}" for k, v in res["phases_s"].items()))
    if "trace_overhead" in res:
        log(f"{w} trace overhead (traced / untraced pass) = {res['trace_overhead']:.4f}")
    for k, v in res.get("fingerprints", {}).items():
        log(f"{w} input {k} sha256 {v}")
    for f in res["failures"]:
        log(f"{w} FAILED {f['op']}: {f['error']}")
    for name, prev in sorted(previous.items()):
        for line in compare(prev, res):
            log(f"{w} vs {name}: {line}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar="RESULT")
    args = ap.parse_args()
    if args.compare:
        a, b = (json.loads(Path(p).read_text()) for p in args.compare)
        lines = compare(a, b)
        for line in lines:
            print(line)
        print(f"{len(lines)} difference(s)")
        return
    if not args.workload:
        ap.error("--workload is required")
    if args.workload == "all":  # every workload of BENCHMARK.json, in turn
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        for w in spec["workloads"]:
            run(argparse.Namespace(**{**vars(args), "workload": w["name"]}))
        return
    t0 = time.time()
    run(args)
    print(f"perfbench: {args.workload} run took {time.time() - t0:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
