#!/usr/bin/env python3
"""Layered benchmark of the engine: builds the engine and the benchmark
from this checkout's sources, runs one seeded workload, checks every
op's output and prints the metrics as one JSON line (the last line of
stdout).

    python3 layerbench/run.py --workload sql_star --seed 1 --seconds 10 --trace 0

Run it from the repository root. `--trace 1` reports per-layer metrics
from a traced window instead of the end-to-end ones. Build outputs and
run files go under $CARGO_TARGET_DIR (default `.bench_build`).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_star", "pipeline_read", "pipeline_ingest", "agent_runtime")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> None:
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash() -> str:
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env(build_dir: str) -> dict:
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["TMPDIR"] = os.path.join(build_dir, "tmp")  # the launcher's scratch files
    os.makedirs(env["TMPDIR"], exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build(build_dir: str) -> str:
    """Compile (when the sources changed) and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala) not found: run from a repository checkout")
    stamp = os.path.join(build_dir, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("sources") == digest:
            return cached["classpath"]
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "-Dsbt.version=1.10.0", "--batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(build_dir), stdout=subprocess.PIPE, stderr=fh,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        fh.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "layerbench" not in lines[-1]:
        fail(f"build failed, see {log}", 1)
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": classpath}, fh)
    return classpath


def run_jvm(classpath: str, args, out_dir: str) -> dict:
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    scratch = os.path.join(out_dir, "jvm")
    os.makedirs(os.path.join(scratch, "tmp"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        # a fixed, pre-touched heap: resident memory then tracks what the
        # run adds outside the heap, not how far the collector grew it
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(scratch, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
        "-cp", classpath, "layerbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", os.path.join(out_dir, "run")])
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(cmd, cwd=scratch, stdout=fh, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run timed out after {JVM_TIMEOUT_S} s, see {log}", 1)
    result = os.path.join(out_dir, "run", "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        fail(f"run failed (exit {proc.returncode}), see {log}", 1)
    with open(result) as fh:
        return json.load(fh)


def same_value(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def oracle_failures(data_dir: str, results_path: str) -> list:
    """Re-run every recorded SQL op in DuckDB over the same inputs and
    compare rows in order (every template fixes a total order)."""
    import duckdb
    con = duckdb.connect()
    for name in os.listdir(data_dir):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{name}/*.parquet')")
    csv = f"{data_dir}/sales.csv"
    views = {
        "csv": f"CREATE OR REPLACE VIEW data AS SELECT * FROM read_csv_auto('{csv}')",
        "xlsx": f"CREATE OR REPLACE VIEW data AS SELECT * FROM read_csv('{csv}', "
                "header = true, all_varchar = true)",
    }
    failures = []
    with open(results_path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec["kind"] in views:
                con.execute(views[rec["kind"]])
            try:
                want = [list(r) for r in con.execute(rec["sql"]).fetchall()]
            except Exception as e:  # an oracle error is a failed check
                failures.append(f"op {rec['op']}: duckdb error {e}")
                continue
            got = rec["rows"]
            ok = (len(want) > 1000) == rec["truncated"] and len(got) == min(len(want), 1000) \
                and all(len(g) == len(w) and all(same_value(x, y) for x, y in zip(g, w))
                        for g, w in zip(got, want[:1000]))
            if not ok:
                failures.append(f"op {rec['op']}: rows differ from DuckDB for {rec['sql']}")
    return failures


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    classpath = build(build_dir)
    out_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    res = run_jvm(classpath, args, out_dir)

    failures = list(res["diagnostics"].get("check_failures", []))
    results = os.path.join(out_dir, "run", "results.jsonl")
    oracle = []
    if args.workload == "sql_star" and os.path.exists(results):
        oracle = oracle_failures(os.path.join(out_dir, "run", "data"), results)
    attempted = int(res["attempted"])
    failed = int(res["failed"]) + len(oracle)
    metrics = dict(res["metrics"])
    if not args.trace:
        metrics["ok_frac"] = {"value": 1.0 - failed / attempted, "unit": "ratio"}
        order = ["setup_s", "ops_per_s", "op_p50_s", "op_tail_s", "cpu_s_per_op",
                 "ok_frac", "peak_rss_mb", "index_bytes_per_doc"]
        metrics = {k: metrics[k] for k in order}
    diag = dict(res["diagnostics"])
    diag["failed_frac"] = failed / attempted
    diag["oracle_failures"] = oracle[:20]
    diag["rejected_as_expected"] = res["rejected_as_expected"]
    print(json.dumps({"diagnostics": diag}))
    if args.trace:
        print(json.dumps({"layer_map": res["layer_map"]}))
    correct = failed == 0 and not failures and res["checks_ok"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
