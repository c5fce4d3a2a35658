#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <hier|board-mix>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark harness from source if needed
(perfbench/build.py), runs the workload in a fresh JVM with one local
Spark session over every core, checks the outputs, and prints one line
per metric ("name value unit") followed, as the last line, by a JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Everything the run writes stays under .bench_build/.

Input data: the sf0.1 tables named in TESTDATA.md, or the directory in
SPARK_GRAFT_SF_DIR. The board-mix oracle answers were computed on that
data (perfbench/oracle.py); a run on other data fails its check.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import canon  # noqa: E402

ROOT = build.ROOT
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else None
ANSWERS = build.BENCH / "answers" / "board_sf0.1.json"
WORKLOADS = ("hier", "board-mix")
# Set-up repetitions per run; setup_s is their median.
SETUPS = 3
# A run must finish well inside its time limit, the build excepted.
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xmx4g", "-Xss16m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def data_dir() -> Path:
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return Path(env)
    doc = ROOT / "TESTDATA.md"
    m = doc.is_file() and re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text(), re.M)
    if not m:
        fail("no input data: set SPARK_GRAFT_SF_DIR or list the sf0.1 directory in TESTDATA.md")
    return Path(m.group(1))


def table_digest(data: Path, table: str) -> str:
    return hashlib.sha256((data / f"{table}.parquet").read_bytes()).hexdigest()


def run_jvm(classpath: str, work: Path, args, timeout: float) -> None:
    log = work / "jvm.log"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
           "perfbench.Main", *map(str, args)]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work / "cwd", env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM did not finish within {timeout:.0f} s; log: {log}")
    if rc != 0:
        tail = log.read_text(errors="replace").splitlines()[-20:]
        fail(f"JVM exited with {rc}; log: {log}\n" + "\n".join(tail))


def check_board(work: Path, data: Path, result: dict) -> list:
    """Compare board-mix outputs with the committed oracle answers."""
    answers = json.loads(ANSWERS.read_text())
    problems = []
    for table, want in answers["tables"].items():
        if table_digest(data, table) != want:
            return [{"pass": -1, "op": f"table:{table}",
                     "error": "input table differs from the one the answers were computed on"}]
    threw = {(f["pass"], f["op"]) for f in result["failures"]}
    op = "query:{}".format
    seen = set()
    for line in (work / "out" / "outputs.jsonl").read_text().splitlines():
        if not line.strip():
            continue
        o = json.loads(line)
        seen.add((o["pass"], o["query"]))
        a = answers["answers"][o["query"]]
        diff = canon.compare(o["columns"], o["rows"], a["columns"], a["rows"])
        if diff:
            problems.append({"pass": o["pass"], "op": op(o["query"]), "error": f"oracle mismatch: {diff}"})
    for p in sorted({p for p, _ in seen} | {0}):
        for q in result["board"]:
            if (p, q) not in seen and (p, op(q)) not in threw:
                problems.append({"pass": p, "op": op(q), "error": "no output to check"})
    return problems


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if SPEC is None:
        fail("BENCHMARK.json not found at the repository root")

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    data = data_dir()
    if not (data / "orders.parquet").exists():
        fail(f"input data not found in {data}")

    work = build.OUT / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    for d in ("cwd", "tmp", "spark-local", "out"):
        (work / d).mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    t0 = time.monotonic()
    run_jvm(classpath, work, ["run", a.workload, a.seed, a.seconds, a.trace, data,
                              work / "out", cpus, SETUPS], RUN_TIMEOUT_S)
    result = json.loads((work / "out" / "result.json").read_text())

    failures = list(result["failures"])
    if a.workload == "board-mix":
        failures += check_board(work, data, result)
    failed = len({(f["pass"], f["op"]) for f in failures})
    attempted = result["attempted"]
    metrics = result["metrics"]
    metrics["fail_ratio"] = {"value": failed / attempted, "unit": "ratio"}

    print(f"# {a.workload} seed={a.seed} trace={a.trace} cpus={cpus} "
          f"wall={time.monotonic() - t0:.1f}s inputs_sha256={result['inputs_sha256']}")
    print(f"# setups_s={result['setups_s']} cold_s={result['cold_s']:.3f} "
          f"warm_s={[round(x, 3) for x in result['warm_s']]}")
    per_op = {}
    for o in result["ops"]:
        per_op.setdefault(o["op"], []).append((o["pass"], o["build_s"] + o["execute_s"]))
    for op, runs in per_op.items():
        warm = sorted(t for p, t in runs if p > 0)
        cold = [t for p, t in runs if p == 0]
        print(f"# op {op}: cold {cold[0] if cold else float('nan'):.3f} s, "
              f"warm median {warm[len(warm) // 2] if warm else float('nan'):.3f} s over {len(warm)}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for f in failures:
        print(f"FAIL pass={f['pass']} {f['op']}: {f['error']}")
    if a.trace:
        t, u = metrics["trace.warm_traced_s"]["value"], metrics["trace.warm_untraced_s"]["value"]
        print(f"# tracing overhead: traced warm pass {t:.3f} s vs untraced {u:.3f} s "
              f"in the same run: {t - u:+.3f} s ({(t - u) / u:+.1%})")
        print(f"# spans: {work / 'out' / 'spans.jsonl'}")

    wanted = SPEC["per_layer"] if a.trace else SPEC["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
