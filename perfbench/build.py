#!/usr/bin/env python3
"""Build the benchmark from source: the engine (src/main/scala) and the
benchmark harness (perfbench/src), compiled with the Scala compiler that
ships in the Spark distribution ($SPARK_HOME/jars), so no build tool or
network access is needed. Output goes to .bench_build/perfbench/ and is
rebuilt only when a source file changes (content-hash stamp).

Usage: python3 perfbench/build.py    (prints the runtime classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    return Path(home) / "jars"


def sources(d: Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_stage(name: str, srcs, classpath: str, depends: str = "") -> Path:
    """Compile `srcs` into OUT/<name>, skipping the work when the stamp
    matches the hash of the sources, the classpath and `depends`."""
    if not srcs:
        raise BuildError(f"{name}: no Scala sources found")
    dest = OUT / name
    stamp = OUT / f"{name}.stamp"
    want = digest(srcs, classpath + depends)
    if dest.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return dest
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", classpath,
           *map(str, srcs)]
    print(f"[build] compiling {name}: {len(srcs)} files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"{name}: scalac exited with {r.returncode}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp.write_text(want)
    return dest


def build() -> str:
    """Build if needed and return the runtime classpath."""
    OUT.mkdir(parents=True, exist_ok=True)
    jars = str(spark_jars() / "*")
    engine = str(compile_stage("engine", sources(ROOT / "src" / "main" / "scala"), jars))
    bench = compile_stage("bench", sources(BENCH / "src"), os.pathsep.join([engine, jars]),
                          depends=(OUT / "engine.stamp").read_text())
    return os.pathsep.join([str(bench), engine, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
