#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (../src/main/scala)
together with the harness (perfbench/src) into one class directory.

Compiles with the Scala compiler that ships in the Spark distribution's
jars, so no build tool and no network is needed. The output lands in
`$CARGO_TARGET_DIR/perfbench/classes` (default `.bench_build/...` under
the repository root) and is reused while no source file changes.

    python3 perfbench/build.py          # prints the class directory
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else those of the
    `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not home or not any(jars.glob("spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars (SPARK_HOME={home})")
    return jars


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"build: engine sources missing ({engine})")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def build():
    """Compile if any source changed; return the class directory."""
    build_dir().mkdir(parents=True, exist_ok=True)
    with open(build_dir() / "build.lock", "w") as lock:
        # One compile at a time per checkout.
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir() / "classes"
    stamp_file = build_dir() / "classes.sha256"
    if stamp_file.exists() and stamp_file.read_text() == stamp and out.is_dir():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    print(build())
