#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala of the
checkout) together with the benchmark client (perfbench/src) with the Scala
compiler that ships in Spark's jars directory, into <build>/classes. That
directory is $SPARK_HOME/jars, else the one the engine's build.sbt names.

    python3 perfbench/build.py          # prints the classes directory

<build> is $CARGO_TARGET_DIR when set, else .bench_build, relative to the
checkout root. A build is reused while the sources and jars are unchanged.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars directory the engine's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit("perfbench: Spark's jars not found; set SPARK_HOME")
    return Path(m.group(1))


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    return sorted(p for d in (ENGINE_SRC, BENCH_SRC) for p in d.rglob("*.scala"))


def stamp(srcs: list) -> str:
    h = hashlib.sha256()
    for p in srcs + sorted(ENGINE_RES.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def build() -> Path:
    srcs = sources()
    out = build_dir() / "classes"
    key = stamp(srcs)
    if (out / "STAMP").is_file() and (out / "STAMP").read_text() == key:
        return out
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir() / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(spark_jars() / "*")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    if ENGINE_RES.is_dir():
        shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
    (tmp / "STAMP").write_text(key)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


if __name__ == "__main__":
    print(build())
