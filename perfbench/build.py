"""Compiles the program (`src/main/scala`) and the benchmark harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jars, into
`.bench_build/classes` under the checkout. A stamp keyed on every source's
content skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def spark_jars() -> str:
    jars = pathlib.Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not os.environ.get("SPARK_HOME") or not jars.is_dir():
        sys.exit("build: SPARK_HOME must name a Spark install with a jars/ directory")
    return f"{jars}/*"


def sources() -> list:
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        sys.exit("build: no program sources under src/main/scala")
    return main + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build() -> pathlib.Path:
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()
    out = ROOT / ".bench_build" / "classes"
    stamp = out / ".stamp"
    if stamp.exists() and stamp.read_text() == key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out)] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"build: scalac failed with code {r.returncode}")
    stamp.write_text(key)
    return out


if __name__ == "__main__":
    print(build())
