#!/usr/bin/env python3
"""Build file of the ingest benchmark: compiles the engine's main sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `perfbench/out/classes`, with the Scala compiler that ships among the
Spark jars. A stamp over every input skips the compile when nothing
changed.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
CLASSES = OUT / "classes"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not list(jars.glob("spark-sql_2.13-*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def inputs():
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        raise SystemExit(f"build: engine sources not found at {main / 'scala'}")
    srcs = sorted((main / "scala").rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    res = sorted(p for p in (main / "resources").rglob("*") if p.is_file())
    return srcs, res


def stamp(files):
    h = hashlib.sha256()
    for p in files + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    jars = spark_jars()
    srcs, res = inputs()
    want = stamp(srcs + res)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return CLASSES
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = OUT / "scalac.args"
    args.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-classpath", cp, "-d", str(tmp), f"@{args}"]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    for p in res:
        dst = tmp / p.relative_to(ROOT / "src" / "main" / "resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
