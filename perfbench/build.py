"""Build file of the benchmark: compiles graft's main sources together with
the benchmark harness (`perfbench/src`) into `.bench_build/classes`.

It calls the Scala compiler that ships with Spark's jars directly, without
sbt, and skips the compile when no source changed since the last build.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    dirs = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
    srcs = sorted(p for d in dirs if d.is_dir() for p in d.rglob("*.scala"))
    if not any(str(p).startswith(str(dirs[0])) for p in srcs):
        raise SystemExit("build: graft's sources (src/main/scala) are missing")
    return srcs


def resources():
    d = ROOT / "src" / "main" / "resources"
    return sorted(p for p in d.rglob("*") if p.is_file()) if d.is_dir() else []


def build():
    """Compiles if needed and returns the runtime classpath."""
    jars = spark_jars()
    srcs, res = sources(), resources()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    cp = "%s%s%s" % (classes, os.pathsep, jars / "*")
    if (OUT / "stamp").exists() and (OUT / "stamp").read_text() == stamp:
        return cp
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("build: scalac failed")
    base = ROOT / "src" / "main" / "resources"
    for p in res:
        dst = tmp / p.relative_to(base)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (OUT / "stamp").write_text(stamp)
    return cp


if __name__ == "__main__":
    print(build())
