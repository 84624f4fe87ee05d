#!/usr/bin/env python3
"""Build file of the lifecycle benchmark.

Compiles the library from the checkout's sources (Java first, then Scala,
as the project build does) together with the benchmark's own Scala files
into one class directory under ``.bench_build/lifecycle``. The Spark jars
are the ones the project build names as its unmanaged base. A build is
reused while no source file changes.

    python3 lifecycle_bench/build.py     # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "lifecycle"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jar directory of the project build (``unmanagedBase``), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"no build.sbt at {ROOT}: not a checkout of the library")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    candidates = [Path(m.group(1))] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")):
            return c
    raise BuildError("Spark jars not found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    main = ROOT / "src" / "main"
    java = sorted((main / "java").rglob("*.java"))
    scala = sorted((main / "scala").rglob("*.scala"))
    if not scala:
        raise BuildError(f"no library sources under {main / 'scala'}")
    scala += sorted((BENCH / "scala").rglob("*.scala"))
    resources = sorted(f for f in (main / "resources").rglob("*") if f.is_file())
    return java, scala, resources


def build() -> str:
    """Compile if needed; return the classpath to run the benchmark with."""
    jars = spark_jars()
    java, scala, resources = sources()
    h = hashlib.sha256()
    for f in java + scala + resources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    dest = OUT / f"classes-{h.hexdigest()[:16]}"
    classpath = f"{dest / 'classes'}{os.pathsep}{dest / 'java'}{os.pathsep}{jars / '*'}"
    if (dest / "BUILT").exists():
        return classpath
    if OUT.exists():
        for old in OUT.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
    (dest / "java").mkdir(parents=True)
    (dest / "classes").mkdir()
    jcp = str(jars / "*")

    def run(cmd):
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError(f"{cmd[0]} failed ({r.returncode}):\n{r.stdout[-4000:]}")

    if java:
        run(["javac", "-nowarn", "-d", str(dest / "java"), "-cp", jcp] + [str(f) for f in java])
    argfile = dest / "scala-sources.txt"
    argfile.write_text("\n".join(str(f) for f in scala) + "\n")
    run(["java", "-Xss16m", "-Xmx2g", "-cp", jcp, "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp", "-classpath", str(dest / "java"),
         "-d", str(dest / "classes"), f"@{argfile}"])
    for f in resources:
        target = dest / "classes" / f.relative_to(ROOT / "src" / "main" / "resources")
        target.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, target)
    (dest / "BUILT").write_text("ok\n")
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
