#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala of the
checkout) and the benchmark program (perfbench/src) with the Scala
compiler that ships in Spark's jars directory, into .bench_build/.

The Spark jars directory is $SPARK_HOME/jars, or else the `unmanagedBase`
that the repo's build.sbt declares. A build is reused while the sources
hash the same.

Usage: python3 perfbench/build.py   (run from the checkout root)
"""
import hashlib
import os
import pathlib
import re
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd()
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        d = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            raise BuildError("no Spark jars: set SPARK_HOME or declare unmanagedBase in build.sbt")
        d = pathlib.Path(m.group(1))
    jars = sorted(str(p) for p in d.glob("*.jar"))
    if not jars:
        raise BuildError(f"no jars in {d}")
    return jars


def scalac(classpath, dest, sources):
    dest.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(classpath),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(dest)] + [str(s) for s in sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {dest.name}:\n{r.stdout[-4000:]}")


def build():
    """Compile if needed; return the runtime classpath entries."""
    engine_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench_src = sorted((HERE / "src").glob("*.scala"))
    if not engine_src:
        raise BuildError(f"no engine sources under {ROOT / 'src/main/scala'}")
    jars = spark_jars()
    h = hashlib.sha256()
    for p in engine_src + bench_src:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = OUT / "classes" / "stamp"
    engine, bench = OUT / "classes" / "engine", OUT / "classes" / "bench"
    if not (stamp.exists() and stamp.read_text() == h.hexdigest()):
        stamp.unlink(missing_ok=True)
        for d in (engine, bench):
            subprocess.run(["rm", "-rf", str(d)], check=True)
        scalac(jars, engine, engine_src)
        scalac(jars + [str(engine)], bench, bench_src)
        stamp.write_text(h.hexdigest())
    return [str(bench), str(engine)] + jars


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(str(e))
