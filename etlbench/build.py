"""Build file of the benchmark: compiles the committed engine sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`etlbench/scala`) with the Scala compiler that ships in Spark's jar
directory. Output goes to `.bench_build/etlbench/classes-<hash>`, keyed by a
hash of every compiled source, so a stale class directory can never be on
the classpath.

    python3 etlbench/build.py        # prints the class directory
"""

import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BENCH_DIR = pathlib.Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def sources(root):
    engine = root / "src" / "main" / "scala"
    if not (engine / "graft" / "SparkEntry.scala").is_file():
        raise BuildError(f"no engine sources under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted(
        (BENCH_DIR / "scala").rglob("*.scala"))


def spark_jars(root):
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the engine's own build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (root / "build.sbt").read_text())
    if not m:
        raise BuildError("build.sbt names no Spark jar directory")
    return pathlib.Path(m.group(1))


def classpath(root, classes):
    return f"{classes}{os.pathsep}{spark_jars(root)}/*"


def build(root, log=sys.stderr):
    """Compile if needed; return the class directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    base = root / ".bench_build" / "etlbench"
    out = base / f"classes-{h.hexdigest()[:16]}"
    if (out / "BUILT").is_file():
        return out
    tmp = base / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs))
    print(f"[etlbench] compiling {len(srcs)} sources", file=log)
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
         f"{spark_jars(root)}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-classpath", str(tmp),
         "-nowarn", "-d", str(tmp),
         f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    argfile.unlink()
    (tmp / "BUILT").write_text(h.hexdigest())
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build(pathlib.Path.cwd()))
    except BuildError as e:
        sys.exit(f"[etlbench] {e}")
