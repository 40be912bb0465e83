"""Build step of the benchmark: compile the engine and the benchmark, then
generate the inputs and the create-path tables every run starts from.

Usage: python3 perfbench/build.py    (run.py calls it before each run)

Everything lands under `.bench_build/<stamp>/` at the checkout root, where
the stamp hashes every input of the build (engine sources and resources,
benchmark sources and corpus files, this file). A complete build holds a
`done` marker, so an unchanged checkout reuses it and an interrupted build
starts over.

The engine is compiled with the Scala compiler that ships in the Spark jar
directory named by the repo's `build.sbt` (`unmanagedBase`), so the build
needs neither sbt nor a network.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_ROOT = ROOT / ".bench_build"
# The engine's sf0.1 `documents` and `embeddings` files, shipped as they are.
CORPUS = Path(__file__).resolve().parent / "data"

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# normally injects (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"
# The serial collector sizes the heap from the live set after each
# collection rather than from GC-time goals, so the peak RSS follows the
# engine's memory; with G1 it varied by 16% between runs of the same work
# (9% with this collector), and the 2-thread runs measured slower.


class BuildError(Exception):
    pass


def cpus():
    """Spark local threads: the reference's container CPU limit (2), or
    nproc when that is smaller. The rest of the host's CPUs stay free for
    the JVM's compiler and GC threads, which keeps cold runs steadier."""
    return min(2, len(os.sched_getaffinity(0)))


def spark_jars():
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"no build.sbt at {ROOT}: this is not a checkout of the engine")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not jars.is_dir():
        raise BuildError(f"Spark jar directory {jars} not found")
    return jars


def inputs():
    engine = ROOT / "src" / "main"
    if not (engine / "scala").is_dir():
        raise BuildError(f"no engine sources under {engine}")
    if not CORPUS.is_dir():
        raise BuildError(f"no corpus files under {CORPUS}")
    files = sorted(p for base in (engine, ROOT / "perfbench" / "src", CORPUS)
                   for p in base.rglob("*") if p.is_file())
    return files + [Path(__file__).resolve()]


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def java_cmd(classes, jars, tmp, main_args):
    return (["java", f"-Xmx{HEAP}", "-XX:+UseSerialGC", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}{os.pathsep}{jars}/*", "graftbench.Main"] + main_args)


def run_logged(cmd, log, timeout, cwd):
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd,
                                timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        tail = Path(log).read_text(errors="replace").splitlines()[-40:]
        raise BuildError(f"{cmd[0]} failed ({rc}):\n" + "\n".join(tail))


def ensure(timeout=840):
    """Return the build directory, building it first if it is missing or
    stale."""
    files = inputs()
    jars = spark_jars()
    out = BUILD_ROOT / stamp(files)
    if (out / "done").exists():
        return out
    if BUILD_ROOT.exists():
        for old in BUILD_ROOT.iterdir():
            if old.is_dir() and old.name != "runs":
                shutil.rmtree(old, ignore_errors=True)
    out.mkdir(parents=True)
    classes, tmp = out / "classes", out / "tmp"
    classes.mkdir()
    tmp.mkdir()
    sources = [str(f) for f in files if f.suffix == ".scala"]
    print(f"[perfbench] compiling {len(sources)} sources", file=sys.stderr)
    run_logged(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                "-cp", f"{jars}/*",
                "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
                "-classpath", f"{jars}/*"] + sources,
               out / "compile.log", timeout, cwd=tmp)
    shutil.copytree(ROOT / "src" / "main" / "resources", classes, dirs_exist_ok=True)
    (out / "data").mkdir()
    for name in ("documents.parquet", "embeddings.parquet"):
        shutil.copyfile(CORPUS / name, out / "data" / name)
    print("[perfbench] generating inputs and the state the workloads start from",
          file=sys.stderr)
    run_logged(java_cmd(classes, jars, tmp,
                        ["--mode", "prepare", "--cpus", str(cpus()), "--tmp", str(tmp),
                         "--data", str(out / "data"), "--template", str(out / "template")]),
               out / "prepare.log", timeout, cwd=tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    (out / "done").write_text("")
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
