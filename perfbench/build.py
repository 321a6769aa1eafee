#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/src`) with the Scala compiler that ships
in the Spark distribution, into two jars under `.bench_build/classes`.

No dependency resolution and no network: the classpath is the Spark jar
directory, `$SPARK_HOME/jars` or else the `unmanagedBase` directory of the
repository's build.sbt. A stamp file holding a hash of every source skips
the build when nothing changed.

Usage: python3 perfbench/build.py            (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "classes")


def spark_jar_dir() -> str:
    """`$SPARK_HOME/jars`, else the `unmanagedBase` jar directory the
    repository's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no jar directory")
    return m.group(1)


def spark_jars() -> list:
    d = spark_jar_dir()
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {d}")
    return jars


def sources(sub: str) -> list:
    return sorted(glob.glob(os.path.join(ROOT, sub, "**", "*.scala"),
                            recursive=True))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(out: str, srcs: list, extra_cp: list) -> None:
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(spark_jars()),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if extra_cp:
        cmd += ["-classpath", os.pathsep.join(extra_cp)]
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed ({r.returncode})")


def build() -> list:
    """Compile if needed; return the runtime classpath entries."""
    main_srcs, bench_srcs = sources("src/main/scala"), sources("perfbench/src")
    if not main_srcs or not bench_srcs:
        raise SystemExit("engine or benchmark sources not found under "
                         f"{ROOT}: run from a full checkout")
    want = stamp(main_srcs + bench_srcs)
    stamp_file = os.path.join(OUT, "STAMP")
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have != want:
        # compile aside, then swap in, so a failed build leaves no
        # half-written class tree behind
        tmp = OUT + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        for name, srcs, cp in (("engine", main_srcs, []),
                               ("bench", bench_srcs, ["engine.jar"])):
            classes = os.path.join(tmp, name)
            scalac(classes, srcs, [os.path.join(tmp, c) for c in cp])
            # jars, not directories: class-data sharing archives only
            # classes loaded from jars
            subprocess.run(["jar", "cf", os.path.join(tmp, f"{name}.jar"),
                            "-C", classes, "."], check=True)
            shutil.rmtree(classes)
        with open(os.path.join(tmp, "STAMP"), "w") as fh:
            fh.write(want)
        shutil.rmtree(OUT, ignore_errors=True)
        os.rename(tmp, OUT)
    return [os.path.join(OUT, "bench.jar"),
            os.path.join(OUT, "engine.jar")] + spark_jars()


if __name__ == "__main__":
    build()
    print(OUT)
