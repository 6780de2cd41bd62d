"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory, with the Scala
compiler that ships among Spark's jars. A stamp over every source file
skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


class BuildError(Exception):
    pass


def build_dir():
    d = pathlib.Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no SPARK_HOME and no spark-submit on PATH")
        home = pathlib.Path(submit).resolve().parent.parent
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        raise BuildError(f"no graft sources under {ROOT / 'src/main/scala'}")
    return graft + sorted((BENCH / "src").rglob("*.scala"))


def build(log=sys.stderr):
    """Returns the class directory, compiling first if the sources changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir() / "classes"
    if (out / "STAMP").is_file() and (out / "STAMP").read_text() == stamp:
        return out
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    print(f"building {len(srcs)} sources into {out}", file=log)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(p) for p in srcs],
        stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
