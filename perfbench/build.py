"""Build file of the benchmark: compiles the program's main sources and the
harness in perfbench/src with the Scala compiler that ships with Spark.

Output goes to .bench_build/classes-<hash>, keyed by a hash of every source
file, so a changed source tree always gets a fresh build.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = ROOT / "perfbench" / "src"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the one whose
    spark-submit is on PATH. They include the Scala 2.13 compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 distribution")
    return pathlib.Path(home) / "jars"


def sources():
    if not (PROGRAM_SRC / "graft").is_dir():
        raise SystemExit(f"perfbench: program sources not found under {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))


def build():
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()[:16]
    out = BUILD / f"classes-{stamp}"
    if (out / "BUILD_OK").exists():
        return out, stamp
    tmp = BUILD / f"classes-{stamp}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    (tmp / "BUILD_OK").write_text(stamp + "\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in BUILD.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, stamp


if __name__ == "__main__":
    print(build()[0])
