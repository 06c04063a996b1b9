"""Build file of the benchmark package.

Compiles the engine (``src/main/scala``) and the benchmark's own sources
(``perfbench/src``) with the Scala compiler that ships in Spark's jar
directory, into ``.bench_build/classes`` at the root of the checkout. The
output is reused while no source file changes.

    python3 perfbench/build.py      # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")):
            return c
    raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")


def jvm_flags(tmp: Path) -> list:
    """Flags every JVM of the benchmark gets: no files outside the checkout."""
    tmp.mkdir(parents=True, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    found = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not found:
        raise BuildError("no Scala sources found")
    return found


def build() -> Path:
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    digest.update(str(jars).encode())
    stamp = digest.hexdigest()
    out = BUILD / "classes"
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    fresh = BUILD / "classes.tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = (["java", "-Xss8m", "-Xmx2g"] + jvm_flags(BUILD / "tmp")
           + ["-cp", cp, "scala.tools.nsc.Main", "-classpath", cp,
              "-d", str(fresh), "-nowarn"] + [str(f) for f in srcs])
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if proc.returncode != 0:
        raise BuildError(f"scalac exited with {proc.returncode}")
    (fresh / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    fresh.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
