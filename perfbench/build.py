"""Build the benchmark's JVM classes: the engine's sources under
`src/main/scala` plus `perfbench/src`, compiled together with scalac
from the Spark distribution (no sbt, so each run is a plain `java`
process on compiled classes).

    python3 perfbench/build.py          # prints the class directory

Outputs go to `.bench_build/perfbench/classes-<stamp>/`, where the stamp
hashes every source file; an unchanged tree is not rebuilt.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars shipped inside the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark
        jars = Path(pyspark.__file__).parent / "jars"
        if jars.is_dir():
            return jars
    except ImportError:
        pass
    sys.exit("perfbench: no Spark jars (set SPARK_HOME)")


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        sys.exit(f"perfbench: engine sources missing at {ENGINE_SRC.relative_to(ROOT)}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        sys.exit("perfbench: no Scala sources")
    return files


def digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> Path:
    out = BUILD / f"classes-{digest(sources())}"
    if (out / "_OK").exists():
        return out
    BUILD.mkdir(parents=True, exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BUILD / "classes-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in sources()) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        sys.exit("perfbench: compile failed")
    tmp.rename(out)
    (out / "_OK").write_text("ok\n")
    return out


if __name__ == "__main__":
    print(build())
