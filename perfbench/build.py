"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) into one class directory under
`.bench_build/perfbench/`, with the Scala compiler that ships in the Spark
distribution: `$SPARK_JARS`, else `$SPARK_HOME/jars`, else the `jars`
directory beside `spark-submit` on `PATH`. The class directory is keyed by
a hash of every source file, so an unchanged checkout builds once.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    if os.environ.get("SPARK_JARS"):
        return Path(os.environ["SPARK_JARS"])
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file():
            jars = submit.resolve().parent.parent / "jars"
            if any(jars.glob("spark-sql_*.jar")):
                return jars
    raise SystemExit("perfbench: no Spark distribution; set SPARK_HOME or SPARK_JARS")


SPARK_JARS = spark_jars()


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {ROOT / 'src/main/scala'}")
    return engine + sorted((BENCH / "src").rglob("*.scala"))


def classpath(classes: Path) -> str:
    return f"{classes}{os.pathsep}{SPARK_JARS}/*"


def build() -> Path:
    if not any(SPARK_JARS.glob("spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars in {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / "_OK").exists():
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / "classes.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{SPARK_JARS}/*",
           "-d", str(tmp), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    (tmp / "_OK").write_text("")
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
