"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark on
first use (see build.py), generates the workload's seeded inputs into a
cache under `.bench_build/perfbench/inputs`, runs the workload in one JVM
at local[nproc] inside a private temp root that is deleted afterwards, and
prints one JSON result as the last line of stdout. Traced runs (--trace 1)
also write their spans to `.bench_build/perfbench/traces/`.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["ingest_backfill", "cep_live", "batch", "transcript_batch", "corpus_batch"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--selftest", action="store_true",
                    help="test that the benchmark's checks catch corrupted outputs")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not args.workload and not args.selftest:
        ap.error("--workload is required")

    classes = build.build()
    out = build.OUT
    tmp_parent = out / "tmp"
    tmp_parent.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="run-", dir=tmp_parent))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes)]
           + (["perfbench.SelfTest", "--tmp", str(tmp)] if args.selftest else
              ["perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--tmp", str(tmp), "--cache", str(out / "inputs"),
               "--out", str(out / "traces")]))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    # a terminated launcher still stops the JVM and removes the temp root
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s, stopping it", file=sys.stderr)
        code = 124
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
