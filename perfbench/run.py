"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark (perfbench/build.py), runs the workload
in one JVM on local[nproc], and prints, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer ones. Exits 1 when an answer fails its brute-force check.
--seconds defaults to BENCHMARK.json's run_seconds; it fixes how much work
is timed (whole cycles or episodes of a nominal length), not a deadline.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("serve", "ingest")
JVM_TIMEOUT_S = 170

# The module opens Spark needs on JDK 17 outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def run_jvm(args, classes: Path, work: Path) -> dict:
    raw = work / "raw.json"
    cp = f"{classes}:{build.spark_jars()}/*"
    cmd = (["java", "-Xmx3g", "-Xss8m"] + build.jvm_flags(work / "tmp")
           + [f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--seed", str(args.seed), "--cores", str(cores()),
              "--work", str(work), "--out", str(raw)])
    if args.checksum:
        cmd += ["--checksum", "1"]
    else:
        cmd += ["--workload", args.workload, "--seconds", str(args.seconds),
                "--trace", str(args.trace)]
        if args.plant_fault:
            cmd.append("--plant-fault")
    # Spark's local directories stay inside the run's work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                          timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
    return json.loads(raw.read_text())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float,
                    help="timed work, in nominal seconds (default: run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="corrupt one answer, to show the check catches it")
    ap.add_argument("--report", type=Path,
                    help="also write the full report (every sample and span) here")
    ap.add_argument("--checksum", action="store_true",
                    help="print a fingerprint of the generated input instead")
    args = ap.parse_args(argv)
    if not args.checksum and not args.workload:
        ap.error("--workload is required")
    if args.seconds is None:
        args.seconds = json.loads((build.ROOT / "BENCHMARK.json").read_text())["run_seconds"]

    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = build.BUILD / "work" / f"{args.workload or 'checksum'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        rec = run_jvm(args, classes, work)
    except (RuntimeError, subprocess.TimeoutExpired, OSError, ValueError) as e:
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.checksum:
        print(json.dumps(rec))
        return 0

    result, report = metrics.summarize(rec)
    print(metrics.describe(report), file=sys.stderr)
    if args.report:
        args.report.write_text(json.dumps(report, indent=1))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
