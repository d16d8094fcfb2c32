"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload train_pit --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program from source (see ``build.py``),
then runs the program in one JVM with Spark ``local[nproc]``. Every input is generated
from ``--seed`` inside the run's work directory, which is deleted at the
end. The last line of standard output is the JSON result; human-readable
metric lines come before it. Traces of ``--trace 1`` runs are kept under
``.bench_build/perfbench/traces``.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("train_pit", "feature_serve", "curate")
# The whole run must end within 180 s; the JVM gets what is left after the
# (cached) build check, minus a margin for shutdown.
RUN_DEADLINE_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these module opens (the
# engine's own build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def jvm_command(classpath, args, work: Path):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java_bin(), "-Xmx3g", "-XX:+UseG1GC", *opens,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work),
            "--traces", str(build.OUT / "traces")]


def valid_result(line: str) -> bool:
    try:
        obj = json.loads(line)
    except ValueError:
        return False
    return (isinstance(obj, dict) and set(obj) == RESULT_KEYS
            and isinstance(obj["attempted"], int) and obj["attempted"] >= 1
            and isinstance(obj["failed"], int)
            and isinstance(obj["metrics"], dict) and bool(obj["metrics"]))


def main(argv) -> int:
    args = parse_args(argv)
    if args.seconds < 1:
        print("[perfbench] --seconds must be >= 1", file=sys.stderr)
        return 2
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = build.OUT / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(jvm_command(classpath, args, work), cwd=str(work),
                            stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_DEADLINE_S}s; killed",
              file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not valid_result(lines[-1]):
        sys.stderr.write(out)
        print(f"[perfbench] benchmark JVM failed (exit {proc.returncode})",
              file=sys.stderr)
        return proc.returncode or 4
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
