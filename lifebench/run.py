"""Lifecycle benchmark of the svoe engine: one workload, one seed, one run.

    python3 lifebench/run.py --workload research_loop --seed 1 --seconds 5 --trace 0

Builds the program from source when its classes are stale (see build.py),
then runs the workload in one JVM: `local[N]` Spark with N = min(4, CPUs
available), 4 shuffle partitions and a fixed 2 GiB heap. The run
works under its own temporary directory in `.bench_tmp/`, removed at the
end. The last line
of standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with `--trace 1` the per-layer ones).
"""
import argparse
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("research_loop", "feature_store", "kappa_stream")
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "2g"
JVM_TIMEOUT_S = 170
MARK = "LIFEBENCH_RESULT "
# what spark-submit would add on JDK 17 (the repository's build.sbt sets the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(workload: str, seed: int, seconds: float, trace: bool, selftest: bool = False,
            setups: int = 2) -> str:
    """Run one workload in a fresh JVM; return its result JSON, or raise."""
    classes = build.ensure()
    t0_ms = int(time.time() * 1000)  # set-up time starts after any build
    jars = build.spark_jars()
    root = build.REPO / ".bench_tmp" / f"run-{os.getpid()}-{time.time_ns()}"
    (root / "tmp").mkdir(parents=True)
    cmd = [build.java(), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss4m",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={root / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", f"{classes}:{jars}/*", "lifebench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--root", str(root), "--t0-ms", str(t0_ms),
           "--cores", str(CORES), "--setups", str(setups),
           "--selftest", "1" if selftest else "0"]
    log = root.parent / f"{root.name}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    cwd=root)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        lines = [l[len(MARK):] for l in out.splitlines() if l.startswith(MARK)]
        if proc.returncode != 0 or not lines:
            tail = log.read_text().splitlines()[-40:]
            raise RuntimeError(f"JVM exited {proc.returncode} without a result:\n" +
                               "\n".join(tail))
        # the run's own notes: set-up and pass times, failed checks
        sys.stderr.writelines(l for l in log.read_text().splitlines(True)
                              if l.startswith("[lifebench]"))
        return lines[-1]
    finally:
        shutil.rmtree(root, ignore_errors=True)
        log.unlink(missing_ok=True)
        try:
            root.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1)
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired) as e:
        print(f"[lifebench] {e}", file=sys.stderr)
        return 1
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
