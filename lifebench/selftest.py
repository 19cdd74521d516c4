"""Self-test of the lifecycle benchmark.

Runs every workload at a tiny size with all of its correctness checks,
then shows each checker rejecting a deliberately corrupted output (a
dropped row, a shifted label, a reordered tie, a kept re-send, ...). A
run passes when its result says `correct` and no corruption went
unnoticed.

    python3 lifebench/selftest.py [workload ...]
"""
import json
import sys

import run


def main(argv: list) -> int:
    failed = []
    for w in argv or run.WORKLOADS:
        try:
            result = json.loads(run.run_jvm(w, seed=7, seconds=1, trace=False,
                                            selftest=True, setups=1))
            ok = result["correct"] and result["failed"] == 0
        except (run.build.BuildError, RuntimeError) as e:
            print(e, file=sys.stderr)
            ok = False
        print(f"{w}: {'ok' if ok else 'FAILED'}")
        if not ok:
            failed.append(w)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
