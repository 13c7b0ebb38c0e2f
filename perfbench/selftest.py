#!/usr/bin/env python3
"""Self-test of the benchmark's output check, without Spark:

    python3 perfbench/selftest.py

One flipped label must fail the check and count as a failed run, and a
run that launches far fewer Spark jobs or tasks than the first run (a
memoised or reused result) must fail too.
"""

from __future__ import annotations

import sys

from run import check_runs

EXPECTED = {0: 8704, 1: 46, 9: 323, 10: 1597, 99: 2981}


def run(output, jobs=210, tasks=260, error=None) -> dict:
    return {"output": output, "jobs": jobs, "tasks": tasks, "error": error}


def main() -> int:
    first = run(EXPECTED)
    flipped = EXPECTED | {0: EXPECTED[0] - 1, 1: EXPECTED[1] + 1}
    cases = [
        ("correct runs pass", [run(EXPECTED), run(EXPECTED)], 0),
        ("one flipped label fails", [run(EXPECTED), run(flipped)], 1),
        ("a run that raised fails", [run(None, error="Traceback")], 1),
        ("a memoised run (2 jobs) fails", [run(EXPECTED, jobs=2, tasks=2)], 1),
        ("a reused shuffle (few tasks) fails", [run(EXPECTED, tasks=20)], 1),
    ]
    bad = 0
    for name, runs, want in cases:
        got = check_runs(runs, EXPECTED, first)
        ok = got == want
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {got} failed of {len(runs)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
