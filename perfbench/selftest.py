"""Self-test of the traced run on a tiny crawl.

    python3 perfbench/selftest.py

Runs the ``tiny`` workload with tracing on and checks that the fold can
be trusted: every Spark job submitted during a timed round belongs to
exactly one span of that round, and the round's own phase seconds
(``plan_build`` + ``compute_metrics`` + ``commit_tables`` +
``write_lineage``) add up to within 10 % of its traced wall time. Exits
non-zero on the first failed check.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def main() -> int:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        run.main(["--workload", "tiny", "--seed", "7", "--seconds", "1", "--trace", "1"])
    detail, result = (json.loads(line) for line in out.getvalue().splitlines()[-2:])
    with open(detail["report"]) as fh:
        report = json.load(fh)
    problems = []
    if not result["correct"]:
        problems.append(f"output check failed: {detail['rounds']}")
    spans = {s["id"]: s for s in report["spans"]}
    for i, op in enumerate(report["per_op"]):
        if op["trace.unlabelled_jobs"]:
            problems.append(f"round {i}: {op['trace.unlabelled_jobs']} jobs outside every span")
        if op["round.jobs"] < 1:
            problems.append(f"round {i}: no job folded into the round")
        if abs(op["trace.phase_share"] - 1.0) > 0.10:
            problems.append(f"round {i}: phase seconds are {op['trace.phase_share']:.3f} "
                            "of the round's wall time")
    for sid, s in spans.items():
        if s["parent"] is not None and spans[s["parent"]]["op"] != s["op"]:
            problems.append(f"span {sid} ({s['name']}) has a parent in another round")
    for p in problems:
        print("FAIL", p)
    print(json.dumps({"selftest": "fail" if problems else "ok",
                      "rounds": len(report["per_op"]),
                      "jobs_per_round": [op["round.jobs"] for op in report["per_op"]],
                      "phase_share": [round(op["trace.phase_share"], 4)
                                      for op in report["per_op"]]}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
