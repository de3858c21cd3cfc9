#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale, from the repository root:

    python3 perfbench/selftest.py

It checks that

- ``run.py --workload all`` runs every workload, passes every check and
  prints every end-to-end metric of each, with its unit, in one table;
- each workload's own result line (``--trace 0`` and ``--trace 1``)
  names exactly the metrics ``run.py`` declares, each with its unit;
- a deliberately corrupted output (``--corrupt``: shuffled entity ids,
  reversed ranks) is reported as failed.

Exit code 0 when every check holds; the failed checks go to stderr.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(*args: str) -> tuple[dict, dict]:
    """Run ``run.py`` at tiny scale → (result line, line before it)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7",
           "--seconds", "1", "--scale", "tiny", *args]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(args)}: exit {p.returncode}, no result line")
    before = json.loads(lines[-2]) if len(lines) > 1 else {}
    return json.loads(lines[-1]), before


def units_ok(result: dict, units: dict[str, str]) -> list[str]:
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    return [] if got == units else [f"metrics differ from the declared ones: {sorted(set(got) ^ set(units))}"]


def main() -> int:
    problems: list[str] = []

    def expect(cond: bool, what: str) -> None:
        if not cond:
            problems.append(what)

    result, _ = bench("--workload", "all")
    expect(result["correct"] and result["failed"] == 0, "all: a check failed")
    names = set(result["metrics"])
    for wl, requests in (("er", ("job_s", "delta_s")),
                         ("rank_topk", ("vect_s", "rank_s", "rank_predict_s"))):
        for m in ("setup_s", *requests, "failed_ratio", "peak_rss_mb"):
            expect(f"{wl}.{m}" in names, f"all: {wl}.{m} missing")
    expect(result["metrics"].get("failed_ratio", {}).get("value") == 0.0, "all: failed_ratio is not 0")
    expect(all(v.get("unit") for v in result["metrics"].values()), "all: a metric has no unit")

    for wl in run.WORKLOAD_NAMES:
        for trace, units in ((0, run.END_TO_END), (1, run.per_layer_units())):
            result, before = bench("--workload", wl, "--trace", str(trace))
            expect(result["correct"], f"{wl} --trace {trace}: a check failed")
            problems.extend(f"{wl} --trace {trace}: {p}" for p in units_ok(result, units))
            expect("corpus_sha256" in before, f"{wl} --trace {trace}: no corpus checksum")
            if trace == 0:
                zero = [k for k, v in result["metrics"].items() if not v["value"] > 0]
                expect(not zero, f"{wl}: end-to-end metrics read 0: {zero}")
        result, _ = bench("--workload", wl, "--corrupt")
        expect(not result["correct"] and result["failed"] == result["attempted"],
               f"{wl} --corrupt: corrupted output passed its checks")

    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print(f"selftest: {'ok' if not problems else f'{len(problems)} failed'}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
