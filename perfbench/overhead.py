#!/usr/bin/env python3
"""Tracing overhead per end-to-end metric, from finished runs.

Usage (from the directory the runs were made in)::

    python3 perfbench/overhead.py [.perfbench_out]

Every run writes ``<workload>-seed<n>-trace<0|1>.json``, which holds the
end-to-end figures whether or not the run was traced. For each workload
and end-to-end metric this prints the median over traced runs against the
median over untraced runs, as a percentage change, with the run counts.
Seeds that have both a traced and an untraced run are used alone when
there are any, so the two medians cover the same inputs.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

from spans import median

NAME = re.compile(r"(?P<w>\w+)-seed(?P<seed>-?\d+)-trace(?P<t>[01])\.json$")


def load(out_dir: Path) -> dict:
    """``{workload: {trace: {seed: end_to_end}}}``"""
    runs: dict = {}
    for f in sorted(out_dir.glob("*.json")):
        m = NAME.match(f.name)
        if not m:
            continue
        res = json.loads(f.read_text())
        if not res.get("correct") or "end_to_end" not in res:
            continue
        runs.setdefault(m["w"], {0: {}, 1: {}})[int(m["t"])][
            int(m["seed"])] = res["end_to_end"]
    return runs


def overhead(runs: dict) -> dict:
    out: dict = {}
    for w, by_trace in sorted(runs.items()):
        plain, traced = by_trace[0], by_trace[1]
        both = sorted(set(plain) & set(traced))
        if both:
            plain = {s: plain[s] for s in both}
            traced = {s: traced[s] for s in both}
        if not plain or not traced:
            continue
        figures = {}
        for k in next(iter(plain.values())):
            a = median(r[k]["value"] for r in plain.values())
            b = median(r[k]["value"] for r in traced.values())
            figures[k] = {"untraced": a, "traced": b,
                          "unit": next(iter(plain.values()))[k]["unit"],
                          "overhead_pct": (b / a - 1.0) * 100.0 if a else None}
        out[w] = {"runs": [len(plain), len(traced)],
                  "paired_seeds": len(both), "metrics": figures}
    return out


def main(argv: list[str]) -> int:
    out_dir = Path(argv[0] if argv else ".perfbench_out")
    print(json.dumps(overhead(load(out_dir)), indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
