#!/usr/bin/env python3
"""Toy-size self-check of every benchmark path.

    python3 perfbench/selfcheck.py

Runs both workloads, untraced and traced, at toy size: a crawl over a
2,000-page thin world (20 hosts), and a two-query suite over tables at 5 %
of sf0.1.  It asserts three things:

- every metric BENCHMARK.json names is printed with its unit;
- the outputs pass the gate;
- a perturbed pinned digest is counted as a failed operation.

It works in its own directory under perfbench/.work, so it never evicts the
real benchmark's cached world.
"""

from __future__ import annotations

import copy
import json
import os
import sys

import run

TOY = {
    "crawl_sparse": run.CrawlWorkload(
        n_pages=2_000, n_seeds=200, budget_s=2.0, rounds=2, compact_every=2,
        text_scale=1, n_hosts=20,
    ),
    "suite_sf01": run.SuiteWorkload(scale=0.05),
}


def check_metrics(out: dict, declared: list[dict]) -> None:
    got = out["result"]["metrics"]
    for m in declared:
        assert m["name"] in got, f"metric {m['name']} not printed"
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], float), m


def perturbed(expected: dict) -> dict:
    """The expected output with one hash flipped."""
    bad = copy.deepcopy(expected)
    key = next(k for k, v in bad.items() if isinstance(v, list) and v and
               isinstance(v[0], int))
    bad[key][1] ^= 1
    return bad


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    run.WORK = os.path.join(run.HERE, ".work", "selfcheck")
    os.makedirs(run.WORK, exist_ok=True)
    for name, w in TOY.items():
        toy = f"{name}-toy"
        for trace, declared in ((False, bench["end_to_end"]), (True, bench["per_layer"])):
            out = run.measure(toy, w, 0, 1, trace, pins={})
            assert out["result"]["correct"], out["report"]["mismatches"]
            check_metrics(out, declared)
            print(f"ok   {name} trace={int(trace)}: "
                  f"{len(out['result']['metrics'])} metrics", file=sys.stderr)
        expected = run.Gate(toy, w, 0, {}).expected
        out = run.measure(toy, w, 0, 1, False,
                          pins={toy: {"0": perturbed(expected)}})
        res = out["result"]
        assert not res["correct"] and res["failed"] >= 1, res
        print(f"ok   {name}: perturbed pin -> {res['failed']} of "
              f"{res['attempted']} operations failed", file=sys.stderr)
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
