#!/usr/bin/env python3
"""Fast self-test of the benchmark on a tiny corpus (about three minutes).

    python3 perfbench/selftest.py

Runs every workload untraced and traced at toy sizes, checks that each
metric named in ``BENCHMARK.json`` prints with its unit and that a
clean run reports no failures, then corrupts ``LocalSearcher`` results
and checks that the run reports them as failed.
"""

from __future__ import annotations

import json
import sys

import run

BENCH = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def check_ranking() -> None:
    want = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert run.ranking_matches([(1, 3.0), (3, 2.0), (2, 2.0)], want, 3, 1e-9)
    assert run.ranking_matches([(1, 3.0), (2, 2.0)], want, 2, 1e-9)  # tie cut at k
    assert not run.ranking_matches([(1, 3.0), (4, 2.0)], want, 2, 1e-9)
    assert not run.ranking_matches([(1, 3.0), (2, 2.5)], want, 2, 1e-9)
    assert not run.ranking_matches([(1, 3.0)], want, 2, 1e-9)


def check_names(result: dict, declared: list[dict], label: str) -> None:
    got = {m: v["unit"] for m, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    if got != want:
        raise AssertionError(
            f"{label}: metrics differ from BENCHMARK.json: "
            f"missing {sorted(want.keys() - got.keys())}, "
            f"extra {sorted(got.keys() - want.keys())}, "
            f"units {[(m, got[m], want[m]) for m in got.keys() & want.keys() if got[m] != want[m]]}"
        )


def main() -> int:
    check_ranking()
    run.N_DOCS = 160
    run.SETUPS = 1
    run.BATCH_QUERIES = 16
    run.CHECK_QUERIES = 4
    run.STREAM_LEN = 1000
    names = [w["name"] for w in BENCH["workloads"]]
    if sorted(names) != sorted(run.WORKLOADS):
        raise AssertionError(f"workloads {names} != {sorted(run.WORKLOADS)}")
    for name in names:
        for trace, declared in ((False, BENCH["end_to_end"]), (True, BENCH["per_layer"])):
            res = run.run_workload(name, seed=3, seconds=0.5, trace=trace)
            label = f"{name} trace={int(trace)}"
            check_names(res, declared, label)
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                raise AssertionError(f"{label}: clean run reported {res}")
            print(f"ok {label}", file=sys.stderr)

    from neural_cherche_spark.serve import LocalSearcher

    search = LocalSearcher.search

    def corrupted(self, queries, k=10):
        res = search(self, queries, k)
        for r in res if isinstance(queries, str) else []:
            r["doc_id"] += 1
        return res

    LocalSearcher.search = corrupted
    try:
        res = run.run_workload("serve_cold", seed=3, seconds=0.5, trace=False)
    finally:
        LocalSearcher.search = search
    if res["failed"] < 1 or res["correct"]:
        raise AssertionError(f"corrupted results were not counted: {res}")
    print(f"ok corrupted serve_cold: {res['failed']}/{res['attempted']} failed", file=sys.stderr)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
