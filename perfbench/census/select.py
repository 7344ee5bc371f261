#!/usr/bin/env python3
"""Splits the battery into the three frozen workloads and picks their passes.

    python3 perfbench/census/select.py > perfbench/workloads.json

Inputs, both committed next to this script or under perfbench/expected:
  * census_sf0.1.txt: one `graft.Jobs` pass at sf0.1 on 4 cores (jobs,
    stages, tasks and wall ms per query; each ms includes the tool's 120 ms
    listener-drain sleep, subtracted here);
  * expected/sf0.01.tsv: the recorded outputs at the benchmark's scale, whose
    fourth column is the warm wall ms of the benchmark's own sink.

The split rule, on the sf0.1 census:
  job_chains  >= 30 jobs per call and < 100 ms per job;
  query_tail  < 30 jobs per call and < 500 ms wall;
  query_heavy every other query.

A pass is a fixed sample of its slice, so that several passes fit in one
run: the slice is sorted by census wall and cut into m equal strata, and
the middle query of each stratum is taken, with m the largest count whose
pass stays within the workload's budget of recorded sink time. query_heavy
also always runs q210, the battery's slowest query, whose fused aggregation
is an open ROADMAP item. query_tail always runs q192 (its two BPE chains
go through graft.Par.map) and q208 (its index is built once into a
graft.Scratch dir through graft.operators.IndexStore, cached by a
graft.SessionCache, then read back), so that with query_heavy and
job_chains out of the benchmark these layers are still measured. The
lists never change with a later speed-up:
this script is rerun only by a change that redefines the benchmark.
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
SLEEP_MS = 120
PASS_BUDGET_MS = {"query_tail": 2750, "query_heavy": 3600, "job_chains": 3500}
ALWAYS = {"query_heavy": ["q210_kn5_modified"],
          "query_tail": ["q192_tokenizer_transfer", "q208_dedup_index_card"]}


def census(path):
    rows = {}
    for line in open(path):
        p = line.split()
        if len(p) == 5 and p[0] not in ("query", "TOTAL"):
            rows[p[0]] = {"jobs": int(p[1]), "stages": int(p[2]), "tasks": int(p[3]),
                          "ms": float(p[4]) - SLEEP_MS}
    return rows


def split(c):
    chains = [q for q, r in c.items() if r["jobs"] >= 30 and r["ms"] / r["jobs"] < 100]
    tail = [q for q, r in c.items() if q not in chains and r["jobs"] < 30 and r["ms"] < 500]
    heavy = [q for q in c if q not in chains and q not in tail]
    return {"query_tail": sorted(tail), "query_heavy": sorted(heavy), "job_chains": sorted(chains)}


def strata(ranked, m):
    n = len(ranked)
    return [ranked[(2 * j + 1) * n // (2 * m)] for j in range(m)]


def pick(name, slice_, c, sink_ms):
    ranked = sorted(slice_, key=lambda q: (c[q]["ms"], q))
    forced = ALWAYS.get(name, [])
    best = forced
    for m in range(1, len(ranked) + 1):
        qs = sorted(set(strata(ranked, m)) | set(forced))
        if sum(sink_ms[q] for q in qs) <= PASS_BUDGET_MS[name]:
            best = qs
    return best


def main():
    c = census(os.path.join(HERE, "census_sf0.1.txt"))
    sink_ms = {}
    for line in open(os.path.join(BENCH, "expected", "sf0.01.tsv")):
        p = line.rstrip("\n").split("\t")
        sink_ms[p[0]] = float(p[3])
    slices = split(c)
    out = {
        "rule": __doc__.split("The split rule, on the sf0.1 census:\n")[1].split("\n\n")[0],
        "census": "perfbench/census/census_sf0.1.txt (graft.Jobs, sf0.1, local[4], "
                  "ms minus the tool's 120 ms sleep)",
        "pass_rule": "middle query of each of m equal strata by census wall; m the largest "
                     "with recorded sf0.01 sink time within the pass budget",
        "pass_budget_ms": PASS_BUDGET_MS,
        "workloads": {"warehouse_build": {}},
    }
    for name, qs in slices.items():
        p = pick(name, qs, c, sink_ms)
        out["workloads"][name] = {
            "data": "sf0.01",
            "queries": p,
            "slice": qs,
            "slice_census": {"queries": len(qs), "wall_s": round(sum(c[q]["ms"] for q in qs) / 1e3, 1),
                             "jobs": sum(c[q]["jobs"] for q in qs)},
            "pass_recorded_ms": round(sum(sink_ms[q] for q in p)),
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
