#!/usr/bin/env python3
"""Order-alternating sf3/sf10 scale probe for a set of queries.

Runs four subset-Bench invocations (sf3, sf10, sf10, sf3), each itself
min-of-3 passes, over the named queries. The first binary in a window
reads slower, and a monotone window drift inflates one scale's FIRST
run; the per-scale min across the two runs discards both. Writes
PROBE_<name>_sf10.json: per-run values, per-scale min, each query's
wall ratio against the 3.33x data ratio (GenScale 30x vs 100x), the
calibration medians that gauge window stability, and one verdict: the
worst wall ratio against the data ratio.

Usage: probe_scale.py <name> <q1,q2,...> [sf3_dir sf10_dir]
       (run from the repo root; default dirs local-data/sf3, local-data/sf10)
"""
import json
import os
import re
import subprocess
import sys

DATA_RATIO = 3.33

RUNS = [("runA_sf3", "sf3"), ("runB_sf10", "sf10"),
        ("runC_sf10", "sf10"), ("runD_sf3", "sf3")]


def bench(sf_dir: str, queries: list) -> dict:
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir,
           "SPARK_GRAFT_ONLY": ",".join(queries)}
    out = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                         capture_output=True, text=True, check=True,
                         env=env).stdout
    compact = None
    for line in out.splitlines():
        line = line.strip()
        if '"metric":"total"' in line and '"queries"' in line:
            compact = json.loads(re.search(r"\{.*\}", line).group(0))
    if compact is None:
        raise SystemExit(f"no compact bench line in output for {sf_dir}")
    if compact.get("errors"):
        raise SystemExit(f"bench errors at {sf_dir}: {compact['errors']}")
    return compact


def verdict(per_query: dict) -> str:
    worst = max(per_query, key=lambda q: per_query[q]["wall_ratio"])
    w = per_query[worst]["wall_ratio"]
    ratios = ", ".join(f"{q} {v['wall_ratio']}x"
                       for q, v in sorted(per_query.items()))
    shape = ("below" if w < DATA_RATIO else "at or above")
    return (f"worst wall ratio {worst} {w}x, {shape} the {DATA_RATIO}x "
            f"data ratio ({ratios})")


def main() -> None:
    if len(sys.argv) not in (3, 5):
        raise SystemExit(__doc__)
    name, queries = sys.argv[1], sys.argv[2].split(",")
    dirs = {"sf3": sys.argv[3] if len(sys.argv) == 5 else "local-data/sf3",
            "sf10": sys.argv[4] if len(sys.argv) == 5 else "local-data/sf10"}
    runs, cals = {}, {}
    for run, scale in RUNS:
        c = bench(dirs[scale], queries)
        runs[run] = c["queries"]
        cals[run] = c["calibration"]["median"]
        print(f"[probe] {run}: total={c['value']}s cal={cals[run]}s",
              flush=True)
    per_query = {}
    for q in sorted(runs["runA_sf3"]):
        v3 = min(runs["runA_sf3"][q], runs["runD_sf3"][q])
        v10 = min(runs["runB_sf10"][q], runs["runC_sf10"][q])
        per_query[q] = {"sf3_sec": v3, "sf10_sec": v10,
                        "wall_ratio": round(v10 / v3, 2),
                        "data_ratio": DATA_RATIO}
    artifact = {
        "metric": f"probe_{name}_sf10",
        "unit": "sec",
        "queries": queries,
        "protocol": ("same-window ORDER-ALTERNATING runs (sf3,sf10,sf10,"
                     "sf3), min-of-3 subset Bench per run, per-scale "
                     "value = min across the two runs; sf3 = GenScale "
                     f"30x, sf10 = GenScale 100x; data ratio {DATA_RATIO}x"),
        "calibration_medians": cals,
        "runs": runs,
        "per_query": per_query,
        "verdict": verdict(per_query),
    }
    out = f"PROBE_{name}_sf10.json"
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"[probe] wrote {out}")


if __name__ == "__main__":
    main()
