#!/usr/bin/env python3
"""Traffic properties of the generated workloads, computed from the
request lists and the archive alone (no engine):

    python3 perfbench/traffic.py SEED [SEED ...] > perfbench/TRAFFIC.json

Per workload, over the first block of each seed's list (what a run
measures): the share of /image requests that are pan-return repeats and
of catalog requests, the quartiles of points per /image and of rows per
export (from check.py's independent counts), and the archive's bytes on
disk against the harness heap.
"""
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def points(req, arch):
    return sum(check.image_expected(req, arch)[0].values())


def rows(req, arch):
    return sum(check.export_expected(req, arch)[1].values())


def main(seeds):
    out = {"seeds": seeds, "heap_mb": int(run.HEAP[:-1]) * 1024}
    per = {"viewer": {"repeat": [], "catalog": [], "points": []},
           "export": {"rows": []}, "archive_mb": []}
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        for seed in seeds:
            root = os.path.join(d, str(seed))
            hot = gen.write_archive(root, seed)
            per["archive_mb"].append(gen.dir_bytes(root) / 1048576)
            arch = check.Archive(root, hot)
            v = gen.viewer_requests(seed)[:gen.BLOCK["viewer"]]
            imgs = [r for r in v if r["route"] == "image"]
            per["viewer"]["repeat"].append(sum("repeat_of" in r for r in imgs) / len(imgs))
            per["viewer"]["catalog"].append(1 - len(imgs) / len(v))
            per["viewer"]["points"] += [points(r, arch) for r in imgs]
            e = gen.export_requests(seed)[:gen.BLOCK["export"]]
            per["export"]["rows"] += [rows(r, arch) for r in e]
    out["archive_mb_quartiles"] = stats.quartiles(per["archive_mb"])
    out["viewer"] = {
        "pan_return_share": stats.quartiles(per["viewer"]["repeat"])[1],
        "catalog_share": stats.quartiles(per["viewer"]["catalog"])[1],
        "points_per_image_quartiles": stats.quartiles(per["viewer"]["points"]),
    }
    out["export"] = {"rows_per_export_quartiles": stats.quartiles(per["export"]["rows"])}
    json.dump(out, sys.stdout, indent=2)
    print()


if __name__ == "__main__":
    main([int(s) for s in sys.argv[1:]] or list(range(101, 111)))
