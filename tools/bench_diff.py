#!/usr/bin/env python3
"""Compare two Bench per-query JSON outputs and flag drifts.

Usage: bench_diff.py <old.json-or-raw> <new.json-or-raw> [threshold]
       bench_diff.py --headline <bench.json-or-raw>
       bench_diff.py --scale-pair <small.json-or-raw> <large.json-or-raw>

Accepts either the driver's BENCH_r{N}.json wrapper (reads the
`tail` field for the JSON lines) or a raw file containing the two
`{"metric": ...}` lines Bench prints.  Prints per-query old/new/ratio
for every query whose ratio exceeds the threshold (default 1.25) in
either direction, plus totals.

--headline emits the one markdown line STATUS.md quotes as its bench
headline, derived from the committed artifact — round-11 and round-10
both shipped hand-typed headline numbers that drifted from the
artifact; prose generated from the file cannot.

--scale-pair emits the scale-ratio line for a same-code pair of bench
artifacts at two data scales: raw wall ratio AND, when both artifacts
carry window calibration, the calibration-normalized ratio
(large/cal_large)/(small/cal_small) — r16 VERDICT: the headline
scale-pair ratio must come from the measured gauge, not window luck.
"""
import json
import re
import sys


def per_query(path: str) -> dict:
    text = open(path).read()
    try:
        wrapper = json.loads(text)
        if isinstance(wrapper, dict) and "tail" in wrapper:
            text = wrapper["tail"]
    except json.JSONDecodeError:
        pass
    for line in text.splitlines():
        line = line.strip()
        if '"metric":"per_query"' in line.replace(" ", ""):
            m = re.search(r"\{.*\}", line)
            return json.loads(m.group(0))["queries"]
    # Driver artifacts keep only the output TAIL, which truncates the
    # long per_query line mid-way — fall back to the compact final
    # line (total + short-key queries map), which Bench sizes to
    # always survive the tail.
    for line in reversed(lines_of(path).splitlines()):
        line = line.strip()
        if '"metric":"total"' in line.replace(" ", "") and '"queries"' in line:
            m = re.search(r"\{.*\}", line)
            return json.loads(m.group(0))["queries"]
    raise SystemExit(f"no per_query line found in {path}")


def short_keys(queries: dict) -> dict:
    """Normalize query names to their unique qNN/pNN prefix so a
    full-name artifact (BENCH_SELF) can be diffed against a compact
    short-key one (driver tails); collisions keep the full name —
    same rule Bench itself applies when emitting the compact line."""
    pref = {}
    for name in queries:
        pref.setdefault(name.split("_")[0], []).append(name)
    return {(name.split("_")[0] if len(pref[name.split("_")[0]]) == 1
             else name): sec for name, sec in queries.items()}


def align(old: dict, new: dict) -> dict:
    """Pair query keys across the two artifacts: exact matches first,
    then a full-name key on one side pairs with a short qNN/pNN key on
    the other when exactly one unmatched key per side shares that
    prefix. (r16 ADVICE: Bench computes prefix collisions over the
    WHOLE suite including failed queries, short_keys only over the
    artifact's survivors — so after a failure among colliding names
    the two sides can disagree on shortening, and exact matching would
    silently drop the query from `common`.) Returns
    {display_name: (old_key, new_key)}."""
    pairs = {k: (k, k) for k in set(old) & set(new)}
    rem_old, rem_new = {}, {}
    for k in old:
        if k not in pairs:
            rem_old.setdefault(k.split("_")[0], []).append(k)
    for k in new:
        if k not in pairs:
            rem_new.setdefault(k.split("_")[0], []).append(k)
    for p in set(rem_old) & set(rem_new):
        if len(rem_old[p]) == 1 and len(rem_new[p]) == 1:
            ok, nk = rem_old[p][0], rem_new[p][0]
            pairs[max(ok, nk, key=len)] = (ok, nk)
    return pairs


def total_of(path: str) -> dict:
    """The parsed total-metric line of a bench artifact."""
    for line in lines_of(path).splitlines():
        line = line.strip()
        if '"metric":"total"' in line.replace(" ", ""):
            m = re.search(r"\{.*\}", line)
            return json.loads(m.group(0))
    raise SystemExit(f"no total line found in {path}")


def calibration_median(path: str):
    """Window-calibration median from the artifact's total line, or
    None for pre-r16 artifacts that carry no calibration fields."""
    try:
        cal = total_of(path).get("calibration")
    except SystemExit:
        return None
    return cal["median"] if cal else None


def sf_of(total: dict) -> str:
    """The measured sf dir of a total line: inside the run stamp since
    the stamp landed, top-level before."""
    return (total.get("stamp") or {}).get("sf", total.get("sf", "?"))


def cpus_of(path: str):
    """Cores the run used: the artifact wrapper's `cpus`, else the total
    line's run stamp; None for unstamped artifacts."""
    try:
        wrapper = json.loads(open(path).read())
        if isinstance(wrapper, dict) and "cpus" in wrapper:
            return wrapper["cpus"]
    except json.JSONDecodeError:
        pass
    try:
        return (total_of(path).get("stamp") or {}).get("cpus")
    except SystemExit:
        return None


def lines_of(path: str) -> str:
    text = open(path).read()
    try:
        wrapper = json.loads(text)
        if isinstance(wrapper, dict) and "tail" in wrapper:
            text = wrapper["tail"]
    except json.JSONDecodeError:
        pass
    return text


def headline(path: str) -> None:
    d = total_of(path)
    sf = sf_of(d)
    cal = d.get("calibration")
    cal_txt = (f" Window calibration median "
               f"{cal['median']:.3f} s." if cal else "")
    print(f"**Bench ({path}): {d['value']:.3f} s total over "
          f"{d['n_queries']} queries, {d['n_failed']} failed "
          f"(min-of-{d['passes']}, sf dir `{sf}`).**{cal_txt}")


def scale_pair(small_path: str, large_path: str) -> None:
    """Same-code scale-pair ratio, calibration-normalized when both
    artifacts carry the gauge (r16 verdict #2: 0.857→0.801 medians on
    the committed pair is a 7% window shift — raw 1.63× was really
    1.75× on the builder's own gauge; the headline must quote the
    normalized number now that it is measured)."""
    a, b = total_of(small_path), total_of(large_path)
    raw = b["value"] / a["value"]
    ca = (a.get("calibration") or {}).get("median")
    cb = (b.get("calibration") or {}).get("median")
    if ca and cb:
        norm = (b["value"] / cb) / (a["value"] / ca)
        print(f"**Scale pair: {a['value']:.3f} s (sf dir "
              f"`{sf_of(a)}`, calibration {ca:.3f} s) -> "
              f"{b['value']:.3f} s (sf dir `{sf_of(b)}`, "
              f"calibration {cb:.3f} s): raw {raw:.2f}x, "
              f"calibration-normalized {norm:.2f}x.**")
    else:
        missing = ("either side" if not (ca or cb) else
                   small_path if not ca else large_path)
        print(f"**Scale pair: {a['value']:.3f} s (sf dir "
              f"`{sf_of(a)}`) -> {b['value']:.3f} s (sf dir "
              f"`{sf_of(b)}`): raw {raw:.2f}x** "
              f"(no calibration on {missing}; RAW ratio only)")


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__.strip().split("\n\n")[1])
    if sys.argv[1] == "--headline":
        headline(sys.argv[2])
        return
    if sys.argv[1] == "--scale-pair":
        if len(sys.argv) < 4:
            raise SystemExit("--scale-pair needs <small> <large>")
        scale_pair(sys.argv[2], sys.argv[3])
        return
    old_path, new_path = sys.argv[1], sys.argv[2]
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.25
    old, new = short_keys(per_query(old_path)), short_keys(per_query(new_path))
    # Self-calibration (r16): when BOTH artifacts carry the measured
    # window-calibration median, normalize every ratio by the window
    # factor cal_new/cal_old before flagging — a measured gauge, not
    # the suite-median inference that under-corrects for sub-second
    # queries. Pre-r16 artifacts fall back to raw ratios (factor 1).
    cal_old, cal_new = calibration_median(old_path), calibration_median(new_path)
    window = cal_new / cal_old if cal_old and cal_new else 1.0
    if window != 1.0:
        print(f"window calibration: {cal_old:.3f}s -> {cal_new:.3f}s "
              f"(factor {window:.2f}x); ratios below are "
              f"calibration-normalized")
    elif (cal_old is None) != (cal_new is None):
        # r16 ADVICE: a silent raw fallback when exactly one side has
        # the gauge is easy to misread as a normalized comparison
        print(f"note: only {old_path if cal_old else new_path} carries "
              f"calibration; ratios below are RAW")
    cpus_old, cpus_new = cpus_of(old_path), cpus_of(new_path)
    if cpus_old and cpus_new and cpus_old != cpus_new:
        # r18: BENCH_SELF.json silently held an 8-core run next to
        # 32-core artifacts — core count moves every ratio
        print(f"WARNING: cpus differ ({cpus_old} -> {cpus_new}); the "
              f"runs are not comparable query by query")
    pairs = align(old, new)
    common = sorted(pairs)
    drifted = []
    for q in common:
        ok, nk = pairs[q]
        a, b = old[ok], new[nk]
        if a <= 0 or b <= 0:
            continue
        ratio = b / a / window
        if ratio > thr or ratio < 1 / thr:
            drifted.append((q, a, b, ratio))
    drifted.sort(key=lambda x: -x[3])
    for q, a, b, r in drifted:
        print(f"{'SLOWER' if r > 1 else 'faster':6s} {q:28s} "
              f"{a:7.3f}s -> {b:7.3f}s  ({r:.2f}x)")
    matched_old = {ok for ok, _ in pairs.values()}
    matched_new = {nk for _, nk in pairs.values()}
    only_old = sorted(set(old) - matched_old)
    if only_old:
        print(f"dropped queries (old only): {', '.join(only_old)}")
    only_new = sorted(set(new) - matched_new)
    if only_new:
        print(f"new queries: {', '.join(only_new)}")
    tot_old = sum(old[ok] for ok, _ in pairs.values())
    tot_new = sum(new[nk] for _, nk in pairs.values())
    # totals are RAW sums and labeled as such; when the window gauge is
    # active, also give the normalized total ratio so the one footer
    # line never mixes raw numbers with a "(normalized)" drift count
    # unlabeled (r16 ADVICE)
    norm_txt = (f"; total ratio {tot_new / tot_old / window:.2f}x "
                f"normalized" if window != 1.0 and tot_old > 0 else "")
    print(f"== {len(common)} common, {len(drifted)} drifted past "
          f"{thr}x{' (normalized)' if window != 1.0 else ''}; raw totals "
          f"{tot_old:.1f}s -> {tot_new:.1f}s{norm_txt} ==")


if __name__ == "__main__":
    main()
