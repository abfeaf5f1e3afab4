#!/usr/bin/env python3
"""Self-test for bench_diff.py — the cross-round comparison tool is
load-bearing (round-16 added calibration normalization and the
driver-tail fallback, and the round-17 window comparison will lean on
both), so its parsing contracts are pinned here.

Run: python3 tools/test_bench_diff.py   (prints OK or raises)
"""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_diff  # noqa: E402


def write(tmpdir: str, name: str, text: str) -> str:
    path = os.path.join(tmpdir, name)
    with open(path, "w") as f:
        f.write(text)
    return path


FULL = (
    '{"metric":"total","value":2.000,"unit":"sec","n_queries":2,'
    '"n_failed":0,"passes":3,"agg":"min","calibration":{"points":'
    '[0.9,1.0,1.1,1.0],"median":1.000,"rows":4294967296},"sf":"x"}\n'
    '{"metric":"per_query","unit":"sec","queries":'
    '{"q01_scan_project":0.500,"p55_split_leakage":1.500},'
    '"errors":{},"sf":"x"}\n'
)

# a driver-style artifact: tail TRUNCATES the per_query line mid-way,
# compact final line (short keys + calibration) survives
DRIVER = json.dumps({
    "n": 99, "rc": 0,
    "tail": (
        ',"q44_x":1.0},"errors":{},"sf":"x"}\n'
        '{"metric":"total","value":3.000,"unit":"sec","n_queries":2,'
        '"n_failed":0,"passes":3,"agg":"min","calibration":{"points":'
        '[1.9,2.0,2.1,2.0],"median":2.000,"rows":4294967296},"sf":"x",'
        '"queries":{"q01":1.000,"p55":3.000},"errors":{}}\n'
    ),
})

PRE_R16 = (
    '{"metric":"total","value":2.000,"unit":"sec","n_queries":2,'
    '"n_failed":0,"passes":3,"agg":"min","sf":"x"}\n'
    '{"metric":"per_query","unit":"sec","queries":'
    '{"q01_scan_project":0.500,"p55_split_leakage":1.500},'
    '"errors":{},"sf":"x"}\n'
)


def main() -> None:
    with tempfile.TemporaryDirectory() as d:
        full = write(d, "full.json", FULL)
        driver = write(d, "driver.json", DRIVER)
        pre = write(d, "pre.json", PRE_R16)

        # full per_query line parses with full names
        q = bench_diff.per_query(full)
        assert q == {"q01_scan_project": 0.5, "p55_split_leakage": 1.5}, q

        # driver tail falls back to the compact short-key line
        q = bench_diff.per_query(driver)
        assert q == {"q01": 1.0, "p55": 3.0}, q

        # short_keys maps full names to unique prefixes, keeps
        # colliding names full, and is a no-op on already-short keys
        s = bench_diff.short_keys(
            {"q01_scan_project": 0.5, "p55_split_leakage": 1.5})
        assert s == {"q01": 0.5, "p55": 1.5}, s
        s = bench_diff.short_keys({"q01_a": 1.0, "q01_b": 2.0})
        assert s == {"q01_a": 1.0, "q01_b": 2.0}, s
        s = bench_diff.short_keys({"q01": 1.0, "p55": 3.0})
        assert s == {"q01": 1.0, "p55": 3.0}, s

        # calibration median: present on both new formats, None pre-r16
        assert bench_diff.calibration_median(full) == 1.0
        assert bench_diff.calibration_median(driver) == 2.0
        assert bench_diff.calibration_median(pre) is None

        # normalization math end-to-end: driver times are 2x full's,
        # calibration factor is also 2x -> normalized ratio 1.0, so
        # NOTHING drifts past 1.25; without calibration (pre-r16 old
        # side) the raw 2x ratios DO drift
        import io
        import contextlib

        def run(old, new):
            buf = io.StringIO()
            argv = sys.argv
            sys.argv = ["bench_diff.py", old, new, "1.25"]
            try:
                with contextlib.redirect_stdout(buf):
                    bench_diff.main()
            finally:
                sys.argv = argv
            return buf.getvalue()

        out = run(full, driver)
        assert "factor 2.00x" in out, out
        assert "2 common, 0 drifted" in out, out
        # footer semantics (r16 ADVICE): totals labeled raw, plus the
        # normalized total ratio when the gauge is active
        assert "raw totals" in out, out
        assert "total ratio 1.00x normalized" in out, out
        out = run(pre, driver)
        assert "factor" not in out, out
        assert "2 common, 2 drifted" in out, out
        # one-sided calibration is called out, not silently raw
        assert "carries calibration; ratios below are RAW" in out, out

        # align (r16 ADVICE): a full-name key on one side pairs with
        # its short prefix on the other (Bench shortens over the whole
        # suite incl. failures; short_keys only over survivors), and
        # old-only keys are REPORTED instead of silently dropped
        pairs = bench_diff.align({"q01": 1.0, "p55_split_leakage": 2.0},
                                 {"q01_scan": 1.0, "p55": 2.0})
        assert pairs == {"q01_scan": ("q01", "q01_scan"),
                         "p55_split_leakage": ("p55_split_leakage", "p55")}, pairs
        # ambiguous prefixes (two unmatched keys one side) do NOT pair
        pairs = bench_diff.align({"q01_a": 1.0, "q01_b": 2.0}, {"q01": 1.0})
        assert pairs == {}, pairs
        gone = write(d, "gone.json", FULL.replace(
            '"q01_scan_project":0.500,', ""))
        out = run(full, gone)
        assert "dropped queries (old only): q01" in out, out

        # --scale-pair: raw AND calibration-normalized ratios from the
        # total lines (driver has 2x the total at 2x the calibration ->
        # normalized 1.00x)
        def run_pair(a, b):
            buf = io.StringIO()
            argv = sys.argv
            sys.argv = ["bench_diff.py", "--scale-pair", a, b]
            try:
                with contextlib.redirect_stdout(buf):
                    bench_diff.main()
            finally:
                sys.argv = argv
            return buf.getvalue()

        out = run_pair(full, driver)
        assert "raw 1.50x" in out, out
        assert "calibration-normalized 0.75x" in out, out
        out = run_pair(pre, driver)
        assert "raw 1.50x" in out and "RAW ratio only" in out, out

        # run stamp: a stamped total line carries cpus and the sf dir;
        # differing cpus (stamp vs the wrapper's field) warn,
        # equal or unknown cpus do not
        stamped = write(d, "stamped.json", FULL.replace(
            '"rows":4294967296},"sf":"x"}',
            '"rows":4294967296},"stamp":{"cpus":8,"xmx":"-Xmx4g",'
            '"git":"abc","sf":"y"}}', 1))
        assert bench_diff.cpus_of(stamped) == 8
        assert bench_diff.sf_of(bench_diff.total_of(stamped)) == "y"
        assert bench_diff.cpus_of(full) is None
        assert bench_diff.cpus_of(driver) is None
        out = run(stamped, driver)
        assert "cpus differ" not in out, out
        wrapped = write(d, "wrapped.json", json.dumps(
            dict(json.loads(DRIVER), cpus=32)))
        assert bench_diff.cpus_of(wrapped) == 32
        out = run(stamped, wrapped)
        assert "WARNING: cpus differ (8 -> 32)" in out, out
        out = run(wrapped, wrapped)
        assert "cpus differ" not in out, out
    print("OK: bench_diff self-test passed")


if __name__ == "__main__":
    main()
