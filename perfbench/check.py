"""Output checks, computed from the generated files by this module's own
code (pyarrow + numpy), never through the engine."""
import datetime
import fnmatch
import os

import numpy as np
import pyarrow.dataset as ds

import gen

CAP = 1_000_000  # the server's raw-render row cap, when a request sets none


def _us(iso):
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S")
    return int((t - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


class Archive:
    """The hot attributes' points, read straight from the parquet files:
    per attribute, sorted epoch-µs timestamps and a NaN mask."""

    def __init__(self, root, hot):
        data = ds.dataset(os.path.join(root, "events.parquet"), format="parquet")
        users = [int(n.split("/")[0][1:]) for n in hot]
        t = data.to_table(columns=["ts", "user_id", "event_type", "value"],
                          filter=ds.field("user_id").isin(users))
        ts = t.column("ts").cast("int64").to_numpy()
        user = t.column("user_id").to_numpy()
        typ = np.array(t.column("event_type").to_pylist(), dtype=object)
        val = t.column("value").to_numpy()
        self.series = {}
        for name in hot:
            u, e = name.split("/")
            m = (user == int(u[1:])) & (typ == e)
            order = np.argsort(ts[m], kind="stable")
            self.series[name] = (ts[m][order], np.isnan(val[m][order]))

    def window(self, name, t0, t1):
        ts, nan = self.series[name]
        lo, hi = np.searchsorted(ts, t0, "left"), np.searchsorted(ts, t1, "right")
        return ts[lo:hi], nan[lo:hi]


def all_names():
    return sorted(f"events/stream/u{u}/{t}" for u in range(gen.USERS) for t in gen.TYPES)


def image_expected(req, arch):
    """Hover totals per attribute that has data, and the axes that
    therefore draw: an all-NaN or empty window draws nothing."""
    body = req["body"]
    t0, t1 = (_us(x) for x in body["time_range"])
    totals, axes = {}, set()
    for a in body["attributes"]:
        ts, nan = arch.window(a["name"], t0, t1)
        if (~nan).any():
            totals[a["name"]] = len(ts)
            axes.add(str(a["y_axis"]))
    return totals, axes


def check_image(rec, req, arch):
    """200: one decodable PNG of the requested size per axis that has
    data, and hover totals equal to the independent point counts.
    304: only for a pan-return repeat sent with its ETag."""
    if rec["status"] == 304:
        return [] if rec["etag_sent"] else ["304 without If-None-Match"]
    w, h = req["body"]["size"]
    want_totals, want_axes = image_expected(req, arch)
    errs = []
    axes = rec.get("axes", {})
    if set(axes) != want_axes:
        errs.append(f"axes {sorted(axes)} != {sorted(want_axes)}")
    errs += [f"axis {k} png {v} != {[w, h]}" for k, v in axes.items() if v != [w, h]]
    got = {k: int(v) for k, v in rec.get("totals", {}).items()}
    if got != want_totals:
        errs.append(f"hover totals {got} != {want_totals}")
    return errs


def export_expected(req, arch):
    """Target names in request order, and each one's independent row
    count: distinct resample buckets with an interval; points in range
    without, up to the time-first cap."""
    body = req["body"]
    if req["route"] == "query":
        names = [x["target"] for x in body["targets"]]
        t0, t1 = _us(body["range"]["from"]), _us(body["range"]["to"])
    else:
        names = body["attributes"]
        t0, t1 = (_us(x) for x in body["time_range"])
    interval = body.get("interval")
    if interval:
        d = {"m": 60, "h": 3600}[interval[-1]] * int(interval[:-1]) * 1_000_000
        return names, {n: len(np.unique((arch.window(n, t0, t1)[0] + d // 2) // d))
                       for n in names}
    wins = {n: arch.window(n, t0, t1)[0] for n in names}
    cap = min(int(body.get("max", CAP)), CAP)
    if sum(len(x) for x in wins.values()) <= cap:
        return names, {n: len(x) for n, x in wins.items()}
    t_cap = np.partition(np.concatenate(list(wins.values())), cap - 1)[cap - 1]
    return names, {n: int(np.searchsorted(x, t_cap, "right")) for n, x in wins.items()}


def check_export(rec, req, arch):
    """One non-empty series per target, in request order, with the
    independent row count."""
    names, want = export_expected(req, arch)
    got = [(s[0], int(s[1])) for s in rec.get("series", [])]
    errs = []
    if [g[0] for g in got] != names:
        errs.append(f"series {[g[0] for g in got]} != targets {names}")
    if any(n == 0 for _, n in got):
        errs.append("empty series")
    if dict(got) != want:
        errs.append(f"rows {dict(got)} != {want}")
    return errs


def check_catalog(rec, req, names):
    if req["route"] == "attributes":
        q = req["query"]
        pat = q["search"].lower()
        want = [n for n in names if fnmatch.fnmatchcase(n.lower(), pat)][:int(q["max"])]
    else:
        term = req["body"]["target"].lower()
        want = [n for n in names if term in n.lower()]
    got = rec.get("names", [])
    return [] if got == want else [f"{len(got)} names != expected {len(want)}"]


def check_request(rec, req, arch, names):
    """Classify one record: 'ok', 'refused' (4xx) or 'failed' (5xx,
    exception, no answer, or a wrong answer), with the reasons."""
    if rec["error"] is not None or rec["end_ms"] is None:
        return "failed", [rec["error"] or "no answer"]
    s = rec["status"]
    if 400 <= s < 500:
        return "refused", [f"status {s}"]
    if s not in (200, 304) or (s == 304 and req["route"] != "image"):
        return "failed", [f"status {s}"]
    route = req["route"]
    if route == "image":
        errs = check_image(rec, req, arch)
    elif route in ("query", "httpquery"):
        errs = check_export(rec, req, arch)
    elif route in ("attributes", "search"):
        errs = check_catalog(rec, req, names)
    else:
        errs = []
    return ("failed" if errs else "ok"), errs
