"""Seeded inputs for the benchmark: the served archive, the pipeline
corpus and the request lists.

Everything here is a pure function of the seed: the archive comes from
a seeded numpy generator (PCG64) written with pyarrow, the corpus from
DuckDB over hash-derived columns (no stateful RNG, so thread scheduling
cannot change a byte), and the request lists from `random.Random`.
"""
import datetime
import hashlib
import json
import math
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# archive shape -------------------------------------------------------------
DAYS = 14
START = "2024-01-01"              # first UTC day of the archive
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z in epoch µs
DAY_S = 86400
USERS = 20000                     # × 5 event types ≈ 100k catalog names
TYPES = ["click", "error", "purchase", "signup", "view"]
HOT = 8                           # densely sampled attributes
STEP_S = 30                       # their sampling period (≈ 320k points)
RAW_CAP = 100_000                 # row cap the raw CSV exports ask for
# requests per measured block: a run sends whole blocks, and one block
# takes longer than a run's seconds (viewer ≈ 16 s, export ≈ 11 s on 4
# cores), so every seed measures the same mix
BLOCK = {"viewer": 20, "export": 20}
CS = "events.cs:10000"


def hot_attributes(seed):
    """The seed's hot set, in popularity order (rank 1 first)."""
    rng = random.Random(f"hot-{seed}")
    users = rng.sample(range(USERS), HOT)
    return [f"u{u}/{rng.choice(TYPES)}" for u in users]


def _con(threads):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET preserve_insertion_order=true")
    return con


def write_archive(root, seed):
    """`root/events.parquet/<day>.parquet`, one file per UTC day, in the
    test data's `events` schema (ts as unadjusted timestamp[us], rows in
    time order). Returns the list of hot attribute names."""
    out = os.path.join(root, "events.parquet")
    os.makedirs(out, exist_ok=True)
    hot = hot_attributes(seed)
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    # per hot attribute: a gap [gs, ge] in 30% of 2-hour blocks and a
    # NaN run of nl seconds at the start of 10% of 3-hour blocks
    n2, n3 = DAYS * 12, DAYS * 8
    has_gap = rng.random((HOT, n2)) < 0.3
    gs = np.where(has_gap, rng.integers(0, 6000, (HOT, n2)), -1)
    ge = np.where(has_gap, gs + 60 + rng.integers(0, 1140, (HOT, n2)), -2)
    nl = np.where(rng.random((HOT, n3)) < 0.1, 60 + rng.integers(0, 540, (HOT, n3)), 0)
    hot_user = np.array([int(n.split("/")[0][1:]) for n in hot])
    hot_type = np.array([TYPES.index(n.split("/")[1]) for n in hot])
    # sparse catalog points: every (user, type) owns one point, a third
    # of them a second one, at a uniform second of the archive
    key = np.arange(USERS * len(TYPES))
    key = np.concatenate([key, key[rng.random(key.size) < 1 / 3]])
    sp_sec = rng.integers(0, DAYS * DAY_S, key.size)
    sp_val = np.round(rng.integers(0, 50000, key.size) / 100.0, 2)
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    types = np.array(TYPES, dtype=object)
    for d in range(DAYS):
        s = d * DAY_S + np.arange(0, DAY_S, STEP_S)
        cols = []
        for a in range(HOT):
            b2 = s // 7200
            keep = ~((s % 7200 >= gs[a, b2]) & (s % 7200 <= ge[a, b2]))
            sa = s[keep]
            v = np.round(100 + 20 * a + 40 * np.sin(sa / (3000.0 + 700 * a))
                         + rng.integers(0, 1000, sa.size) / 100.0, 2)
            v[sa % 10800 < nl[a, sa // 10800]] = np.nan
            cols.append((sa, np.full(sa.size, hot_user[a]), np.full(sa.size, hot_type[a]),
                         v))
        m = (sp_sec >= d * DAY_S) & (sp_sec < (d + 1) * DAY_S)
        cols.append((sp_sec[m], key[m] // len(TYPES), key[m] % len(TYPES), sp_val[m]))
        sec, user, typ, val = (np.concatenate(c) for c in zip(*cols))
        ts = START_US + sec * 1_000_000 + rng.integers(0, 1_000_000, sec.size)
        order = np.argsort(ts, kind="stable")
        ts, user, typ, val = ts[order], user[order], typ[order], val[order]
        table = pa.table({
            "event_id": pa.array(d * 100_000_000 + np.arange(ts.size), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(types[typ], pa.string()),
            "value": pa.array(val, pa.float64()),
            "props": pa.array(props[rng.integers(0, 100, ts.size)], pa.string()),
        })
        pq.write_table(table, os.path.join(out, f"{START[:8]}{d + 1:02d}.parquet"))
    return hot


def archive_digest(root):
    """SHA-256 over the archive's file names and bytes, in name order."""
    h = hashlib.sha256()
    base = os.path.join(root, "events.parquet")
    for name in sorted(os.listdir(base)):
        h.update(name.encode())
        with open(os.path.join(base, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def dir_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


# pipeline corpus -------------------------------------------------------------
VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
LANGS = ["en", "en", "en", "en", "de", "fr", "es", "zh", "zh"]


def write_corpus(root, seed, docs=5000, vecs=2000, events=100000,
                 users=1500, threads=4):
    """`documents`, `embeddings` and `events` as single parquet files,
    shaped like the sf0.1 test tables (31-word vocabulary, 10–100
    words per document, 64-d unit embeddings in 10 labelled clusters,
    30 days of events over 1500 users)."""
    os.makedirs(root, exist_ok=True)
    con = _con(threads)
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    langs = "[" + ",".join(f"'{w}'" for w in LANGS) + "]"
    con.execute(f"""
      COPY (
        SELECT i AS doc_id, text, lang, source, length(text)::BIGINT AS n_chars
        FROM (
          SELECT i,
                 array_to_string(list_transform(
                   range((10 + hash({seed}, i, 'n') % 91)::BIGINT),
                   j -> {vocab}[(1 + hash({seed}, i, j) % {len(VOCAB)})::BIGINT]), ' ') AS text,
                 {langs}[(1 + hash({seed}, i, 'lang') % {len(LANGS)})::BIGINT] AS lang,
                 'src' || (hash({seed}, i, 'src') % 20) AS source
          FROM range({docs}) r(i))
        ORDER BY doc_id
      ) TO '{root}/documents.parquet' (FORMAT parquet)""")
    # Box–Muller from two hash uniforms; cluster centre per label
    con.execute(f"""
      COPY (
        SELECT i AS vec_id,
               list_transform(raw, x -> (x / sqrt(list_sum(list_transform(raw, y -> y * y))))::FLOAT)
                 AS embedding,
               label
        FROM (
          SELECT i, (hash({seed}, i, 'label') % 10)::INT AS label,
                 list_transform(range(64), j ->
                   0.6 * sqrt(-2 * ln((1 + hash({seed}, 'c', hash({seed}, i, 'label') % 10, j) % 1000000) / 1000001.0))
                       * cos(2 * pi() * (hash({seed}, 'c2', hash({seed}, i, 'label') % 10, j) % 1000000) / 1000000.0)
                   + sqrt(-2 * ln((1 + hash({seed}, i, 'u', j) % 1000000) / 1000001.0))
                       * cos(2 * pi() * (hash({seed}, i, 'w', j) % 1000000) / 1000000.0)) AS raw
          FROM range({vecs}) r(i))
        ORDER BY vec_id
      ) TO '{root}/embeddings.parquet' (FORMAT parquet)""")
    types = "[" + ",".join(f"'{t}'" for t in TYPES) + "]"
    con.execute(f"""
      COPY (
        SELECT row_number() OVER (ORDER BY ts, user_id) - 1 AS event_id,
               ts, user_id, event_type, value, props
        FROM (
          SELECT TIMESTAMP '{START}' + to_microseconds((hash({seed}, i, 'ts') % (30 * 86400000000))::BIGINT) AS ts,
                 (hash({seed}, i, 'user') % {users})::BIGINT AS user_id,
                 {types}[(1 + hash({seed}, i, 'type') % 5)::BIGINT] AS event_type,
                 round((hash({seed}, i, 'value') % 56000) / 100.0, 2) AS value,
                 '{{"k": ' || (hash({seed}, i, 'k') % 100) || '}}' AS props
          FROM range({events}) r(i))
        ORDER BY ts, user_id
      ) TO '{root}/events.parquet' (FORMAT parquet)""")
    # the oracle compare opens every test-data table; the listed queries
    # read none of these
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"COPY (SELECT 1 AS unused WHERE false) TO '{root}/{t}.parquet' (FORMAT parquet)")
    con.close()


# request lists ---------------------------------------------------------------
def _iso(us):
    t = datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=us // 1_000_000)
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _window(rng, lo_s, hi_s, u):
    """A [t0, t1] window of log-uniform length, placed uniformly inside
    the archive; whole seconds so the ISO strings are exact."""
    length = int(math.exp(math.log(lo_s) + u * (math.log(hi_s) - math.log(lo_s))))
    start = rng.randrange(0, DAYS * DAY_S - length)
    t0 = START_US + start * 1_000_000
    return t0, t0 + length * 1_000_000


def _zipf_pick(rng, hot, k):
    weights = [1.0 / (r + 1) for r in range(len(hot))]
    chosen = []
    while len(chosen) < k:
        a = rng.choices(hot, weights)[0]
        if a not in chosen:
            chosen.append(a)
    return chosen


def _stratum(rng, i, n):
    """A uniform draw from the i-th of n equal strata of [0, 1)."""
    return (i + rng.random()) / n


# One viewer block's new /image shapes, a fixed table so that every
# seed's block costs about the same: (attributes, y-axes wanted,
# window-length stratum of 10, anti-aliased, log axis).
IMAGE_SHAPES = [(1, 1, 0, False, False), (2, 2, 5, False, False),
                (3, 3, 9, False, False), (4, 1, 2, True, False),
                (5, 2, 7, False, False), (6, 3, 4, False, False),
                (1, 1, 8, False, False), (2, 2, 1, False, True),
                (3, 3, 6, False, False), (4, 1, 3, False, False)]
REPEATED = [0, 3, 6, 9]  # the shapes each block's pan-returns repeat


def _image(rng, hot, shape, i):
    k, axes_wanted, stratum, aa, log = shape
    attrs = _zipf_pick(rng, hot, k)
    n_axes = min(axes_wanted, k)
    axis_of = list(range(n_axes)) + [rng.randrange(n_axes) for _ in range(k - n_axes)]
    rng.shuffle(axis_of)
    t0, t1 = _window(rng, 15 * 60, 7 * DAY_S, _stratum(rng, stratum, 10))
    return {
        "attributes": [{"name": a, "color": "#%06x" % rng.randrange(1 << 24),
                        "y_axis": ax} for a, ax in zip(attrs, axis_of)],
        "time_range": [_iso(t0), _iso(t1)],
        "size": [800 + int(_stratum(rng, i * 7 % 10, 10) * 1121),
                 300 + int(_stratum(rng, i * 3 % 10, 10) * 301)],
        "axes": {str(rng.randrange(n_axes)): {"scale": "log"}} if log else {},
        "antialias": aa,
    }


def viewer_requests(seed, count=400):
    """Closed-loop list in blocks of 20: the ten IMAGE_SHAPES as new /image requests, four pan-return repeats of the
    REPEATED ones (each after its original, sent with its ETag), three
    /attributes glob and three /search substring requests, in a random
    order. Every block has the same mix whatever the seed; the seed
    picks attributes, times, canvases, names and order."""
    rng = random.Random(f"viewer-{seed}")
    hot = hot_attributes(seed)
    reqs = []
    while len(reqs) < count:
        block = [("new", i) for i in range(10)] + [
            ("attributes", n) for n in (2, 3, 3)] + [("search", n) for n in (3, 4, 5)]
        rng.shuffle(block)
        for j in REPEATED:  # somewhere after the original
            after = block.index(("new", j)) + 1
            block.insert(rng.randint(after, len(block)), ("repeat", j))
        first = len(reqs)
        for kind, n in block:
            r = {"id": len(reqs), "route": "image" if kind in ("new", "repeat") else kind}
            if kind == "new":
                r["body"] = _image(rng, hot, IMAGE_SHAPES[n], n)
                r["shape"] = n
            elif kind == "repeat":
                src = next(x for x in reqs[first:] if x.get("shape") == n)
                r.update(body=src["body"], repeat_of=src["id"])
            elif kind == "attributes":
                u = str(rng.randrange(1, USERS))
                r["query"] = {"cs": CS, "search": f"events/stream/u{u[:n]}*/{rng.choice(TYPES + ['*'])}",
                              "max": rng.choice([50, 100, 200])}
            else:
                u = str(rng.randrange(10000, USERS))
                r["body"] = {"cs": CS, "target": "u" + u[:n] + rng.choice(["", "/"])}
            reqs.append(r)
    return reqs


# One export block, a fixed table per kind of (targets, range-length
# stratum[, interval]) so that every seed's block costs about the same.
EXPORT_SHAPES = {
    "json": [(1, 3, "1m"), (2, 7, "2m"), (3, 1, "5m"), (4, 9, "10m"), (5, 5, "15m"),
             (6, 0, "30m"), (7, 8, "1h"), (8, 2, "1m"), (2, 6, "5m"), (5, 4, "15m")],
    "csv": [(1, 5), (2, 2), (4, 0), (5, 3), (7, 1), (8, 4)],
    "http": [(1, 0), (2, 2), (3, 1), (2, 3)],
}


def export_requests(seed, count=400):
    """Closed-loop list in blocks of 20: the ten "json"
    EXPORT_SHAPES as Grafana JSON with an interval over 1-14 days, the
    six "csv" as raw CSV over 1-14 days capped at RAW_CAP rows, the four
    "http" as /httpquery over 1 h-1 day, in a random order."""
    rng = random.Random(f"export-{seed}")
    hot = hot_attributes(seed)
    reqs = []
    while len(reqs) < count:
        block = [(k, shape) for k, shapes in EXPORT_SHAPES.items() for shape in shapes]
        rng.shuffle(block)
        for kind, shape in block:
            attrs = _zipf_pick(rng, hot, shape[0])
            u = _stratum(rng, shape[1], len(EXPORT_SHAPES[kind]))
            r = {"id": len(reqs)}
            if kind == "http":
                t0, t1 = _window(rng, 3600, DAY_S, u)
                r.update(route="httpquery", csv=False,
                         body={"attributes": attrs, "time_range": [_iso(t0), _iso(t1)]})
            else:
                t0, t1 = _window(rng, DAY_S, DAYS * DAY_S - 1, u)
                body = {"targets": [{"target": a} for a in attrs],
                        "range": {"from": _iso(t0), "to": _iso(t1)}}
                if kind == "json":
                    body["interval"] = shape[2]
                else:  # wide raw ranges hit the cap: the time-first top-k path
                    body["max"] = RAW_CAP
                r.update(route="query", csv=(kind == "csv"), body=body)
            reqs.append(r)
    return reqs


# the pipeline list, in the order the seed permutes
PIPELINE = ["p02", "p16", "p20", "p65", "p13", "p15", "p38", "p44", "p67",
            "p72", "p74", "p33", "p42", "p47", "p70", "p17", "p46", "p24",
            "p60", "q32", "q34"]


def pipeline_order(seed):
    order = list(PIPELINE)
    random.Random(f"pipeline-{seed}").shuffle(order)
    return order


def write_requests(path, reqs):
    with open(path, "w") as f:
        for r in reqs:
            f.write(json.dumps(r, sort_keys=True) + "\n")


def warmup_requests(seed):
    """Set-up traffic over one-hour windows: one request of every route,
    and a second /image with three axes, a log axis and anti-aliasing,
    so the plan shapes the lists use are compiled before timing."""
    hot = hot_attributes(seed)
    t0 = START_US + 3 * DAY_S * 1_000_000
    hour = [_iso(t0), _iso(t0 + 3600 * 1_000_000)]
    img = {"attributes": [{"name": hot[0], "color": "#ff0000", "y_axis": 0},
                          {"name": hot[1], "color": "#00ff00", "y_axis": 0}],
           "time_range": hour, "size": [1000, 400], "axes": {}, "antialias": False}
    img3 = {"attributes": [{"name": hot[i], "color": "#0000ff", "y_axis": i} for i in range(3)],
            "time_range": hour, "size": [1000, 400], "axes": {"2": {"scale": "log"}},
            "antialias": True}
    q = {"targets": [{"target": hot[0]}, {"target": hot[2]}],
         "range": {"from": hour[0], "to": hour[1]}}
    return [
        {"id": 0, "route": "health"},
        {"id": 1, "route": "controlsystems"},
        {"id": 2, "route": "attributes", "query": {"cs": CS, "search": "events/stream/u12*/click", "max": 100}},
        {"id": 3, "route": "search", "body": {"cs": CS, "target": "u123/"}},
        {"id": 4, "route": "image", "body": img},
        {"id": 5, "route": "image", "body": img3},
        {"id": 6, "route": "query", "csv": False, "body": dict(q, interval="5m")},
        {"id": 7, "route": "query", "csv": True, "body": dict(q, max=RAW_CAP)},
        {"id": 8, "route": "httpquery", "csv": False,
         "body": {"attributes": [hot[3]], "time_range": hour}},
    ]
