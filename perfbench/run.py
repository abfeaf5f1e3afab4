#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload viewer|export|pipeline \
        --seed N --seconds S --trace 0|1

Builds the JVM harness (perfbench/build.sbt, which compiles the engine's
own sources next to it) when the sources changed, generates the seeded
inputs, runs the workload in one JVM (`perfbench.Main`), checks every
output independently, and prints, as the last line of standard output,
one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it carries the run conditions and the detail behind
the metrics. Exits non-zero, without a result line, if the harness
cannot be built or run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
HEAP = "3g"
# the whole run, build excluded; the pipeline (run by hand) takes longer
DEADLINE_S = {"viewer": 170, "export": 170, "pipeline": 900}

E2E = {  # name -> unit
    "setup_s": "s",
    "mean_ms": "ms",
    "cpu_ms_per_op": "ms",
    "heap_retained_mb": "MB",
}

PER_LAYER = [
    ("server.self_ms_per_image", "ms"), ("server.self_ms_per_export", "ms"),
    ("server.wire_bytes_per_image", "bytes"), ("server.wire_bytes_per_export", "bytes"),
    ("server.not_modified_share", "share"), ("server.status_4xx", "count"),
    ("server.status_5xx", "count"),
    ("api.image_ms", "ms"), ("api.export_ms", "ms"), ("api.catalog_ms", "ms"),
    ("spark.jobs_per_image", "count"), ("spark.jobs_per_export", "count"),
    ("spark.jobs_per_catalog", "count"),
    ("spark.task_cpu_ms_per_image", "ms"), ("spark.task_cpu_ms_per_export", "ms"),
    ("spark.shuffle_bytes_per_image", "bytes"), ("spark.shuffle_bytes_per_export", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.gc_ms", "ms"), ("spark.task_skew", "ratio"),
    ("sources.files_read_per_image", "count"), ("sources.rows_scanned_per_image", "count"),
    ("sources.rows_scanned_per_point", "ratio"),
    ("sources.rows_scanned_per_export_row", "ratio"), ("sources.scan_ms_per_image", "ms"),
    ("operators.extrema_ms_per_image", "ms"), ("operators.lines_ms_per_image", "ms"),
    ("plans.hover_ms_per_image", "ms"), ("operators.catalog_ms", "ms"),
    ("render.driver_ms_per_image", "ms"), ("render.driver_ms_per_export", "ms"),
    ("cache.persisted_bytes_peak", "bytes"), ("cache.catalog_loads", "count"),
    ("harness.calibration_s", "s"), ("trace.overhead_share", "share"),
    ("trace.attributed_share", "share"),
]

# the pipeline workload's own layers (it is run by hand, see README.md)
PIPELINE_LAYER = [
    ("pipeline.dedup_s", "s"), ("pipeline.similarity_s", "s"),
    ("pipeline.retrieval_s", "s"), ("pipeline.text_s", "s"),
    ("pipeline.sampling_s", "s"), ("pipeline.multimodal_s", "s"),
    ("pipeline.streaming_s", "s"),
] + [(f"pipeline.{q}_s", "s") for q in gen.PIPELINE] + [
    ("spark.jobs_per_pipeline_query", "count"), ("spark.shuffle_bytes_pipeline", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.gc_ms", "ms"), ("spark.task_skew", "ratio"),
    ("cache.persisted_bytes_peak", "bytes"), ("harness.calibration_s", "s"),
    ("trace.overhead_share", "share"),
]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources (src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest:
            return s["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    p = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")][-1]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def git_revision():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# -------------------------------------------------------------------- run

def run_jvm(cp, args, work, timeout):
    log_path = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    cmd = (["java", f"-Xmx{HEAP}", *ADD_OPENS,
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"harness JVM exited with {rc}")


def serve_metrics(res, reqs, arch, trace):
    """Checks every answer; returns (problems, detail, metrics,
    attempted, failed). A timed run sends whole blocks of the request
    list, so every seed's sample has the same mix."""
    names = check.all_names()
    by_id = {r["id"]: r for r in reqs}
    routes, problems, ok = {}, [], {}
    for rec in res["requests"]:
        req = by_id[int(rec["id"])]
        outcome, errs = check.check_request(rec, req, arch, names)
        c = routes.setdefault(req["route"], dict.fromkeys(("attempted", "ok", "failed", "refused"), 0))
        c["attempted"] += 1
        c[outcome] += 1
        problems += [f"{rec['phase']} {req['route']} #{req['id']}: {e}" for e in errs]
        ok[id(rec)] = outcome == "ok"
    done = [r for r in res["requests"] if r["phase"] in ("timed", "untraced")]
    lat = {"image": [], "catalog": [], "export": []}
    points, rows, repeats, images = [], [], 0, 0
    for rec in done:
        req = by_id[int(rec["id"])]
        kind = {"image": "image", "attributes": "catalog", "search": "catalog"}.get(
            req["route"], "export")
        lat[kind].append(rec["latency_ms"] if ok[id(rec)] else float("inf"))
        if kind == "image":
            images += 1
            repeats += "repeat_of" in req
            if rec["status"] == 200:
                points.append(rec["points"])
        elif kind == "export" and ok[id(rec)]:
            rows.append(rec["rows"])
    primary = lat["image"] + lat["catalog"] + lat["export"]
    detail = {
        "routes": routes,
        "image_p50_ms": stats.percentile_or_none(lat["image"], 0.5),
        "image_p95_ms": stats.percentile_or_none(lat["image"], 0.95),
        "catalog_p50_ms": stats.percentile_or_none(lat["catalog"], 0.5),
        "catalog_p95_ms": stats.percentile_or_none(lat["catalog"], 0.95),
        "export_p50_ms": stats.percentile_or_none(lat["export"], 0.5),
        "export_p95_ms": stats.percentile_or_none(lat["export"], 0.95),
        "p50_ms": stats.percentile_or_none(primary, 0.5),
        "samples": {k: len(v) for k, v in lat.items()},
        "export_rows_s": sum(rows) / res["window_s"] if rows else None,
        "traffic": {
            "pan_return_share": repeats / images if images else None,
            "points_per_image_quartiles": stats.quartiles(points),
            "rows_per_export_quartiles": stats.quartiles(rows),
        },
    }
    metrics = {} if trace else {
        "mean_ms": sum(primary) / len(primary),
        "cpu_ms_per_op": res["cpu_s"] * 1000 / len(done),
    }
    return problems, detail, metrics, len(done), sum(not ok[id(r)] for r in done)


def oracle_check(work, corpus):
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                        os.path.join(work, "pipeline_out"), corpus],
                       capture_output=True, text=True, timeout=120)
    fails = [ln for ln in p.stdout.splitlines() if ln.startswith("FAIL")]
    if p.returncode != 0 and not fails:
        fails = [f"oracle_check exited {p.returncode}: {p.stderr[-500:]}"]
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["viewer", "export", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = ensure_build()
    t0 = time.time()  # set-up starts here: the build is not part of a run
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(a, cp, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, cp, work, t0):
    jargs = ["--mode", a.workload, "--trace", str(a.trace), "--seconds", str(a.seconds),
             "--work", work, "--out", os.path.join(work, "result.json")]
    if a.workload == "pipeline":
        corpus, warm = os.path.join(work, "corpus"), os.path.join(work, "warm")
        gen.write_corpus(corpus, a.seed)
        gen.write_corpus(warm, a.seed + 1_000_003, docs=300, vecs=200, events=5000, users=100)
        order = gen.pipeline_order(a.seed)
        jargs += ["--corpus", corpus, "--warm-corpus", warm, "--order", ",".join(order)]
        input_bytes = gen.dir_bytes(corpus)
        reqs = None
    else:
        archive = os.path.join(work, "archive")
        hot = gen.write_archive(archive, a.seed)
        reqs = (gen.viewer_requests(a.seed) if a.workload == "viewer"
                else gen.export_requests(a.seed))
        gen.write_requests(os.path.join(work, "requests.jsonl"), reqs)
        gen.write_requests(os.path.join(work, "warmup.jsonl"), gen.warmup_requests(a.seed))
        jargs += ["--block", str(gen.BLOCK[a.workload]),
                  "--archive", archive, "--requests", os.path.join(work, "requests.jsonl"),
                  "--warmup", os.path.join(work, "warmup.jsonl")]
        input_bytes = gen.dir_bytes(archive)
    gen_s = time.time() - t0
    run_jvm(cp, jargs, work, DEADLINE_S[a.workload] - (time.time() - T_START))
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    if a.workload == "pipeline":
        problems = oracle_check(work, corpus)
        times = [ms for p in res["passes"] for _, ms in p]
        metrics = {"mean_ms": sum(times) / len(times),
                   "cpu_ms_per_op": res["cpu_s"] * 1000 / len(times)}
        detail = {"p50_ms": stats.percentile_or_none(times, 0.5),
                  "pipeline_s": [sum(ms for _, ms in p) / 1000 for p in res["passes"]],
                  "queries": {q: ms for q, ms in res["passes"][0]}}
        attempted, failed = len(times), len(problems)
    else:
        arch = check.Archive(archive, hot)
        problems, detail, metrics, attempted, failed = serve_metrics(res, reqs, arch, a.trace)

    setup_s = gen_s + res["session_s"] + stats.quartiles(res["setup_runs_s"])[1]
    metrics.update(setup_s=setup_s, heap_retained_mb=res["heap_retained_mb"])
    stamp = dict(res["stamp"], seed=a.seed, workload=a.workload, trace=a.trace,
                 git_revision=git_revision(), input_bytes_on_disk=input_bytes,
                 input_share_of_heap=input_bytes / (res["stamp"]["xmx_mb"] * 1048576),
                 generate_s=gen_s, session_s=res["session_s"],
                 setup_runs_s=res["setup_runs_s"], window_s=res["window_s"])
    layers = res.get("layers", {})
    if a.trace:
        cal = res["stamp"]["calibration_s"]
        layers["harness.calibration_s"] = stats.quartiles(cal)[1] if cal else 0.0
        names = PIPELINE_LAYER if a.workload == "pipeline" else PER_LAYER
        out = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names}
    else:
        out = {n: {"value": metrics[n], "unit": u} for n, u in E2E.items()}
    for n, m in out.items():
        if not math.isfinite(m["value"]):  # a miss at the reported rank
            problems.append(f"metric {n} is {m['value']}")
            m["value"] = sys.float_info.max
    for p in problems[:20]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"stamp": stamp, "detail": detail, "problems": problems[:50]}))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
