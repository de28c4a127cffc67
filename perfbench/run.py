#!/usr/bin/env python3
"""Benchmark of the engine's two streaming pipelines and its query suite.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (README.md says why each exists):

* pipelines   -- an open loop: before each 10 s trigger one seeded Velox-layout
  spectrum-image file lands for HyperspectralPipeline.start (with
  Emd.parseFiles and a quarantine directory) and one uint16 video for
  SpatiotemporalPipeline.start, each in its own watched directory.
* query_suite -- one client in a closed loop over seeded orders of the
  queries named in expected_sf0.01.tsv, a fixed per-module subset of
  SparkEntry.defs.

The first run builds the engine and the runner with sbt into `.bench_build/`
(rebuilt whenever a source changes). Each run prints human-readable lines and,
as its last line, one JSON object: end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`. Traced runs also write their spans to
`.bench_out/spans-<workload>-seed<seed>.jsonl`.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)

import benchmath  # noqa: E402
import emdsynth  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
JVM_DEADLINE_S = 165  # a run must end within 180 s once built
# the engine's heap knob (build.sbt reads SPARK_DRIVER_MEM, default 16g),
# pinned so that runs do not depend on the caller's environment: 8 GB, the heap
# the paper-size sizing assumes, which a 16 GB host can still give
DRIVER_MEM = "8g"
SF_DIR = "/root/testdata/sf0.01"
EXPECTED = os.path.join(BENCH, "expected_sf0.01.tsv")

# input dims per pipeline, for the warm-up file and the timed ones; BASELINE's
# files are 95.8 MB (256x256x730) and 1.30 GB
PIPELINES = {"hyperspectral": (64, 64, 730), "spatiotemporal": (32, 128, 128)}
WORKLOADS = ["pipelines", "query_suite"]
# the same end-to-end metrics for every workload; an op is a file or a query
E2E_METRICS = [("setup_s", "s"), ("latency_p50_s", "s"), ("ops_per_s", "1/s"),
               ("alloc_mb_per_op", "MB"), ("ops_ok_ratio", "ratio")]
MODULES = ["queries", "flows", "catalog", "signals", "text", "dedup", "sim",
           "multimodal", "stream", "pipelines", "layout"]

def log(msg):
    print(msg, flush=True)


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr, flush=True)
    sys.exit(code)


# -- build ---------------------------------------------------------------------

def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    for top in (os.path.join(ROOT, "src", "main"), BENCH):
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project") or d != os.path.join(BENCH, "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties")) or "META-INF" in d]
    return sorted(set(files))


def build():
    """Compile engine + runner with sbt when any source changed; return the
    classpath and the engine's own JVM options (its `javaOptions`)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout: build.sbt and src/main/scala not found", 2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "javaopts.json")
    if all(map(os.path.exists, (stamp_file, cp_file, opts_file))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g, open(opts_file) as o:
                    return g.read().strip(), json.load(o)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, out = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath", "show Runtime/javaOptions"], BENCH, env, 840,
                         os.path.join(BUILD, "build.log"))
    cp = [line for line in out.splitlines() if line.startswith("/")]
    java_opts = [line[len("[info] * "):] for line in out.splitlines() if line.startswith("[info] * ")]
    if code != 0 or not cp or not java_opts:
        fail("build failed (exit %s), see .bench_build/build.log" % code, 3)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(opts_file, "w") as f:
        json.dump(java_opts, f)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("build: %.1f s" % (time.time() - t0))
    return cp[-1], java_opts


def run_proc(cmd, cwd, env, timeout, log_path):
    """Run a child in its own process group; kill the group on timeout."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return "timeout", ""
    return p.returncode, out


# -- one run -------------------------------------------------------------------

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def launch(build_out, work, args):
    cp, java_opts = build_out
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + java_opts
           + ["-Dspark.callstack.depth=40", "-Djava.io.tmpdir=" + tmp,
              "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
              "-cp", cp, "perfbench.Runner"] + [str(a) for a in args])
    code, _ = run_proc(cmd, work, dict(os.environ), JVM_DEADLINE_S, os.path.join(work, "jvm.log"))
    if code != 0:
        fail("runner failed (exit %s), see %s" % (code, os.path.join(work, "jvm.log")))
    with open(os.path.join(work, "events.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def by_type(events):
    out = {}
    for e in events:
        out.setdefault(e["t"], []).append(e)
    return out


def epoch_ms(iso):
    return datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def setup_s(ev):
    """JVM start to the end of the warm-up: the first timed operation follows."""
    return (ev["warmup"][0]["end_ms"] - ev["session"][0]["jvm_start_ms"]) / 1000.0


# -- pipelines -----------------------------------------------------------------

def read_table(path):
    import pyarrow.dataset as ds
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def java_hash(s):
    """java.lang.String.hashCode of an ASCII string, as an unsigned 32-bit value."""
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h


def check_files(kind, run_dir, files):
    """Output checks of one pipeline's run; returns {file id: [failed checks]}."""
    import pyarrow.compute as pc
    bad = {r["id"]: [] for r in files}
    cat = read_table(os.path.join(run_dir, "catalog"))
    docs = {}
    if cat is not None:
        for subj, fs in zip(cat.column("subject").to_pylist(), cat.column("files").to_pylist()):
            docs.setdefault(os.path.basename(subj)[:-len(".emd")], []).append(fs[0]["sha256"] if fs else None)
    quarantined = read_table(os.path.join(run_dir, "quarantine"))
    qpaths = set(quarantined.column("path").to_pylist()) if quarantined is not None else set()
    for r in files:
        if docs.get(r["id"]) != [r["sha256"]]:
            bad[r["id"]].append("catalog_doc")
        if any(p.endswith("/" + r["id"] + ".emd") for p in qpaths):
            bad[r["id"]].append("quarantined")
    out = os.path.join(run_dir, "out")
    if kind == "hyperspectral":
        # FIXTURES F1: spectrum and intensity map each sum to the cube's sum
        for name, col in (("spectrum", "counts"), ("intensity", "intensity")):
            t = read_table(os.path.join(out, name))
            sums = {}
            if t is not None:
                for eid, v in zip(t.column("experiment_id").to_pylist(), t.column(col).to_pylist()):
                    sums[eid] = sums.get(eid, 0) + v
            for r in files:
                if sums.get(r["id"]) != r["cube_sum"]:
                    bad[r["id"]].append(name + "_sum")
    else:
        frames = read_table(os.path.join(out, "frames_u8"))
        det = read_table(os.path.join(out, "detections"))
        det_ids = det.column("media_id").to_pylist() if det is not None else []
        for r in files:
            t, x, y = r["shape"]
            f = frames.filter(pc.equal(frames["experiment_id"], r["id"])) if frames is not None else None
            if f is None or f.num_rows != t * x * y:
                bad[r["id"]].append("frames_rows")
            elif pc.min(f["v8"]).as_py() < 0 or pc.max(f["v8"]).as_py() > 255:
                bad[r["id"]].append("frames_range")
            # one detection row per frame; media_id packs (experiment hash, frame)
            want = sorted(((java_hash(r["id"]) & 0x7FFFFFFF) << 16) | k for k in range(t))
            if sorted(m for m in det_ids if m >> 16 == java_hash(r["id"]) & 0x7FFFFFFF) != want:
                bad[r["id"]].append("detections")
    return bad


def file_batches(work):
    """(pipeline, file id) -> the batch that wrote the file's rows, read from
    the batch_id partitions of each pipeline's per-file output table."""
    out = {}
    for kind, table in (("hyperspectral", "spectrum"), ("spatiotemporal", "frames_u8")):
        path = os.path.join(work, "run", kind, "out", table)
        if os.path.isdir(path):
            import pyarrow.dataset as ds
            t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
                columns=["experiment_id", "batch_id"])
            for eid, b in zip(t.column("experiment_id").to_pylist(), t.column("batch_id").to_pylist()):
                out[(kind, eid)] = b
    return out


def batches(ev, kind):
    """Data batches of one pipeline's timed stream: id -> (start ms, end ms, durations)."""
    qid = next(x["id"] for x in ev["stream"] if x["kind"] == kind)
    out = {}
    for p in ev.get("progress", []):
        j = p["json"]
        if j["id"] == qid and j["numInputRows"] > 0:
            start = epoch_ms(j["timestamp"])
            out[j["batchId"]] = (start, start + j["durationMs"]["triggerExecution"], j["durationMs"])
    return out


def pipeline_run(args, built, work):
    t0 = time.time()
    inputs = os.path.join(work, "inputs")
    per_kind = max(1, args.seconds // 10)
    warm, timed = [], []
    for kind, dims in PIPELINES.items():
        warm += [dict(r, kind=kind) for r in
                 emdsynth.synthesize(kind, args.seed, 1, dims, inputs, "warm_" + kind[:2])]
        timed.append([dict(r, kind=kind) for r in
                      emdsynth.synthesize(kind, args.seed, per_kind, dims, inputs, kind[:2])])
    # slot i of the open loop: file i of every pipeline lands before trigger i
    timed = [dict(r, slot=i) for i, group in enumerate(zip(*timed)) for r in group]
    with open(os.path.join(work, "manifest.tsv"), "w") as f:
        for role, rows in (("warm", warm), ("timed", timed)):
            for r in rows:
                f.write("%s\t%s\t%d\t%s\t%s\t%d\t%s\n" % (
                    r["id"], r["path"], r["bytes"], r["kind"], role, r.get("slot", -1), r["sha256"]))
    for kind, dims in PIPELINES.items():
        mine = [r for r in timed if r["kind"] == kind]
        log("inputs: %d %s file(s) of %s (%.2f MB each), sha256 %s" % (
            len(mine), kind, "x".join(map(str, dims)), mine[0]["bytes"] / 1048576.0,
            " ".join(r["sha256"][:16] for r in mine)))
    log("inputs synthesized in %.2f s" % (time.time() - t0))
    ev = by_type(launch(built, work, ["pipelines", args.seed, args.seconds, args.trace, work, cores()]))
    for e in ev.get("error", []):
        log("stream error: %s" % e["msg"])
    land = {x["id"]: x for x in ev["land"]}
    bad, lat, waits, b_all = {}, {}, [], {}
    batch_of = file_batches(work)
    for kind in PIPELINES:
        run_dir = os.path.join(work, "run", kind)
        mine = [r for r in timed if r["kind"] == kind]
        bad.update(check_files(kind, run_dir, mine))
        b = batches(ev, kind)
        b_all.update({(kind, k): v for k, v in b.items()})
        for r in mine:
            bid = batch_of.get((kind, r["id"]))
            if bid not in b:
                bad[r["id"]].append("unpublished")
                continue
            lat[r["id"]] = (b[bid][1] - land[r["id"]]["due_ms"]) / 1000.0
            waits.append((b[bid][0] - land[r["id"]]["due_ms"]) / 1000.0)
    failed = sum(1 for v in bad.values() if v)
    for k, v in sorted(bad.items()):
        if v:
            log("check failed: %s %s" % (k, ",".join(v)))
    late = benchmath.lateness([(x["due_ms"], x["landed_ms"]) for x in ev["land"]])
    log("generator: open loop, one file per pipeline landing shortly before each 10 s trigger; "
        "%d landed, lateness max %.1f ms" % (len(late), max(late)))
    for r in timed:
        if r["id"] in lat:
            log("latency %-14s %-12s %7.3f s (landing to catalog commit)" % (r["kind"], r["id"], lat[r["id"]]))
    hs = [lat[r["id"]] for r in timed if r["kind"] == "hyperspectral" and r["id"] in lat]
    if hs:
        log("hyperspectral median %.3f s for a %.1f MB file; BASELINE, 95.8 MB files: "
            "Analysis median 4.43 s, Total median 39.89 s" % (
                statistics.median(hs), timed[0]["bytes"] / 1048576.0))
    first_due = min(x["due_ms"] for x in ev["land"])
    last_end = max((v[1] for v in b_all.values()), default=first_due + 1)
    e2e = {
        "setup_s": (setup_s(ev), "s"),
        "latency_p50_s": (statistics.median(list(lat.values())) if lat else float("nan"), "s"),
        "ops_per_s": (len(lat) / ((last_end - first_due) / 1000.0), "1/s"),
        "alloc_mb_per_op": (ev["alloc"][0]["mb"] / len(timed), "MB"),
        "ops_ok_ratio": (1.0 - failed / len(timed), "ratio"),
    }
    layers = pipeline_layers(ev, b_all, timed, lat, waits, work, late) if args.trace else None
    return e2e, layers, len(timed), failed, ev


def exec_jobs(ev):
    """SQL executions, each with its Spark jobs."""
    jobs = {}
    for j in ev.get("job", []):
        jobs.setdefault(j["exec"], []).append(j)
    return [(x, jobs.get(x["id"], [])) for x in ev.get("exec", [])]


def batch_execs(ev, b):
    """(kind, batch id) -> its SQL executions with their jobs. The two
    pipelines' batches overlap in time, so an execution is placed by the
    streaming query that ran its jobs, then by time."""
    kind_of = {x["id"]: x["kind"] for x in ev.get("stream", [])}
    out = {k: [] for k in b}
    for x, js in exec_jobs(ev):
        kinds = {kind_of.get(j["stream"]) for j in js}
        for k, (s, e, _) in b.items():
            if k[0] in kinds and s <= x["start_ms"] <= e:
                out[k].append((x, js))
    return out


def pipeline_layers(ev, b, timed, lat, waits, work, late):
    """Per-layer metrics; b maps (kind, batch id) -> (start, end, durations),
    lat file id -> latency."""
    count = {k: sum(1 for r in timed if r["kind"] == k) for k in PIPELINES}
    in_batch = batch_execs(ev, b)
    def wall_per_batch(kind, layer):
        return statistics.median([sum((x["end_ms"] - x["start_ms"]) / 1000.0
                                     for x, _ in in_batch[k] if x["layer"] == layer)
                                 for k in b if k[0] == kind])
    def per_file(kind, layer, field):
        return sum(j[field] for k in b if k[0] == kind
                   for x, js in in_batch[k] if x["layer"] == layer for j in js) / count[kind]
    jobs = {k: [j for _, js in in_batch[k] for j in js] for k in b}
    probes = {p["kind"]: p for p in ev.get("probes", [])}
    decodes = [d for d in ev.get("decode", []) if d["kind"] == "hyperspectral"]
    st_out = os.path.join(work, "run", "spatiotemporal", "out")
    out_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(st_out) for f in fs)
    docs = 0
    for kind in PIPELINES:
        cat = read_table(os.path.join(work, "run", kind, "catalog"))
        docs += cat.num_rows if cat is not None else 0
    dur = lambda *keys: statistics.median(  # noqa: E731
        [sum(v[2].get(key, 0) for key in keys) / 1000.0 for v in b.values()])
    return {
        "stream.trigger_wait_s": statistics.median(waits),
        "stream.batches": len(b),
        "stream.files_per_batch": len(timed) / len(b),
        "stream.offset_s": dur("latestOffset", "walCommit"),
        "stream.commit_s": dur("commitOffsets"),
        "sources.decode_s": statistics.median([d["s"] for d in decodes]),
        "sources.decode_mb_per_s": statistics.median([d["bytes"] / 1048576.0 / d["s"] for d in decodes]),
        "sources.decodes_per_file": probes["hyperspectral"]["decodes"] / count["hyperspectral"],
        "signals.exec_cpu_s": per_file("hyperspectral", "products", "cpu_s"),
        "signals.shuffle_mb": per_file("hyperspectral", "products", "shuffle_mb"),
        "signals.spill_mb": per_file("hyperspectral", "products", "spill_mb"),
        "signals.rows_exploded": per_file("hyperspectral", "products", "gen_rows"),
        "sinks.parquet_s": wall_per_batch("spatiotemporal", "products"),
        "sinks.artifact_s": wall_per_batch("spatiotemporal", "sinks"),
        "sinks.bytes_written_mb": out_bytes / 1048576.0 / count["spatiotemporal"],
        "multimodal.infer_s": probes["spatiotemporal"]["infer_s"] / count["spatiotemporal"],
        "multimodal.frames": probes["spatiotemporal"]["frames"] / count["spatiotemporal"],
        "catalog.publish_s": statistics.median([sum((x["end_ms"] - x["start_ms"]) / 1000.0
                                                   for x, _ in in_batch[k] if x["layer"] == "catalog")
                                               for k in b]),
        "catalog.docs_per_file": docs / len(timed),
        "pipelines.hyperspectral_latency_s": statistics.median(
            [lat[r["id"]] for r in timed if r["kind"] == "hyperspectral" and r["id"] in lat]),
        "pipelines.spatiotemporal_latency_s": statistics.median(
            [lat[r["id"]] for r in timed if r["kind"] == "spatiotemporal" and r["id"] in lat]),
        "pipelines.batch_s": dur("addBatch"),
        "pipelines.jobs_per_batch": statistics.median([len(jobs[k]) for k in b]),
        "pipelines.driver_s": statistics.median([
            (e - s - benchmath.union_length([(j["start_ms"], j["end_ms"]) for j in jobs[k]], s, e))
            / 1000.0 for k, (s, e, _) in b.items()]),
        "load.late_max_ms": max(late),
        "jvm.peak_heap_mb": ev["heap"][0]["peak_mb"],
    }


# -- query suite ---------------------------------------------------------------

def suite_run(args, built, work):
    if not os.path.isdir(SF_DIR):
        fail("query tables not found at " + SF_DIR)
    ev = by_type(launch(built, work, ["query_suite", args.seed, args.seconds, args.trace, work, cores(),
                                   SF_DIR, EXPECTED]))
    qs = ev["query"]
    lat = [(q["end_ms"] - q["start_ms"]) / 1000.0 for q in qs]
    failed = sum(1 for q in qs if not q["ok"])
    for q in qs:
        if not q["ok"]:
            log("check failed: %s rows=%s digest=%s %s" % (q["name"], q["rows"], q["digest"], q["error"]))
    wall = (max(q["end_ms"] for q in qs) - min(q["start_ms"] for q in qs)) / 1000.0
    log("queries: closed loop, 1 client, %d runs of %d distinct queries in %.1f s" % (
        len(qs), len({q["name"] for q in qs}), wall))
    tail = next(((q, v) for q in (0.9, 0.8, 0.75, 0.7, 0.6)
                 for v in [benchmath.tail_percentile(lat, q)] if v is not None), None)
    log("query latency: median %.3f s%s (n=%d)" % (
        statistics.median(lat), ", p%d %.3f s" % (round(tail[0] * 100), tail[1]) if tail else
        ", no tail percentile has ten samples beyond it", len(lat)))
    e2e = {
        "setup_s": (setup_s(ev), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "ops_per_s": (len(qs) / wall, "1/s"),
        "alloc_mb_per_op": (ev["alloc"][0]["mb"] / len(qs), "MB"),
        "ops_ok_ratio": (1.0 - failed / len(qs), "ratio"),
    }
    layers = suite_layers(ev) if args.trace else None
    return e2e, layers, len(qs), failed, ev


def suite_layers(ev):
    execs = exec_jobs(ev)
    per = {m: [] for m in MODULES}
    for q in ev["query"]:
        s, e = q["start_ms"], q["end_ms"]
        mine = [(x, js) for x, js in execs if s <= x["start_ms"] <= e]
        jobs = [j for _, js in mine for j in js]
        per[q["module"]].append({
            "wall_s": (e - s) / 1000.0,
            "planning_s": sum(p["planning_s"] for p in ev.get("plan", []) if s <= p["start_ms"] <= e),
            "driver_s": (e - s - benchmath.union_length([(j["start_ms"], j["end_ms"]) for j in jobs], s, e))
            / 1000.0,
            "jobs": len(jobs),
            "exec_cpu_s": sum(j["cpu_s"] for j in jobs),
            "shuffle_mb": sum(j["shuffle_mb"] for j in jobs),
        })
    out = {"suite.%s.%s" % (m, k): statistics.median([r[k] for r in rows])
           for m, rows in per.items() if rows for k in rows[0]}
    out["jvm.peak_heap_mb"] = ev["heap"][0]["peak_mb"]
    return out


# -- spans ---------------------------------------------------------------------

def write_spans(args, ev, work):
    """Requests (files or queries) > stream batches > SQL executions > Spark jobs;
    executions outside any request (warm-up, loop bookkeeping) are left out."""
    spans = []
    def add(name, start, end, parent, req, **kw):
        spans.append(dict(id=len(spans), name=name, start_ms=start, end_ms=end, parent=parent,
                          request=req, **kw))
        return len(spans) - 1
    def add_execs(execs, parent, req):
        for x, js in execs:
            xid = add("exec:%d" % x["id"], x["start_ms"], x["end_ms"], parent, req, layer=x["layer"])
            for j in js:
                add("job:%d" % j["id"], j["start_ms"], j["end_ms"], xid, req, layer=x["layer"],
                    tasks=j["tasks"], cpu_s=j["cpu_s"], shuffle_mb=j["shuffle_mb"], spill_mb=j["spill_mb"])
    if args.workload == "query_suite":
        execs = exec_jobs(ev)
        for q in ev["query"]:
            sid = add("query:" + q["name"], q["start_ms"], q["end_ms"], None, q["name"], layer=q["module"])
            add_execs([(x, js) for x, js in execs if q["start_ms"] <= x["start_ms"] <= q["end_ms"]],
                      sid, q["name"])
    else:
        land = {x["id"]: x for x in ev["land"]}
        b = {(kind, k): v for kind in PIPELINES for k, v in batches(ev, kind).items()}
        members = {}
        for (kind, stem), batch in sorted(file_batches(work).items()):
            members.setdefault((kind, batch), []).append(stem)
        for k, execs in sorted(batch_execs(ev, b).items()):
            s, e, _ = b[k]
            ids = members.get(k, [])
            req = "+".join(ids)
            root = add("file:" + req, min((land[i]["due_ms"] for i in ids), default=s), e, None, req,
                       layer="pipelines")
            add_execs(execs, add("batch:%s:%d" % k, s, e, root, req, layer="stream"), req)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    path = os.path.join(OUT, "spans-%s-seed%d.jsonl" % (args.workload, args.seed))
    with open(path, "w") as f:
        for s in spans:
            s["self_ms"] = benchmath.self_time(s["start_ms"], s["end_ms"], kids.get(s["id"], []))
            f.write(json.dumps(s) + "\n")
    log("spans: %d written to %s" % (len(spans), os.path.relpath(path, ROOT)))


# -- main ----------------------------------------------------------------------

PIPELINE_LAYERS = [
    ("stream.trigger_wait_s", "s"), ("stream.batches", "count"), ("stream.files_per_batch", "count"),
    ("stream.offset_s", "s"), ("stream.commit_s", "s"),
    ("sources.decode_s", "s"), ("sources.decode_mb_per_s", "MB/s"), ("sources.decodes_per_file", "count"),
    ("signals.exec_cpu_s", "s"), ("signals.shuffle_mb", "MB"), ("signals.spill_mb", "MB"),
    ("signals.rows_exploded", "count"),
    ("sinks.parquet_s", "s"), ("sinks.artifact_s", "s"), ("sinks.bytes_written_mb", "MB"),
    ("multimodal.infer_s", "s"), ("multimodal.frames", "count"),
    ("catalog.publish_s", "s"), ("catalog.docs_per_file", "count"),
    ("pipelines.hyperspectral_latency_s", "s"), ("pipelines.spatiotemporal_latency_s", "s"),
    ("pipelines.batch_s", "s"), ("pipelines.jobs_per_batch", "count"), ("pipelines.driver_s", "s"),
    ("load.late_max_ms", "ms"),
    ("jvm.peak_heap_mb", "MB"),
]
SUITE_LAYER_FIELDS = [("wall_s", "s"), ("planning_s", "s"), ("driver_s", "s"), ("jobs", "count"),
                      ("exec_cpu_s", "s"), ("shuffle_mb", "MB")]


def layer_units():
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    return PIPELINE_LAYERS + [("suite.%s.%s" % (m, k), u) for m in MODULES for k, u in SUITE_LAYER_FIELDS]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    built = build()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = suite_run if args.workload == "query_suite" else pipeline_run
    e2e, layers, attempted, failed, ev = run(args, built, work)
    assert [(k, u) for k, (_, u) in e2e.items()] == E2E_METRICS
    for k, (v, unit) in e2e.items():
        if v is None or v != v:
            fail("metric %s could not be measured" % k)
        log("%-22s %12.4f %s" % (k, v, unit))
    os.makedirs(OUT, exist_ok=True)
    last = os.path.join(OUT, "last-%s.json" % args.workload)
    if args.trace:
        write_spans(args, ev, work)
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            for k, (v, _) in e2e.items():
                if k in base:
                    log("trace overhead %-22s %+.1f%% vs untraced run (seed %s)" % (
                        k, 100.0 * (v / base[k]["value"] - 1), base[k]["seed"]))
        else:
            log("trace overhead: no untraced run of this workload stored yet")
        # a layer this workload does not exercise reads 0
        metrics = {n: {"value": layers.get(n, 0), "unit": u} for n, u in layer_units()}
    else:
        with open(last, "w") as f:
            json.dump({k: {"value": v, "seed": args.seed} for k, (v, _) in e2e.items()}, f)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
