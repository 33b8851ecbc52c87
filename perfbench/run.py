#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness
(perfbench/harness, which compiles the engine's sources) with sbt; later
runs reuse the build while the sources are unchanged. The run then writes
the seeded inputs, starts the harness JVM (a closed loop with one client
on local[nproc]), checks every execution's result, and prints the metrics
by name with their units. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

Everything the run writes goes under .perfbench_work/ in the checkout.
Workloads, key lists, input sizes and the layer map are in
perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs as inp  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
HARNESS = os.path.join(HERE, "harness")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
RUN_LIMIT_S = 175
TAIL_GRID = [99.9, 99, 95, 90, 75, 50]
# Per-layer times that are structurally 0 on one of the workloads (no
# sink in surface_sf01, no stream in mr_corpus, no remote fetch in local
# mode). They are printed but left out of the result line, which carries
# only metrics that every workload measures.
PRINT_ONLY = {"exchange.fetch_wait_s", "sink.write_s", "streaming.init_s",
              "streaming.batch_s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build

def spark_jars():
    """Spark's jar directory, found from spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"Spark jars not found under {home}")
    return jars


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HARNESS, "src"),
                os.path.join(HARNESS, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness and engine; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found at {ENGINE_SRC}")
    stamp_file = os.path.join(WORK, "build", "stamp.json")
    stamp = source_stamp()
    jars = spark_jars()
    cached = inp.load_json(stamp_file, {})
    if cached.get("stamp") == stamp and cached.get("jars") == jars:
        return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not on PATH")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    log("building harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if "harness/target" in l and os.pathsep in l
          and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("harness build failed")
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    inp.save_json(stamp_file, {"stamp": stamp, "jars": jars, "classpath": cp[-1]})
    return cp[-1]


# ----------------------------------------------------------------- inputs

def prepare_inputs(name, wl, seed):
    """Write this seed's inputs (reused if already there); return
    (input dir, description)."""
    root = os.path.join(WORK, "inputs")
    os.makedirs(root, exist_ok=True)
    mine = f"{name}_seed{seed}"
    for d in os.listdir(root):  # keep one input set per workload
        if d.startswith(f"{name}_seed") and d not in (mine, mine + ".json"):
            p = os.path.join(root, d)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    out = os.path.join(root, mine)
    meta_file = out + ".json"
    meta = inp.load_json(meta_file, None)
    if meta is not None and os.path.isdir(out):
        return out, meta
    inp.reset_dir(out)
    t0 = time.time()
    src = wl["input"]
    if src["kind"] == "fixture":
        meta = {"rows": inp.fixture_layout(out, seed), "logical_id": inp.logical_id()}
    else:
        meta = inp.corpus(out, seed, src["files"], src["words_per_file"])
    meta["mb"] = inp.dir_mb(out)
    meta["gen_s"] = time.time() - t0
    inp.save_json(meta_file, meta)
    return out, meta


# ----------------------------------------------------------------- checks

def query_oracle_hashes(run, inputs_dir, meta, work):
    """Canonical hash of each key's DuckDB oracle result, cached per
    (oracle SQL, logical input): the seed only moves rows between files
    and within them, which no oracle result depends on."""
    cache_file = os.path.join(WORK, "cache", "oracle.json")
    cache = inp.load_json(cache_file, {})
    con, out = None, {}
    for key, sql in run["oracle_sql"].items():
        ck = hashlib.sha256((meta["logical_id"] + "\0" + sql).encode()).hexdigest()
        if ck not in cache:
            con = con or inp.duck(inputs_dir, work)
            try:
                cache[ck] = inp.canon_hash(con.sql(sql).df())
            except Exception as e:  # an oracle that cannot run fails the key
                log(f"oracle for {key} failed: {type(e).__name__}: {e}")
                continue
        out[key] = cache[ck]
    if con is not None:
        con.close()
        os.makedirs(os.path.dirname(cache_file), exist_ok=True)
        inp.save_json(cache_file, cache)
    return out


def check(run, kind, inputs_dir, meta, work):
    """Return {item: reason} for every item whose reference result does
    not match its oracle."""
    bad = {}
    refs = run["refs"]
    if kind == "queries":
        expected = query_oracle_hashes(run, inputs_dir, meta, work)
        con = inp.duck(inputs_dir, work)
        for key, ref in refs.items():
            if key not in expected:
                bad[key] = "no oracle result"
                continue
            got = inp.canon_hash(con.sql(
                f"SELECT * FROM read_parquet('{ref['path']}/*.parquet')").df())
            if got != expected[key]:
                bad[key] = "result differs from the DuckDB oracle"
        con.close()
    else:
        want = {"mr_wc_typed": meta["wc"], "mr_wordcount": meta["wc"],
                "mr_index_typed": meta["index"], "mr_inverted_index": meta["index"]}
        for key, ref in refs.items():
            if ref["hash"] != want[key]:
                bad[key] = "result differs from the sequential oracle"
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(samples):
    """(percentile, value): the highest grid percentile with at least 10
    samples beyond it, by nearest rank, else the median."""
    n = len(samples)
    for p in TAIL_GRID:
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            return p, sorted(samples)[rank - 1]
    return 50, median(samples)


def span_times(spans):
    """Per execution id: {span name: (total s, self s)}. Self time is the
    span's time minus the time its child spans cover."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        tot, slf = out.setdefault(s["exec"], {}).get(s["name"], (0.0, 0.0))
        out[s["exec"]][s["name"]] = (tot + dur / 1e9,
                                     slf + (dur - child.get(s["id"], 0)) / 1e9)
    return out


def e2e_metrics(run, wl, measured):
    by_pass = {}
    for e in measured:
        by_pass.setdefault(e["pass"], []).append(e["wall_s"])
    walls = [sum(v) for v in by_pass.values()]
    lat = [e["wall_s"] for e in measured]
    pct, tail_v = tail(lat)
    wall = median(walls)
    return {
        "setup_s": (run["setup"]["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "query_p50_s": (median(lat), "s"),
        "query_tail_s": (tail_v, "s"),
        "input_mb_per_s": (wl["input_mb"] / wall, "MB/s"),
        "peak_rss_mb": (run["peak_rss_mb"], "MB"),
    }, {"tail_percentile": pct, "samples": len(lat), "passes": len(walls)}


def layer_metrics(run, traced, untraced, cpus):
    spans = span_times(run["spans"])
    passes = {}
    for e in traced:
        passes.setdefault(e["pass"], []).append(e)
    pass_rec = {p["pass"]: p for p in run["passes"]}
    rows = []
    for p, execs in passes.items():
        st = lambda k: sum(e["stats"].get(k, 0.0) for e in execs)
        pl = lambda k: sum(e.get("plan", {}).get(k, 0.0) for e in execs)
        sk = lambda k: sum(e.get("sink", {}).get(k, 0.0) for e in execs)
        sp = lambda name, i: sum(spans.get(e["id"], {}).get(name, (0.0, 0.0))[i]
                                 for e in execs)
        wall = sum(e["wall_s"] for e in execs)
        out_rows = max(1.0, sum(e.get("rows", 0) for e in execs))
        r = {
            "entry.build_s": sp("entry.build", 0),
            "entry.eager_jobs": st("eager_jobs"),
            "entry.memo_builds": float(sum(e["memo_builds"] for e in execs)),
            "catalyst.analysis_s": st("analysis_s"),
            "catalyst.optimization_s": st("optimization_s"),
            "catalyst.planning_s": st("planning_s"),
            "catalyst.exchanges": pl("exchanges"),
            "catalyst.smj": pl("smj"),
            "catalyst.shj": pl("shj"),
            "catalyst.bhj": pl("bhj"),
            "catalyst.topk_nodes": pl("topk_nodes"),
            "scheduler.jobs": st("jobs"),
            "scheduler.stages": st("stages"),
            "scheduler.tasks": st("tasks"),
            "scheduler.task_wait_s": st("task_wait_s"),
            "scheduler.task_run_s": st("task_run_s"),
            "scheduler.task_cpu_s": st("task_cpu_s"),
            "scheduler.core_util": st("task_run_s") / (wall * cpus),
            "scheduler.gc_s": st("task_gc_s"),
            "scheduler.failed_tasks": st("failed_tasks"),
            "exchange.write_mb": st("shuffle_write_mb"),
            "exchange.read_mb": st("shuffle_read_mb"),
            "exchange.records": st("shuffle_records"),
            "exchange.fetch_wait_s": st("fetch_wait_s"),
            "exchange.spill_mb": st("spill_mb"),
            "exchange.records_per_output_row": st("shuffle_records") / out_rows,
            "scan.input_mb": st("input_mb"),
            "scan.input_rows": st("input_rows"),
            "scan.rows_per_output_row": st("input_rows") / out_rows,
            "engine.map_s": st("map_s"),
            "engine.reduce_s": st("reduce_s"),
            "sink.write_s": sp("sink", 0),
            "sink.output_mb": sk("output_mb"),
            "sink.files": sk("files"),
            "streaming.init_s": sum(e["init_s"] for e in execs),
            "streaming.batches": st("stream_batches"),
            "streaming.batch_s": st("stream_batch_s"),
            "streaming.state_rows": st("state_rows"),
            "streaming.state_mb": st("state_mb"),
            "frames.checkpoint_jobs": st("checkpoint_jobs"),
            "frames.cleanup_s": sum(e["cleanup_s"] for e in execs),
            "jvm.gc_s": pass_rec[p]["gc_s"],
            "jvm.heap_peak_mb": pass_rec[p]["heap_peak_mb"],
        }
        # Self times of the spans not already reported whole: entry.build,
        # sink and frames.cleanup have no child spans.
        for name in ("execution", "catalyst.plan", "execute"):
            r[f"self.{name}_s"] = sp(name, 1)
        r["_wall"] = wall
        rows.append(r)
    out = {k: median([r[k] for r in rows]) for k in rows[0] if k != "_wall"}
    u = {}
    for e in untraced:
        u[e["pass"]] = u.get(e["pass"], 0.0) + e["wall_s"]
    out["trace.overhead_s"] = median([r["_wall"] for r in rows]) - median(list(u.values()))
    return out


def unit_of(name):
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_util", "ratio"),
                         ("_row", "ratio"), ("_frac", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    config = inp.load_json(os.path.join(HERE, "workloads.json"), None)
    if config is None or args.workload not in config["workloads"]:
        fail(f"unknown workload {args.workload!r}")
    wl = config["workloads"][args.workload]
    if not os.path.isdir(inp.FIXTURE):
        fail(f"fixture missing: {inp.FIXTURE}")
    os.makedirs(WORK, exist_ok=True)

    classpath = build()
    t_ready = time.time()
    inputs_dir, meta = prepare_inputs(args.workload, wl, args.seed)
    work = inp.reset_dir(os.path.join(WORK, "run", args.workload))
    os.makedirs(os.path.join(work, "tmp"))
    cpus = os.cpu_count() or 1
    # Whole passes filling --seconds at the workload's nominal pass time:
    # the same work on every commit, whatever its speed.
    passes = max(1, math.ceil(args.seconds / wl["nominal_pass_s"]))
    jvm = ["java", f"-Xmx{config['xmx']}", *config["jvm_flags"],
           f"-Djava.io.tmpdir={work}/tmp"]
    for pkg in config["add_opens"]:
        jvm += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    jvm += ["-cp", classpath, "graft.perfbench.Main",
            f"kind={wl['kind']}", f"inputs={inputs_dir}", f"out={work}",
            f"passes={passes}", f"trace={args.trace}", f"cpus={cpus}"]
    if wl["kind"] == "queries":
        jvm += ["keys=" + ",".join(wl["keys"])]
    budget = max(30, RUN_LIMIT_S - (time.time() - t_ready) - 10)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(jvm, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness did not finish within {budget:.0f} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"harness exited with {rc}")
    with open(os.path.join(work, "run.json")) as f:
        run = json.load(f)

    bad = check(run, wl["kind"], inputs_dir, meta, work)
    failures = {}
    for e in run["execs"]:
        if not e["ok"]:
            failures.setdefault(e["item"], e.get("error", "failed"))
        elif e["item"] in bad:
            e["ok"] = False
            failures.setdefault(e["item"], bad[e["item"]])
    attempted = len(run["execs"])
    failed = sum(1 for e in run["execs"] if not e["ok"])
    measured = [e for e in run["execs"] if e["pass"] >= 0]
    untraced = [e for e in measured if not e["traced"]]
    traced = [e for e in measured if e["traced"]]

    e2e, info = e2e_metrics(run, wl, untraced)
    box = dict(run["box"], mem_total_mb=mem_total_mb(), xmx=config["xmx"])
    print(f"workload {args.workload}  seed {args.seed}  loop closed, 1 client, "
          f"local[{cpus}]  input {wl['input_mb']} MB stated, {meta['mb']:.1f} MB "
          f"written (generated in {meta['gen_s']:.1f} s)")
    print("box " + json.dumps(box, sort_keys=True))
    for k, (v, unit) in e2e.items():
        extra = ""
        if k == "query_tail_s":
            extra = f"  (p{info['tail_percentile']:g} of {info['samples']} executions)"
        if k == "wall_s":
            extra = f"  (median of {info['passes']} passes)"
        print(f"{k:<18} {v:12.4f} {unit}{extra}")
    print(f"{'failed_frac':<18} {failed / attempted:12.4f} ratio  "
          f"({failed} of {attempted} executions)")
    for item, why in sorted(failures.items()):
        print(f"FAILED {item}: {why}")

    if args.trace:
        layers = layer_metrics(run, traced, untraced, cpus)
        layers["run.failed_frac"] = failed / attempted
        for k, v in layers.items():
            print(f"{k:<34} {v:14.4f} {unit_of(k)}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()
                   if k not in PRINT_ONLY}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    log(f"run took {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return -1


if __name__ == "__main__":
    main()
