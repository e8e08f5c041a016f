"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py),
generates the workload's inputs from --seed, runs the harness JVM
(perfbench.Main) on local[nproc] with one client thread submitting
operations back to back, checks every operation's output, and prints a
full record line, then, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 a traced run reports the per-layer metrics instead. See
perfbench/README.md for the workloads, metrics and layer table.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import metrics as M  # noqa: E402
import northwind  # noqa: E402

DEADLINE_S = 165  # the whole run, build excluded

WORKLOADS = ("etl_warehouse", "llm_curation")

# llm_curation runs l61, the one query of the ROADMAP heavy set whose
# passes fit a run (README.md, "What was left out")
HEAVY = {"l61_containment_join": "l61"}
LLM_DOCS = 2500
STREAM = {"n_batches": 4, "batch_docs": 50, "exact_share": 0.15,
          "near_share": 0.10}

# the end-to-end metrics in BENCHMARK.json; the record line carries the
# rest (op_p95_s where measurable, failed_ops_frac, peak_rss_mb,
# pass_cpu_s)
END_TO_END = ["setup_s", "pass_s", "op_p50_s", "stored_bytes_per_input_byte"]

# the per-layer metrics every workload reports (BENCHMARK.json
# "per_layer"); the workload-specific ones are in the record line
PER_LAYER = [
    "bench.input_gen_s", "bench.unattributed_frac",
    "core.session_build_s", "core.first_pass_s",
    "spark.self_s", "spark.analysis_s", "spark.optimization_s",
    "spark.planning_s", "spark.codegen_compile_s", "spark.driver_s",
    "spark.sched_wait_s", "spark.task_cpu_s", "spark.task_run_s",
    "spark.gc_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.cpu_util", "spark.task_skew", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.peak_exec_mem_mb",
    "plans.broadcast_joins", "plans.shuffle_joins", "plans.exchanges",
    "plans.codegen_stages", "plans.native_exprs"]

# what no run of this benchmark produces, with the reason (README.md)
NOT_MEASURED = [
    {"name": "query_mix", "why": "workload left out: one warm pass over "
     "the ~100 non-LLM registry queries takes ~40 s on 4 cores, beyond "
     "the per-run budget"},
    {"name": "stream_ingest", "why": "workload folded into llm_curation: "
     "a third workload's runs do not fit the benchmark's time budget"},
    {"name": "operators.self_s", "why": "operators run inside pipeline "
     "and queries calls; spans inside the program are a later change"},
    {"name": "queries.{relational,joins_aggs,quality_gold,extras}_s",
     "why": "the query_mix workload is left out"},
] + [{"name": f"queries.{short}_s", "why": "not in llm_curation's op set: "
      "its cold and warm time do not fit the per-run budget"}
     for short in ("l2b", "x22", "l71", "l77", "l31")]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def unit_of(name):
    """A metric's unit, from its name's suffix: `spark.gc_s`,
    `sources.lake_write_s.gold`, `spark.shuffle_read_bytes`, ..."""
    for part in reversed(name.split(".")):
        if part.endswith(("_frac", "_ratio", "_util", "_skew")) or \
                part == "stored_bytes_per_input_byte":
            return "ratio"
        if part.endswith("_s"):
            return "s"
        if part.endswith("_mb"):
            return "MB"
        if part.startswith("bytes") or part.endswith("_bytes") or \
                "_bytes_" in part:
            return "bytes"
    return "count"


def load_and_steal():
    """1-minute load average and cumulative CPU steal seconds, as context."""
    try:
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
        return {"load1": load, "steal_s": steal}
    except (OSError, ValueError, IndexError):
        return {}


def make_inputs(workload, seed, inputs, cache):
    """Generate the run's inputs under `inputs`; return (expectations,
    input bytes)."""
    if workload == "etl_warehouse":
        return northwind.write(os.path.join(inputs, "etl"), seed)
    # llm_curation: the query tables are fixed (their results are pinned)
    # and shared by every run of a build directory; the JVM stages them
    # to parquet once. The document stream comes from the seed.
    jsonl = os.path.join(cache, "jsonl")
    done = os.path.join(jsonl, "_COMPLETE")
    stamp = f"{datagen.DATA_SEED} {LLM_DOCS}"
    if not os.path.exists(done) or open(done).read() != stamp:
        shutil.rmtree(cache, ignore_errors=True)
        datagen.tables(jsonl, LLM_DOCS)
        with open(done, "w") as f:
            f.write(stamp)
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    batches, stream = datagen.stream(seed, **STREAM)
    os.makedirs(inputs, exist_ok=True)
    size = datagen.write_stream(os.path.join(inputs, "stream.jsonl"), batches)
    return {"pins": pins, "stream": stream}, size


def run_jvm(classpath, workload, seconds, trace, rundir, inputs,
            tables, deadline):
    tmp = os.path.join(rundir, "tmp")
    for d in ("tmp", "work", "out"):
        os.makedirs(os.path.join(rundir, d), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData",
           *[f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", workload,
           "--seconds", str(seconds), "--trace", str(trace),
           "--inputs", inputs, "--work", os.path.join(rundir, "work"),
           "--out", os.path.join(rundir, "out"), "--cores", str(cores),
           "--tables", tables,
           "--budget", str(max(1.0, deadline - time.time() - 10))]
    log = os.path.join(rundir, "jvm.log")
    with open(log, "wb") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=rundir, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            rc = "timeout"
    result = os.path.join(rundir, "out", "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"harness JVM failed ({rc}):\n{tail}")
    with open(result) as f:
        res = json.load(f)
    spans = []
    sp = os.path.join(rundir, "out", "spans.jsonl")
    if os.path.exists(sp):
        with open(sp) as f:
            spans = [json.loads(line) for line in f]
    return res, spans, cores


def checks(workload, passes, expected):
    """Per pass, the list of op-output mismatches (by op index)."""
    out = []
    for p in passes:
        bad = {}
        if workload == "etl_warehouse":
            msgs = M.check_etl(p["observed"], expected)
            if msgs:
                bad[0] = msgs
        else:
            fps = p["observed"].get("fingerprints", {})
            for i, op in enumerate(p["ops"]):
                if op["name"] in HEAVY:
                    msgs = M.check_fingerprint(op["name"], fps.get(op["name"]),
                                               expected["pins"])
                    if msgs:
                        bad[i] = msgs
            msgs = M.check_stream(p["observed"], expected["stream"])
            if msgs:  # the stores' final state, charged to the last batch
                bad[len(p["ops"]) - 1] = msgs
        out.append(bad)
    return out


def end_to_end(res, passes, ops, unmeasured):
    m = {}
    m["setup_s"] = res["setup"]["setup_s"]
    m["pass_s"] = M.median([p["wall_s"] for p in passes])
    m["pass_cpu_s"] = M.median([p["cpu_s"] for p in passes])
    lat = [o["s"] for o in ops]
    m["op_p50_s"] = M.median(lat)
    p95 = M.percentile_with_tail(lat, 95)
    if p95 is None:
        unmeasured.append({"name": "op_p95_s", "why":
                           f"{len(lat)} op samples leave fewer than 10 "
                           "beyond p95 (needs at least 200)"})
    else:
        m["op_p95_s"] = p95
    m["peak_rss_mb"] = res["memory"].get("peak_rss_mb")
    ratios = [p["counters"]["stored_bytes"] / p["counters"]["input_bytes"]
              for p in passes if p["counters"].get("input_bytes")]
    if ratios:
        m["stored_bytes_per_input_byte"] = M.median(ratios)
    else:
        unmeasured.append({"name": "stored_bytes_per_input_byte", "why":
                           "no pass recorded its stored bytes"})
    return m


def per_layer(workload, res, passes, spans, cores, input_gen_s):
    """Per-layer numbers from the traced passes, as per-pass means."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    n = len(traced)
    m = {"bench.input_gen_s": input_gen_s,
         "core.session_build_s": res["setup"]["session_s"],
         "core.first_pass_s": res["setup"]["first_pass_s"]}
    m["bench.traced_pass_s"] = M.median([p["wall_s"] for p in traced])
    m["bench.trace_overhead_frac"] = (
        m["bench.traced_pass_s"] /
        M.median([p["wall_s"] for p in untraced]) - 1) if untraced else None

    spans = M.link(spans)
    roots = [s for s in spans if s["name"] == "bench.pass"]
    inpass = {}
    for r in roots:
        for s in M.descendants(spans, r["id"]):
            inpass[s["id"]] = s
    inpass.update({r["id"]: r for r in roots})
    ss = list(inpass.values())
    wall = sum(r["end"] - r["start"] for r in roots) / 1e3

    def total(name):
        """per-pass seconds in spans called `name`"""
        return sum(s["end"] - s["start"] for s in ss
                   if s["name"] == name) / 1e3 / n

    # self time per layer, as wall time; bench's own (the pass and op
    # spans no layer call covers) is the unattributed share
    for layer, v in sorted(M.layer_self_times(ss).items()):
        m[f"{layer}.self_s"] = v / 1e3 / n
    m["bench.unattributed_frac"] = m["bench.self_s"] / (wall / n)

    if workload == "etl_warehouse":
        m["pipeline.run_s"] = total("pipeline.run")
        for part in ("bronze", "silver", "gold"):
            m[f"sources.lake_write_s.{part}"] = total(
                f"sources.lake_write.{part}")
        m["sources.reports_write_s"] = total("sources.reports_write")
        m["sources.warehouse_load_s"] = total("sources.warehouse_load")
    if workload == "llm_curation":
        for q, short in HEAVY.items():
            m[f"queries.{short}_s"] = total(f"queries.{q}")

    counters = {}
    for p in traced:
        for k, v in p["counters"].items():
            counters[k] = counters.get(k, 0.0) + v
    for k in ("sources.lake_bytes_written", "sources.lake_files_written",
              "sources.warehouse_rows", "streaming.compactions",
              "streaming.segments_listed", "streaming.bytes_written",
              "streaming.index_read_s"):
        if k in counters:
            m[k] = counters[k] / n
    if workload == "llm_curation":
        for st in ("dedup", "spans"):
            plain = counters.get(f"streaming.plain_batches.{st}", 0)
            m[f"streaming.batch_s.{st}"] = (
                counters.get(f"streaming.batch_s.{st}", 0) / plain
                if plain else None)
        comp = counters.get("streaming.compactions", 0)
        m["streaming.compacting_batch_s"] = (
            counters.get("streaming.compacting_batch_s", 0) / comp
            if comp else None)
        m["streaming.bytes_rewritten"] = counters.get(
            "streaming.rewritten_bytes", 0) / n
        m["streaming.dup_flag_ratio"] = (counters["streaming.flagged"] /
                                         counters["streaming.docs"])

    # plans: shape of every executed query's final plan
    queries = [s for s in ss if s["name"] == "spark.query"]
    for k in ("broadcast_joins", "shuffle_joins", "exchanges",
              "codegen_stages", "native_exprs", "cartesians"):
        m[f"plans.{k}"] = sum(q["a"].get(k, 0) for q in queries) / n

    # spark: planning phases, compiles, jobs, stages and tasks
    for ph in ("analysis", "optimization", "planning"):
        m[f"spark.{ph}_s"] = total(f"spark.{ph}")
    m["spark.codegen_compile_s"] = total("spark.codegen")
    jobs = [s for s in ss if s["name"] == "spark.job"]
    stages = [s for s in spans if s["name"] == "spark.stage"
              and s["parent"] in {j["id"] for j in jobs}]
    stage_ids = {s["id"] for s in stages}
    tasks = [s for s in spans if s["name"] == "spark.task"
             and s["parent"] in stage_ids]
    m["spark.jobs"] = len(jobs) / n
    m["spark.stages"] = len(stages) / n
    m["spark.tasks"] = len(tasks) / n
    ops = [s for s in ss if s["name"] == "bench.op"]

    def idle(o):
        """ms of op `o` with no Spark job running"""
        return (o["end"] - o["start"]) - M.union_length(
            [(max(j["start"], o["start"]), min(j["end"], o["end"]))
             for j in jobs if j["end"] > o["start"] and j["start"] < o["end"]])
    m["spark.driver_s"] = sum(idle(o) for o in ops) / 1e3 / n
    # the heavy queries' own character: driver share and task CPU use
    for q, short in HEAVY.items():
        qops = [o for o in ops if o["a"].get("op_name") == q]
        if qops:
            ms = sum(o["end"] - o["start"] for o in qops)
            ids = {o["op"] for o in qops}
            m[f"spark.driver_frac.{short}"] = sum(map(idle, qops)) / ms
            m[f"spark.cpu_util.{short}"] = sum(
                t["a"].get("cpu_s", 0) for t in tasks
                if t["op"] in ids) / (cores * ms / 1e3)
    first_launch = {}
    by_stage = {}
    for t in tasks:
        first_launch[t["parent"]] = min(first_launch.get(t["parent"], 1e18),
                                        t["start"])
        by_stage.setdefault(t["parent"], []).append(t["a"].get("run_s", 0))
    m["spark.sched_wait_s"] = sum(
        max(0.0, first_launch[s["id"]] - s["start"]) for s in stages
        if s["id"] in first_launch) / 1e3 / n

    def tsum(k):
        return sum(t["a"].get(k, 0) for t in tasks) / n
    m["spark.task_cpu_s"] = tsum("cpu_s")
    m["spark.task_run_s"] = tsum("run_s")
    m["spark.cpu_util"] = m["spark.task_cpu_s"] / (cores * wall / n)
    m["spark.shuffle_read_bytes"] = tsum("shuffle_read_bytes")
    m["spark.shuffle_write_bytes"] = tsum("shuffle_write_bytes")
    m["spark.shuffle_fetch_wait_s"] = tsum("fetch_wait_s")
    m["spark.spill_bytes"] = tsum("spill_bytes")
    m["spark.gc_s"] = tsum("gc_s")
    skews = [max(r) / M.median(r) for r in by_stage.values()
             if len(r) >= 2 and M.median(r) > 0]
    m["spark.task_skew"] = max(skews) if skews else 1.0
    m["spark.peak_exec_mem_mb"] = max(
        [t["a"].get("peak_exec_mem_bytes", 0) for t in tasks] or [0]) / 2**20
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args(argv)
    t_start = time.time()
    try:
        classpath = build.ensure()
    except (FileNotFoundError, RuntimeError) as e:
        print(f"perfbench: cannot build the engine: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + DEADLINE_S
    context = {"start": load_and_steal()}
    bd = build.build_dir()
    rundir = os.path.join(bd, "runs", f"{a.workload}-{a.seed}-{a.trace}-"
                          f"{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    inputs = os.path.join(rundir, "inputs")
    cache = os.path.join(bd, "cache", "llm_tables")
    try:
        g0 = time.time()
        expected, input_bytes = make_inputs(a.workload, a.seed, inputs, cache)
        input_gen_s = time.time() - g0
        res, spans, cores = run_jvm(classpath, a.workload, a.seconds,
                                    a.trace, rundir, inputs, cache, deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    context["end"] = load_and_steal()

    # every op of every pass, the warm-up's included, is attempted and
    # checked
    passes = res["passes"]
    checked = [res["setup"]["warmup"]] + passes
    attempted = failed = 0
    failures = []
    for p, bad in zip(checked, checks(a.workload, checked, expected)):
        for i, op in enumerate(p["ops"]):
            attempted += 1
            if op["error"] or i in bad:
                failed += 1
                failures.append(f"{op['name']}: "
                                f"{op['error'] or '; '.join(bad[i])}")

    unmeasured = list(NOT_MEASURED)
    measured = [p for p in passes if not p["traced"]]
    ops = [o for p in measured for o in p["ops"]]
    if measured:
        e2e = end_to_end(res, measured, ops, unmeasured)
    else:
        e2e = {}
        unmeasured.append({"name": "end-to-end metrics", "why": "a traced "
                           "run takes them from untraced passes only, and "
                           "none fit in --seconds"})
    e2e["failed_ops_frac"] = failed / attempted
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cores": cores, "clients": 1, "loop": "closed",
        "passes": len(measured), "op_samples": len(ops),
        "pass_samples_s": [p["wall_s"] for p in measured],
        "op_samples_s": [[o["name"], o["s"]] for o in ops],
        "input_bytes": input_bytes, "input_gen_s": input_gen_s,
        "end_to_end": {k: {"value": v, "unit": unit_of(k)}
                       for k, v in e2e.items()},
        "memory_mb": res["memory"],
        "context": context, "failures": failures[:20],
        "fingerprints": passes[0]["observed"].get("fingerprints"),
        "wall_s": time.time() - t_start,
    }
    if a.trace:
        layer = per_layer(a.workload, res, passes, spans, cores, input_gen_s)
        for k in [k for k, v in layer.items() if v is None]:
            del layer[k]
            unmeasured.append({"name": k, "why": (
                "no untraced pass fit in --seconds; compare "
                "bench.traced_pass_s with an untraced run's pass_s"
                if k == "bench.trace_overhead_frac"
                else "no such event in the traced passes")})
        record["per_layer"] = {k: {"value": v, "unit": unit_of(k)}
                               for k, v in layer.items()}
        metrics = {k: record["per_layer"][k] for k in PER_LAYER}
    else:
        metrics = {k: record["end_to_end"][k] for k in END_TO_END}
    record["unmeasured"] = unmeasured
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
