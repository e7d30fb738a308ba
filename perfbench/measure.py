"""One benchmark run: generate the seeded inputs, run the harness JVM,
check every result against DuckDB, and derive the metrics."""
import json
import os

import oracle
import stats
import workloads

API_CLIENTS = 2
# 34 requests: three measured passes give 102 samples, ten beyond p90
API_REQUESTS = 34
# api results compared in full per run (a seeded sample: each write costs a
# Spark job); every response is still checked against DuckDB's row count
API_VERIFIED = 6
# untimed sweeps between the cold pass and the measured passes. api_query
# latency keeps falling for hundreds of requests while the JIT compiles
# (on a 4-core box a 32-request sweep went from 4.2 s after the cold pass
# to 2.8 s ten sweeps later); the budget allows two sweeps, so 102
# requests come before the first timed one. The registry workloads' cold
# pass serves as their warm-up.
WARMUP_SWEEPS = {"api_query": 2, "curation": 0, "stream_replay": 0}
# A full d/e/m pass takes ~65 s cold and the full s-family ~25 s per pass
# on a 4-core box, several times a run's share of the benchmark's time
# budget (70 runs in under an hour). So the registry workloads run
# small fixed subsets of graft.Bench's headline and worst-offender
# queries: curation keeps one query per kind of stored index (MinHash
# signatures with LSH bands, the incremental-dedup corpus index, IVF
# centroids, PQ codebooks, CDC chunks); stream_replay keeps a windowed
# aggregation and the stream-stream join.
CURATION_QUERIES = (
    "d09_lsh_band_candidates", "d27_incremental_batch_dedup", "e06_ivf_lloyd_ann", "e08_pq_adc_ann",
    "m03_blob_chunk_roundtrip")
STREAM_QUERIES = ("s01_stream_daily_buckets", "s06_stream_interval_join")
# measuring goes on past --seconds until this many warm-pass samples:
# api_query's p90 then has at least ten samples beyond it (three passes).
# curation runs three passes: with three samples of each of its five
# queries, p50 and p90 are the middle sample of one query (over two
# passes they sat on the edge between two queries and jumped between them)
MIN_SAMPLES = {"api_query": 100, "curation": 15, "stream_replay": 0}

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
    "cold_pass_s": "s", "warm_pass_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "query.build_ms": "ms", "query.render_ms": "ms",
    "traversal.graph_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.qe_per_op": "count", "plans.graft_rule_ms": "ms", "plans.graft_rule_effective_frac": "ratio",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count", "spark.job_ms": "ms",
    "spark.core_busy_frac": "ratio", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.off_cpu_frac": "ratio", "spark.rows_read_per_row_out": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.codegen_compile_ms": "ms", "spark.codegen_max_method_bytes": "bytes",
    "spark.executor_gc_s": "s",
    "spark.core_busy_cold_frac": "ratio", "spark.task_run_cold_s": "s", "spark.task_cpu_cold_s": "s",
    "spark.off_cpu_cold_frac": "ratio", "spark.shuffle_write_cold_mb": "MB",
    "spark.shuffle_read_cold_mb": "MB", "spark.spill_cold_mb": "MB", "spark.codegen_compile_cold_ms": "ms",
    "sources.eager_cold_s": "s", "sources.eager_warm_s": "s", "sources.artifacts_built": "count",
    "sources.artifacts_built_warm": "count",
    "sources.artifact_mb": "MB", "sources.warm_resolve_s": "s", "sources.leaked_dirs": "count",
    "streaming.batches": "count", "streaming.input_rows": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.query_planning_s": "s", "streaming.latest_offset_s": "s",
    "streaming.outside_trigger_s": "s", "streaming.batch_p50_ms": "ms", "streaming.batch_p90_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count", "streaming.scratch_mb": "MB",
    "streaming.leaked_dirs": "count",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "setup.warmup_s": "s", "setup.warmup_ops": "count",
    "failed_frac": "ratio", "trace_overhead_frac": "ratio",
}


def inputs(workload, seed, registry):
    if workload == "api_query":
        reqs = workloads.api_requests(seed, API_REQUESTS)
        verify = workloads.sample([r["id"] for r in reqs], API_VERIFIED, seed)
        return {"requests": [{k: r[k] for k in ("id", "template", "json")} for r in reqs],
                "clients": API_CLIENTS, "verify": verify}, reqs
    names = list(CURATION_QUERIES if workload == "curation" else STREAM_QUERIES)
    missing = [n for n in names if n not in registry]
    if missing:
        raise SystemExit(f"perfbench: queries missing from the registry: {missing}")
    return {"orders": workloads.query_orders(names, seed), "verify": names}, names


class Summary:
    def __init__(self, workload, trace):
        self.workload, self.trace = workload, trace
        self.metrics, self.info = {}, {}
        self.attempted, self.failures = 0, []
        self.outside_changed, self.env, self.spans = [], {}, []

    def fail(self, what):
        self.failures.append(what)

    def emit(self):
        if self.outside_changed:
            self.fail(f"shared locations changed: {[c[0] for c in self.outside_changed][:5]}")
        failed = len(self.failures)
        attempted = max(self.attempted, failed, 1)
        self.metrics["failed_frac"] = failed / attempted
        if self.trace:
            os.makedirs(os.path.join(".bench_build", "perfbench", "traces"), exist_ok=True)
            with open(os.path.join(".bench_build", "perfbench", "traces", f"{self.workload}.json"), "w") as f:
                json.dump({"spans": self.spans, "info": self.info}, f)
        units = PER_LAYER if self.trace else END_TO_END
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": float(self.metrics.get(k, 0.0)), "unit": u}
                           for k, u in units.items()}}
        print(json.dumps({"info": dict(self.info, env=self.env, failures=self.failures[:20])},
                         sort_keys=True))
        print(json.dumps(out))


def run(runner, args, data, registry, run_dir):
    cfg, gen = inputs(args.workload, args.seed, registry)
    cfg.update(mode="run", workload=args.workload, trace=args.trace, seconds=args.seconds,
               data_dir=os.path.abspath(data), warmup_sweeps=WARMUP_SWEEPS[args.workload],
               min_samples=MIN_SAMPLES[args.workload])
    res, launch_ms = runner.harness(cfg, run_dir)
    s = Summary(args.workload, args.trace)
    check(s, res, gen, registry, data, run_dir, args.workload, set(cfg["verify"]))
    leaks(s, run_dir)
    derive(s, res, launch_ms, runner.cpus)
    return s


def check(s, res, gen, registry, data, run_dir, workload, verified_ids):
    """The sampled cold-pass results against DuckDB in full; every api
    response's row count (or count) and every timed registry query's
    `count()` against the oracle. The harness already failed any api
    response that differs from the cold pass's response to that request."""
    with open(data + ".stamp") as f:
        cache = oracle.OracleCache(os.path.join(".bench_build", "perfbench", "oracle_cache.json"),
                                   f.read())
    if workload == "api_query":
        items = [(r["id"], r["sql"], r["ordered"], r["scalar"]) for r in gen]
    else:
        items = [(n, registry[n], True, False) for n in gen]
    want = {}
    con = oracle.connect(data, os.path.join(run_dir, "duck_spill"))
    try:
        for key, sql, ordered, scalar in items:
            if sql is None:
                s.attempted += 1
                s.fail(f"{key}: no oracle SQL")
                continue
            want[key] = (cache.get(con, sql, ordered), scalar)
            if key not in verified_ids:
                continue
            s.attempted += 1
            try:
                got = oracle.spark_side(con, os.path.join(run_dir, "verify", key), ordered)
            except Exception as e:  # noqa: BLE001 - an unreadable result is a failed check
                s.fail(f"{key}: {type(e).__name__}: {str(e)[:200]}")
                continue
            why = oracle.compare(got, want[key][0])
            if why:
                s.fail(f"{key}: {why}")
        cache.save()
    finally:
        con.close()
    for o in res["ops"]:
        s.attempted += 1
        fp, scalar = want.get(o["name"], (None, False))
        got, what = (o["value"], "count") if scalar else (o["rows"], "rows")
        expected = fp and (fp["first"] if scalar else fp["rows"])
        if not o["ok"]:
            s.fail(f"{o['id']} {o['name']}: {o['err'][:200]}")
        elif fp is not None and got != expected:
            s.fail(f"{o['id']} {o['name']}: {what} {got}, oracle {expected}")


def leaks(s, run_dir):
    """graft_* directories left where nothing should remain once the JVM
    has exited: in the run's tmpdir (other than the reusable stream
    staging links), the artifact root and the stream scratch root."""
    def entries(sub, keep=lambda n: True):
        try:
            return [n for n in os.listdir(os.path.join(run_dir, sub)) if n.startswith("graft") and keep(n)]
        except OSError:
            return []
    src = entries("tmp", lambda n: not n.startswith("graft_stream_")) + entries("artifacts")
    stream = entries("scratch")
    s.metrics["sources.leaked_dirs"] = len(src)
    s.metrics["streaming.leaked_dirs"] = len(stream)
    s.attempted += 2
    if src:
        s.fail(f"sources left {src[:5]}")
    if stream:
        s.fail(f"streaming left {stream[:5]}")


def derive(s, res, launch_ms, cpus):
    m, info = s.metrics, s.info
    setup = res["setup"]
    info.update(setup=setup, workload=s.workload)
    m["setup.warmup_s"] = setup.get("warmup_s", 0.0)
    m["setup.warmup_ops"] = setup.get("warmup_ops", 0)
    m["traversal.graph_ms"] = setup["graph_ms"]
    m["setup_s"] = (res["steady_start_ms"] - launch_ms) / 1000
    m["peak_rss_mb"] = res["jvm"]["vmhwm_mb"]
    m["jvm.gc_s"] = res["jvm"]["gc_ms"] / 1000
    m["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]

    cold = [p for p in res["passes"] if p["kind"] == "cold"]
    warm = [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    ops = [o for o in res["ops"] if o["kind"] == "warm" and not o["traced"]]
    lat = [o["end_ms"] - o["start_ms"] for o in ops]
    wall = sum(p["ms"] for p in warm)
    m["ops_per_s"] = len(ops) / (wall / 1000) if wall else 0.0
    m["latency_p50_ms"] = stats.percentile(lat, 50) if lat else 0.0
    m["latency_p90_ms"] = stats.percentile(lat, 90) if lat else 0.0
    m["cold_pass_s"] = cold[0]["ms"] / 1000
    m["warm_pass_s"] = stats.median([p["ms"] for p in warm]) / 1000
    by_name = {}
    for o in res["ops"]:
        if not o["traced"]:
            by_name.setdefault(f"{o['kind']}:{o['name']}", []).append(o["end_ms"] - o["start_ms"])
    info["op_ms"] = {k: round(stats.median(v), 1) for k, v in sorted(by_name.items())}
    tail = stats.tail_percentile(len(lat))
    info.update(samples=len(lat), warm_passes=len(warm),
                beyond_p90=stats.beyond(len(lat), 90) if lat else 0,
                tail_percentile=tail, tail_ms=stats.percentile(lat, tail) if tail else None,
                verify_s=sum(p["verify_ms"] for p in cold) / 1000,
                pass_ms={k: [round(p["ms"], 1) for p in res["passes"] if p["kind"] == k]
                         for k in ("cold", "warm")},
                artifacts_built={k: [p["artifacts_built"] for p in res["passes"] if p["kind"] == k]
                                 for k in ("cold", "warm")})

    all_warm = [p for p in res["passes"] if p["kind"] == "warm"]
    m["sources.artifacts_built"] = cold[0]["artifacts_built"]
    m["sources.artifacts_built_warm"] = max(p["artifacts_built"] for p in all_warm)
    m["sources.artifact_mb"] = cold[0]["artifact_mb"]
    m["sources.warm_resolve_s"] = stats.median([p["resolve_ms"] for p in all_warm]) / 1000
    if m["sources.artifacts_built_warm"]:
        s.fail(f"a warm pass built {m['sources.artifacts_built_warm']} artifacts")
    if s.trace:
        traced_layers(s, res, cpus)


def traced_layers(s, res, cpus):
    """Per-layer metrics of the traced passes. The steady-state figures
    come from the traced warm passes (per op, or per pass); the `_cold_`
    ones from the traced cold pass."""
    m = s.metrics
    spans = res["spans"]
    s.spans = spans
    passes = [p for p in res["passes"] if p["traced"]]
    warm = [p for p in passes if p["kind"] == "warm"]
    cold = [p for p in passes if p["kind"] == "cold"]
    ops = [o for o in res["ops"] if o["traced"] and o["kind"] == "warm"]
    n_ops, n_it = max(len(ops), 1), max(len(warm), 1)
    L = res["layer"].get("warm", {})
    C = res["layer"].get("cold", {})

    by_op = {}
    for sp in spans:
        by_op.setdefault(sp["op"], []).append(sp)
    build, render = [], []
    for o in ops:
        sps = by_op.get(o["id"], [])
        b = [x for x in sps if x["name"] == "query.build"]
        sv = [x for x in sps if x["name"] == "query.serve"]
        if b and sv:
            b_ms = b[0]["end_ms"] - b[0]["start_ms"]
            a, z = sv[0]["start_ms"], sv[0]["end_ms"]
            jobs = stats.covered([(max(a, j["start_ms"]), min(z, j["end_ms"]))
                                  for j in sps if j["name"] == "spark.job"])
            build.append(b_ms)
            render.append(max(0.0, (z - a) - b_ms - jobs))
    m["query.build_ms"] = stats.median(build)
    m["query.render_ms"] = stats.median(render)

    for ph in ("analysis", "optimization", "planning"):
        m[f"plans.{ph}_ms"] = L.get(f"plans.{ph}_ms", 0.0) / n_ops
    m["plans.qe_per_op"] = L.get("plans.executions", 0.0) / n_ops
    m["plans.graft_rule_ms"] = L.get("plans.graft_rule_ns", 0.0) / 1e6 / n_ops
    runs = L.get("plans.graft_rule_runs", 0.0)
    m["plans.graft_rule_effective_frac"] = L.get("plans.graft_rule_effective_runs", 0.0) / runs if runs else 0.0

    m["spark.jobs_per_op"] = L.get("spark.jobs", 0.0) / n_ops
    m["spark.tasks_per_op"] = L.get("spark.tasks", 0.0) / n_ops
    jobs = L.get("spark.jobs", 0.0)
    m["spark.job_ms"] = L.get("spark.job_ms", 0.0) / jobs if jobs else 0.0
    rows_out = sum(max(o["rows"], 0) for o in ops)
    m["spark.rows_read_per_row_out"] = L.get("spark.rows_read", 0.0) / rows_out if rows_out else 0.0
    m["spark.codegen_max_method_bytes"] = max(L.get("spark.codegen_max_method_bytes", 0.0),
                                              C.get("spark.codegen_max_method_bytes", 0.0))
    m["spark.executor_gc_s"] = L.get("spark.executor_gc_ms", 0.0) / 1000 / n_it

    def pass_layer(counters, sweep_ms, n, suffix):
        """Task, shuffle and codegen figures per pass; core use over the
        passes' sweeps (the ops' own wall time)."""
        run_ms, cpu_ns = counters.get("spark.task_run_ms", 0.0), counters.get("spark.task_cpu_ns", 0.0)
        m[f"spark.core_busy{suffix}frac"] = run_ms / (sweep_ms * cpus) if sweep_ms else 0.0
        m[f"spark.task_run{suffix}s"] = run_ms / 1000 / n
        m[f"spark.task_cpu{suffix}s"] = cpu_ns / 1e9 / n
        m[f"spark.off_cpu{suffix}frac"] = 1 - (cpu_ns / 1e6) / run_ms if run_ms else 0.0
        for k in ("shuffle_write", "shuffle_read", "spill"):
            m[f"spark.{k}{suffix}mb"] = counters.get(f"spark.{k}_bytes", 0.0) / 1048576 / n
        m[f"spark.codegen_compile{suffix}ms"] = counters.get("spark.codegen_compile_ms", 0.0) / n

    pass_layer(L, sum(p["sweep_ms"] for p in warm), n_it, "_")
    pass_layer(C, sum(p["sweep_ms"] for p in cold), max(len(cold), 1), "_cold_")

    m["sources.eager_cold_s"] = sum(o["eager_ms"] for o in res["ops"]
                                    if o["traced"] and o["kind"] == "cold") / 1000
    m["sources.eager_warm_s"] = sum(o["eager_ms"] for o in ops) / 1000 / n_it

    batches = L.get("streaming.batches", 0.0)
    m["streaming.batches"] = batches / n_it
    m["streaming.input_rows"] = L.get("streaming.input_rows", 0.0) / n_it
    for k, key in (("trigger", "triggerExecution"), ("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                   ("commit_offsets", "commitOffsets"), ("query_planning", "queryPlanning"),
                   ("latest_offset", "latestOffset")):
        m[f"streaming.{k}_s"] = L.get(f"streaming.{key}.ms", 0.0) / 1000 / n_it
    if batches:
        streamed = {sp["op"] for sp in spans if sp["name"] == "streaming.batch"}
        wall = sum(o["end_ms"] - o["start_ms"] for o in ops if o["id"] in streamed)
        m["streaming.outside_trigger_s"] = wall / 1000 / n_it - m["streaming.trigger_s"]
        bm = res["batch_ms"].get("warm", [])
        m["streaming.batch_p50_ms"] = stats.percentile(bm, 50)
        m["streaming.batch_p90_ms"] = stats.percentile(bm, 90)
    m["streaming.state_commit_ms"] = L.get("streaming.state_commit_ms", 0.0) / n_it
    m["streaming.state_rows"] = L.get("streaming.state_rows", 0.0) / n_it
    m["streaming.scratch_mb"] = L.get("streaming.scratch_peak_bytes", 0.0) / 1048576

    # each traced warm pass against the untraced passes on either side of
    # it, so the warm passes' own drift (JIT) does not read as overhead
    seq = [p for p in res["passes"] if p["kind"] == "warm"]
    ratios = []
    for i, p in enumerate(seq):
        near = [q["ms"] for q in seq[max(i - 1, 0):i + 2] if not q["traced"]]
        if p["traced"] and near:
            ratios.append(p["ms"] / (sum(near) / len(near)))
    m["trace_overhead_frac"] = stats.median(ratios) - 1 if ratios else 0.0
    self_ms = {}
    st = stats.self_times(spans)
    for sp in spans:
        self_ms[sp["name"]] = self_ms.get(sp["name"], 0.0) + st[sp["id"]]
    s.info["self_ms_by_span"] = {k: round(v, 3) for k, v in sorted(self_ms.items())}
    s.info["plans_unattributed"] = L.get("plans.unattributed", 0.0) + C.get("plans.unattributed", 0.0)
