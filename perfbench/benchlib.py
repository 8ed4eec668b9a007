"""Pure functions of the benchmark: seeded inputs, the percentile rule,
failure accounting, the scan-guard plan matcher, span self times and
the per-layer aggregation. run.py does the I/O; test_benchlib.py tests
these without a JVM."""
import random
import re
import statistics

# Graph-family queries (graft.operators.Graph): iteration-bound supersteps.
GRAPH_QUERIES = ("q58_", "q101_", "q123_", "q150_")
STAGE_PREFIX = "graft_stage_"
N_SLICES = 8


def pass_orders(names, seed, passes):
    """Query order of each timed pass: one seeded permutation per pass."""
    rng = random.Random(f"perfbench-order-{seed}")
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


def batch_bounds(n_docs, seed):
    """Seeded increment slice over doc ids 0..n_docs-1: the corpus is 80%
    of the ids, the batch the next 10%, so every batch id exceeds every
    corpus id (curateIncrement's monotone-id contract). Returns
    (slice, corpus_lo, batch_lo, batch_hi): corpus ids in
    (corpus_lo, batch_lo], batch ids in (batch_lo, batch_hi]."""
    s = seed % N_SLICES
    corpus, batch = n_docs * 8 // 10, n_docs // 10
    step = (n_docs - corpus - batch) // (N_SLICES - 1)
    lo = -1 + s * step
    return s, lo, lo + corpus, lo + corpus + batch


def tail(samples):
    """Highest percentile with at least ten samples beyond it, as
    (percentile, value, n). None when the sample is too small for such a
    percentile to lie above the median."""
    xs = sorted(samples)
    n = len(xs)
    rank = n - 10  # 1-based rank of the value with ten samples above it
    if rank <= n / 2:
        return None
    return 100.0 * rank / n, xs[rank - 1], n


def accounting(queries, verdict, steps=(), outputs_ok=()):
    """Failure accounting over one run. `queries`: timed query records
    (name, ok, wall_s); `verdict`: query name -> True when the oracle
    check passed; `steps`: timed pipeline step records (ok, wall_s);
    `outputs_ok`: one bool per pipeline cycle whose outputs were checked.
    A query that threw, or whose output failed the check, counts as
    failed and its time is never a sample."""
    attempted = failed = 0
    samples = []
    for q in queries:
        attempted += 1
        if q["ok"] and verdict.get(q["name"], False):
            samples.append(q["wall_s"])
        else:
            failed += 1
    for s in steps:
        attempted += 1
        failed += 0 if s["ok"] else 1
    for ok in outputs_ok:
        attempted += 1
        failed += 0 if ok else 1
    return attempted, failed, samples


_NODE = re.compile(r"^( *)(.*)$")
_PASS_THROUGH = ("Project", "Filter", "ColumnarToRow")


def guard_exchanges(plan):
    """Count xxhash64 hash-repartition exchanges sitting directly on a
    parquet scan (through projections, filters and the columnar
    adapter only): the shape graft.engine.Sources' scan guard injects.
    `plan` is the executed plan, one node per line, two spaces of
    indent per depth."""
    nodes = []
    for line in plan.splitlines():
        m = _NODE.match(line)
        nodes.append((len(m.group(1)) // 2, m.group(2)))
    count = 0
    for i, (depth, text) in enumerate(nodes):
        if not text.startswith("Exchange hashpartitioning(xxhash64("):
            continue
        j, d = i + 1, depth
        while j < len(nodes) and nodes[j][0] == d + 1:
            child = nodes[j][1]
            if child.startswith("FileScan parquet") or child.startswith("Scan parquet"):
                count += 1
                break
            if not child.startswith(_PASS_THROUGH):
                break
            j, d = j + 1, d + 1
    return count


def self_time(start, end, children):
    """Duration of [start, end) not covered by any child interval."""
    covered, cur = 0.0, start
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= cur:
            continue
        covered += e - max(s, cur)
        cur = e
    return (end - start) - covered


def attribute(qes, spans):
    """Place each query-execution record in the harness span whose
    [start_ms, end_ms] holds its planning time. Returns {span_id: [qe]}."""
    out = {}
    for qe in qes:
        for sid, (s, e) in spans.items():
            if s <= qe["at_ms"] <= e:
                out.setdefault(sid, []).append(qe)
                break
    return out


def per_layer(result, cores):
    """Per-layer metrics of one traced run, per traced query pass (a
    traced pipeline cycle counts into the pass it follows; the pipeline
    metrics are per cycle), from the harness's records."""
    passes = [p for p in result["passes"] if p["traced"]]
    n = max(1, sum(1 for p in passes if not p.get("pipeline")))
    queries = [q for q in result["queries"] if q["traced"]]
    steps = [s for s in result["steps"] if s.get("traced") and "wall_s" in s]
    outputs = [s for s in result["steps"] if s["step"] == "outputs"
               and s["pass"] in {p["pass"] for p in passes}]
    trace = result["trace"]
    jobs = [r for r in trace if r["ev"] == "job"]
    stages = [r for r in trace if r["ev"] == "stage"]
    qes = [r for r in trace if r["ev"] == "qe"]

    spans = {}
    for q in queries:
        spans[q["id"] + "/construct"] = (q["start_ms"], q["mid_ms"])
        spans[q["id"] + "/execute"] = (q["mid_ms"], q["end_ms"])
    for s in steps:
        spans[s["id"]] = (s["start_ms"], s["end_ms"])
    placed = attribute(qes, spans)
    sink_qes = [qe for sid, xs in placed.items() if sid.endswith("/execute") for qe in xs]

    scan = [s for s in stages if s["bytes_read"] > 0]
    ratios = sorted(s["task_max_ms"] / s["task_median_ms"]
                    for s in stages if s["task_median_ms"] > 0)
    stage_writes = [qe for qe in qes if STAGE_PREFIX in qe["write_path"]]
    stage_reads = sum(qe["stage_scans"] for qe in qes)
    graph = [q for q in queries if q["name"].startswith(GRAPH_QUERIES)]
    graph_ids = {q["id"] for q in graph}
    graph_jobs = [j for j in jobs if j["span"].split("/")[0] in graph_ids]
    task_s = sum(s["run_ms"] for s in stages) / 1e3
    wall = sum(p["total_s"] for p in passes)
    untraced = [p["total_s"] for p in result["passes"]
                if not p["traced"] and not p.get("pipeline") and not p.get("settle")]
    traced_q = [p["total_s"] for p in passes if not p.get("pipeline")]

    def step_mean(name):
        xs = [s["wall_s"] for s in steps if s["step"] == name and s["ok"]]
        return statistics.mean(xs) if xs else 0.0

    def out_mean(f):
        xs = [f(o) for o in outputs if o.get("increment_counts")]
        return statistics.mean(xs) if xs else 0.0

    planning = sum(qe["analysis_ms"] + qe["optimization_ms"] + qe["planning_ms"]
                   for qe in sink_qes) / 1e3
    execute = sum(q["end_ms"] - q["mid_ms"] for q in queries) / 1e3
    rule_inv = sum(qe["rule_invocations"] for qe in qes)

    m = {
        "entry.construct_s": sum(q["construct_s"] for q in queries) / n,
        "entry.construct_jobs": sum(1 for j in jobs if j["span"].endswith("/construct")) / n,
        "catalyst.analysis_s": sum(qe["analysis_ms"] for qe in qes) / 1e3 / n,
        "catalyst.optimization_s": sum(qe["optimization_ms"] for qe in qes) / 1e3 / n,
        "catalyst.planning_s": sum(qe["planning_ms"] for qe in qes) / 1e3 / n,
        "catalyst.rule_effective_ratio":
            sum(qe["rule_effective"] for qe in qes) / rule_inv if rule_inv else 0.0,
        "plans.graft_rule_s": sum(qe["graft_rule_ns"] for qe in qes) / 1e9 / n,
        "sources.bytes_read": sum(s["bytes_read"] for s in stages) / n,
        "sources.records_read": sum(s["records_read"] for s in stages) / n,
        "sources.scan_tasks": sum(s["tasks"] for s in scan) / n,
        "sources.scan_stage_s": sum(s["complete"] - s["submit"] for s in scan) / 1e3 / n,
        "sources.guard_exchanges": sum(guard_exchanges(qe["plan"]) for qe in qes) / n,
        "exchange.shuffles": sum(qe["shuffles"] for qe in qes) / n,
        "exchange.broadcasts": sum(qe["broadcasts"] for qe in qes) / n,
        "exchange.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages) / n,
        "exchange.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages) / n,
        "exchange.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3 / n,
        "exchange.spill_bytes": sum(s["spill_bytes"] for s in stages) / n,
        "scheduler.jobs": len(jobs) / n,
        "scheduler.stages": len(stages) / n,
        "scheduler.tasks": sum(s["tasks"] for s in stages) / n,
        "scheduler.task_s": task_s / n,
        "scheduler.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9 / n,
        "scheduler.gc_s": sum(s["gc_ms"] for s in stages) / 1e3 / n,
        "scheduler.launch_wait_s": sum(s["launch_wait_ms"] for s in stages) / 1e3 / n,
        "scheduler.busy_ratio": task_s / (wall * cores) if wall else 0.0,
        "scheduler.stage_skew": statistics.median(ratios) if ratios else 1.0,
        "scheduler.failed_tasks": sum(s["failed_tasks"] for s in stages) / n,
        "staging.writes": len(stage_writes) / n,
        "staging.bytes_written": sum(qe["write_bytes"] for qe in stage_writes) / n,
        "staging.write_s": sum(qe["dur_ms"] for qe in stage_writes) / 1e3 / n,
        "staging.reads": stage_reads / n,
        "staging.reuse_ratio": stage_reads / len(stage_writes) if stage_writes else 0.0,
        "graph.jobs_per_query": len(graph_jobs) / len(graph) if graph else 0.0,
        "graph.query_s": statistics.mean(q["wall_s"] for q in graph) if graph else 0.0,
        "pipeline.curate_s": step_mean("curate"),
        "pipeline.write_artifacts_s": step_mean("write_artifacts"),
        "pipeline.read_artifacts_s": step_mean("read_artifacts"),
        "pipeline.increment_s": step_mean("increment"),
        "pipeline.artifact_bytes": out_mean(lambda o: o["artifact_bytes"]),
        "pipeline.batch_mixed": out_mean(lambda o: o["increment_counts"][4]),
        "pipeline.revoked": out_mean(lambda o: o["increment_counts"][6]),
        "sink.execute_s": max(0.0, execute - planning) / n,
        "trace.overhead_ratio": statistics.median(traced_q) / statistics.median(untraced) - 1
        if untraced and traced_q else 0.0,
    }
    return m


def self_times(result):
    """Self time per layer, summed over traced query spans: the part of
    each span its child spans do not cover. Query span children are
    construct and execute; jobs are children of the phase that started
    them, and stages children of their job."""
    queries = [q for q in result["queries"] if q["traced"]]
    jobs = [r for r in result["trace"] if r["ev"] == "job"]
    stages = [r for r in result["trace"] if r["ev"] == "stage"]
    by_span = {}
    for j in jobs:
        by_span.setdefault(j["span"], []).append((j["start"], j["end"]))
    by_job = {}
    for s in stages:
        by_job.setdefault(s["job"], []).append((s["submit"], s["complete"]))
    out = {"self.construct_s": 0.0, "self.execute_s": 0.0, "self.job_s": 0.0,
           "self.stage_s": 0.0}
    for q in queries:
        out["self.construct_s"] += self_time(
            q["start_ms"], q["mid_ms"], by_span.get(q["id"] + "/construct", [])) / 1e3
        out["self.execute_s"] += self_time(
            q["mid_ms"], q["end_ms"], by_span.get(q["id"] + "/execute", [])) / 1e3
    for j in jobs:
        out["self.job_s"] += self_time(j["start"], j["end"], by_job.get(j["id"], [])) / 1e3
    for s in stages:
        out["self.stage_s"] += (s["complete"] - s["submit"]) / 1e3
    return out

