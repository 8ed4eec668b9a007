#!/usr/bin/env python3
"""Benchmark of the graft engine: F1 lap analytics, and the scan guard,
LLM-pipeline operators and curate/increment pipeline of its extension.

    python3 perfbench/run.py --workload laps_sf0.1 --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --seed 1            # every workload in BENCHMARK.json

Run from the repository root. The first run builds the engine and the
harness (sbt, offline), generates the FixtureGen inputs and runs the
oracle check of every workload; later runs reuse all three while the
sources and inputs they were made from are unchanged. Each workload runs
in a fresh JVM. The last stdout line is one JSON object: correct,
attempted, failed and metrics (end-to-end with --trace 0, per-layer with
--trace 1). Everything the runs write stays under .perfbench/.
See perfbench/BENCHMARK.md."""
import argparse
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
WARM_SF = "0.001"
HEAP = "4g"
MAX_PASSES = 64

LAPS = ["q01_avg_value_by_user", "q02_equal_weight_by_day", "q03_speed_consistency",
        "q04_day_normalized", "q05_pareto_rank", "q06_slope_by_user_type",
        "q07_slope_price_qty", "q32_clean_filter_chain", "q78_slope_summary"]
WORKLOADS = {
    # the paper's Q1-Q3 at the gate scale: bound by per-query overhead
    "laps_sf0.1": {"sf": "0.1", "queries": LAPS},
    # the extension at a scale where lineitem passes the scan guard's
    # 12 MB/split floor: guard winner q11 and opted-out q122 and q10,
    # text and dedup kernels q18/q110/q23, k-core supersteps q150, then
    # one curate -> land -> fresh-session increment cycle
    "llm_pipeline_sf0.15": {"sf": "0.15", "curate": True, "queries": [
        "q11_star_revenue", "q122_skew_audit", "q10_integrity_events",
        "q18_text_stats", "q110_unigram_logprob", "q23_simhash_pairs", "q150_kcore"]},
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def sha(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def call(cmd, timeout, env=None, cwd=ROOT, capture=True):
    """Run a child process in its own process group and wait for it; on
    timeout the whole group is killed."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, text=True,
                         stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
                         stderr=subprocess.PIPE)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise BenchError(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    if p.returncode != 0:
        raise BenchError(f"exit {p.returncode}: {' '.join(cmd[:3])} ...\n{err[-3000:]}")
    return out or ""


# ---------------------------------------------------------------- build

def engine_sources():
    return glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)


def build():
    """Compile engine + harness with sbt when their sources changed.
    Returns (classpath, seconds spent building)."""
    srcs = engine_sources() + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) \
        + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    stamp = sha(srcs)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(cp_file):
        return open(cp_file).read().strip(), 0.0
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    out = call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                "export Runtime/fullClasspath"], timeout=800, env=env, cwd=HERE)
    cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, time.time() - t0


def java(cp, main, args, tmp):
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap size: no resizing after the harness's full collections
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + opens + ["-cp", cp, main] + list(args))


def java_env(tmp):
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), PERFBENCH_CORES=str(cores()),
                SPARK_LOCAL_DIRS=tmp)


# ----------------------------------------------------------------- data

def data_root():
    gen = os.path.join(ROOT, "src/main/scala/graft/tools/FixtureGen.scala")
    return os.path.join(WORK, "data", sha([gen])), sha([gen])


def sf_dir(sf):
    return os.path.join(data_root()[0], f"sf{sf}")


def ensure_data(cp, sfs):
    """Generate missing FixtureGen scale factors into a cache keyed by
    FixtureGen's source hash. Returns seconds spent generating."""
    missing = [sf for sf in sorted(set(sfs))
               if not os.path.exists(os.path.join(sf_dir(sf), ".complete"))]
    if not missing:
        return 0.0
    log(f"generating FixtureGen data for sf {', '.join(missing)}")
    for sf in missing:
        shutil.rmtree(sf_dir(sf), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp", "gen")
    t0 = time.time()
    call(java(cp, "perfbench.Harness", ["gen", data_root()[0]] + missing, tmp),
         timeout=800, env=java_env(tmp))
    for sf in missing:
        open(os.path.join(sf_dir(sf), ".complete"), "w").close()
    shutil.rmtree(tmp, ignore_errors=True)
    return time.time() - t0


def fingerprint(sf):
    """(name, length, mtime) of every input file of one scale factor."""
    return [(os.path.basename(p), os.path.getsize(p), int(os.path.getmtime(p)))
            for p in sorted(glob.glob(os.path.join(sf_dir(sf), "*.parquet")))]


# --------------------------------------------------------------- oracle

def verdict(cp, name, spec):
    """Oracle check of a query workload: graft.Verify dumps the queries,
    tools/check_oracle.py compares them with DuckDB over the same files.
    The verdict is kept per (engine build, inputs, queries, cores), so a
    run re-checks whenever any of them changed."""
    key = hashlib.sha256(json.dumps(
        [sha(engine_sources()), fingerprint(spec["sf"]), spec["queries"], cores()]
    ).encode()).hexdigest()[:16]
    path = os.path.join(WORK, "verify", f"{name}-{key}.json")
    if os.path.exists(path):
        return json.load(open(path))
    log(f"oracle check of {name}")
    out_dir = os.path.join(WORK, "tmp", "verify_" + name)
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp", "verify_jvm")
    t0 = time.time()
    call(java(cp, "graft.Verify", [sf_dir(spec["sf"]), out_dir, ",".join(spec["queries"])],
              tmp), timeout=900, env=java_env(tmp))
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools/check_oracle.py"), out_dir,
                        sf_dir(spec["sf"])] + spec["queries"], cwd=ROOT, text=True,
                       capture_output=True, timeout=900)
    status = {q: False for q in spec["queries"]}
    for line in p.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            status[parts[1].rstrip(":")] = parts[0] == "PASS"
    res = {"queries": status, "seconds": time.time() - t0,
           "log": [l for l in p.stdout.splitlines() if l.startswith(("PASS", "FAIL"))]}
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(res, f, indent=1)
    return res


def expected_outputs():
    return json.load(open(os.path.join(HERE, "expected_outputs.json")))


def n_docs(sf):
    # FixtureGen.counts: documents = max(500, round(50000 * sf)), ids 0..n-1
    return max(500, round(50000 * float(sf)))


def output_key(sf, out):
    return "sf{}/{}".format(sf, "-".join(str(b) for b in out["bounds"]))


def outputs_of(out):
    return {k: out.get(k) for k in
            ("stage_counts", "increment_counts", "published_rows", "published_digest")}


def check_outputs(sf, out):
    """Compare one curate cycle's counts and published-batch digest with
    the values recorded for these inputs and this batch slice."""
    exp = expected_outputs().get(data_root()[1], {}).get(output_key(sf, out))
    return exp is not None and exp == outputs_of(out), outputs_of(out)


# ------------------------------------------------------------------ run

def harness_run(cp, name, spec, seed, seconds, trace, tag, slices=None, queries=None):
    """One harness process. `slices` replaces the seeded batch slice with
    one pipeline cycle per listed slice (used to record expected outputs)."""
    run_dir = os.path.join(WORK, "tmp", f"{name}-{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    queries = spec["queries"] if queries is None else queries
    orders = benchlib.pass_orders(queries, seed, MAX_PASSES)
    conf = {"workload": name, "queries": ",".join(queries),
            "orders": ";".join(",".join(o) for o in orders),
            "curate": str(bool(spec.get("curate"))).lower(),
            "sf_dir": sf_dir(spec["sf"]), "warm_dir": sf_dir(WARM_SF),
            "seconds": str(seconds), "trace": str(trace), "cores": str(cores()),
            "local_dir": run_dir, "out": out, "cycles": len(slices or [seed])}
    if spec.get("curate"):
        bounds = [benchlib.batch_bounds(n_docs(spec["sf"]), s)[1:] for s in slices or [seed]]
        for i, k in enumerate(("corpus_lo", "batch_lo", "batch_hi")):
            conf[k] = ",".join(str(b[i]) for b in bounds)
    props = os.path.join(run_dir, "config.properties")
    with open(props, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={v}\n")
    t0 = time.time()
    call(java(cp, "perfbench.Harness", ["run", props], run_dir), timeout=600,
         env=java_env(run_dir))
    res = json.load(open(out))
    res["process_s"] = time.time() - t0
    res["config"] = conf
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def end_to_end(res, ver, spec):
    """End-to-end metrics and correctness of one run, from its untraced
    passes. Returns (metrics, extra lines, attempted, failed, correct)."""
    # every timed execution counts toward failures; times come only from
    # untraced passes (a traced run's settling pass is not timed either)
    passes = [p for p in res["passes"] if not p["traced"] and not p.get("settle")]
    live = {p["pass"] for p in passes}
    steps = [s for s in res["steps"] if s["step"] != "outputs"]
    outputs = [s for s in res["steps"] if s["step"] == "outputs"]
    checks = [check_outputs(spec["sf"], o) for o in outputs]
    ok_map = ver["queries"]
    attempted, failed, _ = benchlib.accounting(
        res["queries"], ok_map, steps, [c[0] for c in checks])
    _, _, samples = benchlib.accounting(
        [q for q in res["queries"] if q["pass"] in live], ok_map)
    steps = [s for s in steps if s["pass"] in live]

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0
    # one query pass and, where the workload has it, one pipeline cycle
    total = med(p["total_s"] for p in passes if not p.get("pipeline")) \
        + med(p["total_s"] for p in passes if p.get("pipeline"))
    m = {
        "setup_s": (res["setup_s"], "s"),
        "total_s": (total, "s"),
        "peak_heap_mb": (max(p["post_gc_heap_mb"] for p in res["passes"]), "MB"),
    }
    # printed, not gated: with 7-9 executions per run its run-to-run
    # spread reached the largest bound BENCHMARK.json may set
    extra = [f"query_p50_s {med(samples):.4f} s (n={len(samples)})",
             f"failed_ratio {failed / attempted:.6f} ratio ({failed}/{attempted})"]
    t = benchlib.tail(samples)
    extra.append(f"query_tail_s {t[1]:.4f} s (p{t[0]:.1f}, n={t[2]}, 10 beyond)" if t
                 else f"query_tail_s not reported (n={len(samples)}, needs > 20)")
    if outputs:
        def step(name):
            return med(s["wall_s"] for s in steps if s["step"] == name)
        extra += [f"curate_s {step('curate') + step('write_artifacts'):.4f} s",
                  f"increment_s {step('read_artifacts') + step('increment'):.4f} s"]
        o = outputs[0]
        if o["input_bytes"]:
            extra.append("artifact_bytes_per_input_byte "
                         f"{o['artifact_bytes'] / o['input_bytes']:.6f} ratio")
        for ok, got in checks:
            if not ok:
                extra.append(f"pipeline outputs differ from expected: {json.dumps(got)}")
    for q in res["queries"]:
        if not q["ok"]:
            extra.append(f"query {q['name']} threw: {q['error']}")
    for st in res["steps"]:
        if st["step"] != "outputs" and not st["ok"]:
            extra.append(f"pipeline step {st['step']} threw: {st['error']}")
    for name, ok in sorted(ok_map.items()):
        if not ok:
            extra.append(f"oracle check FAIL {name}")
    correct = failed == 0 and all(ok_map.values()) and bool(passes)
    return m, extra, attempted, failed, correct


def run_workload(cp, name, seed, seconds, trace, prep):
    spec = WORKLOADS[name]
    ver = verdict(cp, name, spec)
    tag = f"seed{seed}-trace{trace}"
    res = harness_run(cp, name, spec, seed, seconds, trace, tag)
    m, extra, attempted, failed, correct = end_to_end(res, ver, spec)
    if trace:
        layer = benchlib.per_layer(res, cores())
        selfs = benchlib.self_times(res)
        metrics = {k: (v, UNITS.get(k, unit_of(k))) for k, v in layer.items()}
        # end-to-end figures come only from untraced runs
        extra = [l for l in extra if l.startswith(("failed_ratio", "query q", "oracle",
                                                   "pipeline "))]
        extra += [f"{k} {v:.4f} s" for k, v in selfs.items()]
        extra.append(f"tracing overhead {layer['trace.overhead_ratio']:+.4f} "
                     "(traced vs untraced pass total_s)")
    else:
        metrics = m
    # fingerprints of what was measured, kept with the full record
    record = {"workload": name, "seed": seed, "trace": trace, "commit": commit(),
              "cores": cores(), "heap": HEAP, "max_heap_mb": res["max_heap_mb"],
              "spark_conf": res["spark_conf"], "spark_version": res["spark_version"],
              "inputs": {"sf": spec["sf"], "files": fingerprint(spec["sf"]),
                         "warm": fingerprint(WARM_SF), "fixturegen": data_root()[1]},
              "prepare_s": prep, "metrics": {k: v[0] for k, v in metrics.items()},
              "end_to_end": {k: v[0] for k, v in m.items()}, "notes": extra,
              "verdict": ver, "result": res}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{name}-{tag}.json"), "w") as f:
        json.dump(record, f)
    return metrics, extra, attempted, failed, correct


UNITS = {"catalyst.rule_effective_ratio": "ratio", "scheduler.busy_ratio": "ratio",
         "scheduler.stage_skew": "ratio", "staging.reuse_ratio": "ratio",
         "trace.overhead_ratio": "ratio", "graph.jobs_per_query": "count"}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_read") or name.endswith("_written"):
        return "bytes"
    return "count"


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def listed_workloads():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(path):
        return [w["name"] for w in json.load(open(path))["workloads"]]
    return list(WORKLOADS)


def prepare(names):
    """Build, generate inputs and run the oracle checks that every listed
    workload needs, so only the first run in a checkout pays for them."""
    for p in ("src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, p)):
            raise BenchError(f"{p} not found: run from the root of a repository checkout")
    os.makedirs(WORK, exist_ok=True)
    cp, build_s = build()
    gen_s = ensure_data(cp, [WARM_SF] + [WORKLOADS[n]["sf"] for n in names])
    t0 = time.time()
    for n in names:
        verdict(cp, n, WORKLOADS[n])
    return cp, {"build_s": build_s, "gen_s": gen_s, "oracle_s": time.time() - t0}


def record_expected(names):
    cp, _ = prepare(names)
    exp = expected_outputs()
    for name in names:
        spec = WORKLOADS[name]
        if not spec.get("curate"):
            continue
        res = harness_run(cp, name, spec, 0, 0, 0, "record",
                          slices=list(range(benchlib.N_SLICES)), queries=[])
        table = exp.setdefault(data_root()[1], {})
        for o in (s for s in res["steps"] if s["step"] == "outputs"):
            if o.get("increment_counts") is None:
                raise BenchError(f"{name}: a pipeline step failed, nothing recorded")
            table[output_key(spec["sf"], o)] = outputs_of(o)
            print(output_key(spec["sf"], o), json.dumps(outputs_of(o)))
    with open(os.path.join(HERE, "expected_outputs.json"), "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", help="one workload; default: every listed workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="run every batch slice once and record its pipeline outputs "
                         "as the expected values (after a deliberate change to them)")
    args = ap.parse_args()
    names = listed_workloads()
    if args.record_expected:
        return record_expected(names)
    if args.workload and args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}; known: {', '.join(WORKLOADS)}")
    todo = [args.workload] if args.workload else names
    cp, prep = prepare(sorted(set(names + todo)))
    for k, v in prep.items():
        print(f"{k} {v:.4f} s (preparation, not part of setup_s)")
    results = []
    for name in todo:
        metrics, extra, attempted, failed, correct = run_workload(
            cp, name, args.seed, args.seconds, args.trace, prep)
        print(f"== {name} seed={args.seed} trace={args.trace}")
        for k, (v, unit) in metrics.items():
            print(f"{k} {v:.6g} {unit}")
        for line in extra:
            print(line)
        results.append((name, metrics, attempted, failed, correct))
    # with several workloads, metric names carry the workload as a prefix
    prefix = len(results) > 1
    print(json.dumps({
        "correct": all(r[4] for r in results),
        "attempted": sum(r[2] for r in results),
        "failed": sum(r[3] for r in results),
        "metrics": {(f"{name}/{k}" if prefix else k): {"value": v, "unit": u}
                    for name, metrics, *_ in results for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)
