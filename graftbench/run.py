"""graft benchmark: one workload, one run.

    python3 graftbench/run.py --workload curation --seed 1 --seconds 12 --trace 0
    python3 graftbench/run.py --all --seed 1        # every workload, untraced
                                                    # then traced

A run builds the engine from source if needed, generates the input
tables from the seed, and drives the workload's queries in JVMs on
local[cpus]: set-up, one cold pass, an untimed settle pass, warm passes
for `--seconds`, and the untimed verification (DuckDB oracle via
tools/check.py, and a stores-cleared against stores-warm fingerprint per
query); see README.md. It prints every metric by name with its unit, and
as its last line one JSON object with the keys correct, attempted,
failed and metrics. `--trace 0` gives
the end-to-end metrics, `--trace 1` the per-layer ones (listeners,
spans, layer probes); the trace's spans go to .work/trace-<workload>.jsonl.
Exit code 0 only when the run completed and every check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(BENCH, ".work")
SF = 0.01
HEAP = "3g"
DEADLINE_S = 170.0
# extra JVMs that only set up; the run JVM gives one more set-up sample
SETUP_PROBES = 1

# Each workload: the query ids it runs (why: README.md), and the tables,
# stores and probe groups its traced run probes (the layer map there).
WORKLOADS = {
    "curation": {
        "queries": ["q35", "q36", "q73", "q74", "q152"],
        "tables": ["documents"],
        "stores": ["gopherSignals", "docContentHash", "benchOverlap",
                   "docBandKeys", "minhashPairs", "minhashComponents",
                   "cappedShingleIndex", "bm25TopRanked"],
        "probes": ["text", "functions"],
    },
    "iterative": {
        "queries": ["q26", "q27", "q118"],
        "tables": ["lineitem", "events"],
        "stores": ["partCoEdges", "eventsHllRegisters"],
        "probes": ["graph", "engine", "streaming"],
    },
}


# The per-layer metrics each probe group records (Harness.layerProbes).
PROBE_METRICS = {
    "graph": [f"operators.Graph.{op}_s" for op in
              ("pagerank", "hits", "labelPropagation", "bfsHops", "triangleCounts")],
    "text": ["operators.Dedup.minhashPairs_s", "operators.Dedup.buildShingleIndex_s",
             "operators.Quality.gopherFlags_s", "operators.Decontam.overlap_s"],
    "engine": ["engine.Ols.fitLinearExact_s", "engine.Ols.fitLinearMeta_s",
               "engine.IterativeTrainer.fit_s"],
    "functions": [f"functions.{f}_s" for f in
                  ("graft_rolling_hash", "graft_simhash60", "graft_word_shingles",
                   "graft_jaro_winkler", "graft_dot", "graft_quant_stats",
                   "scan_text", "scan_embedding", "scan_name")],
    "streaming": ["streaming.chunkstore_build_s", "streaming.batches",
                  "streaming.batch_p50_s", "streaming.rows_per_s"],
}


def probed(workload):
    """The per-layer metrics whose probes the layer map assigns to
    `workload` (the table scans and listener counters are on every one)."""
    spec = WORKLOADS[workload]
    names = {f"kernels.{kind}_s.{store}" for store in spec["stores"]
             for kind in ("build", "read")}
    for g in spec["probes"]:
        names.update(PROBE_METRICS[g])
    return names


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class RunError(Exception):
    pass


_children = []


def _kill_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except OSError:
                pass
            p.wait()


def call(cmd, timeout, cwd=None, env=None):
    """Run `cmd` in its own process group, killing the group on timeout.
    Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    _children.append(p)
    try:
        out, err = p.communicate(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        _kill_children()
        raise RunError(f"timed out after {timeout:.0f} s: {cmd[-1][:80]}")
    finally:
        _children.remove(p)
    if p.returncode != 0:
        sys.stderr.write(err[-4000:])
    return p.returncode, out


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(mode, work, timeout, **kv):
    cmd = ["java", build.NO_PERF_DATA, f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp"] + build.JVM_FLAGS + [
        "-cp", build.classpath(), "graft.bench.Harness", mode,
        f"work={work}", f"cpus={cpus()}"] + [f"{k}={v}" for k, v in kv.items()]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=f"{work}/tmp")
    code, out = call(cmd, timeout, cwd=work, env=env)
    if code != 0:
        raise RunError(f"harness {mode} exited with {code}")
    return out


# ------------------------------------------------------------------ metrics

def group(samples, f=lambda s: s["s"]):
    """Query id -> [f(sample)] over the samples of that query."""
    out = {}
    for s in samples:
        out.setdefault(s["q"], []).append(f(s))
    return out


def median_sum(samples, f=lambda s: s["s"]):
    """Sum over queries of the per-query median of f(sample)."""
    return sum(stats.median(v) for v in group(samples, f).values())


def end_to_end(r, setups):
    warm = [s for s in r["warm"] if "error" not in s]
    per_q = group(warm)
    all_warm = [s["s"] for s in warm]
    tail, pct, n = stats.tail(all_warm)
    return {
        "setup_s": stats.median(setups),
        "cold_total_s": sum(s["s"] for s in r["cold"]),
        "warm_total_s": sum(stats.median(v) for v in per_q.values()),
        "warm_p50_s": stats.median(all_warm),
        "retained_storage_mb": r["retained_storage_mb"],
    }, {"warm_tail_s": tail, "warm_tail_percentile": pct, "warm_samples": n}


def per_layer(r):
    warm = [s for s in r["warm"] if "error" not in s]
    passes = max(s["pass"] for s in r["warm"])

    def per_pass(key):
        return sum(s["counts"].get(key, 0.0) for s in warm) / passes

    wall = sum(s["s"] for s in warm)
    cpu = sum(s["counts"].get("task_cpu_s", 0.0) for s in warm)
    m = {
        "queries.construct_s": median_sum(warm, lambda s: s["construct_s"]),
        "sql.plan_s": median_sum(warm, lambda s: s["plan_s"]),
        "sql.execute_s": median_sum(warm, lambda s: s["s"] - s["construct_s"]),
        "spark.jobs": per_pass("jobs"),
        "spark.stages": per_pass("stages"),
        "spark.tasks": per_pass("tasks"),
        "spark.task_cpu_s": cpu / passes,
        "spark.cpu_util": cpu / (wall * r["cpus"]) if wall else 0.0,
        "spark.scan_mb": per_pass("scan_mb"),
        "spark.scan_rows": per_pass("scan_rows"),
        "spark.shuffle_write_mb": per_pass("shuffle_write_mb"),
        "spark.shuffle_read_mb": per_pass("shuffle_read_mb"),
        "spark.spill_mb": per_pass("spill_mb"),
        "spark.gc_s": sum(s["gc_s"] for s in warm) / passes,
        "kernels.build_s": r["kernels_build_s"],
        "kernels.storage_mb": r["kernels_storage_mb"],
        "kernels.build_ratio": r["kernels_build_ratio"],
        "exec.leaked_rdds": sum(s["leaked_rdds"] for s in warm) / passes,
        "exec.drained_mb": sum(s["drained_mb"] for s in warm) / passes,
        "jvm.heap_after_gc_peak_mb": r["heap_after_gc_peak_mb"],
    }
    m.update(r["probes"])
    return m


def stalls(r, factor=3.0):
    """Queries with a warm run over `factor` x their warm median, or a warm
    median over `factor` x their fastest run."""
    out = []
    for q, v in group([s for s in r["warm"] if "error" not in s]).items():
        med, lo, hi = stats.median(v), min(v), max(v)
        if hi > factor * med or med > factor * lo:
            out.append(f"{q} (warm median {med:.3f} s, min {lo:.3f} s, max {hi:.3f} s)")
    return out


# --------------------------------------------------------------------- run

def oracle_check(data, verify_dir, timeout):
    code, out = call([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                      data, verify_dir], timeout)
    bad = [line for line in out.splitlines() if line.startswith("FAIL")]
    ok = sum(1 for line in out.splitlines() if line.startswith("OK "))
    if code != 0 and not bad:
        bad = [f"FAIL tools/check.py exited with {code}"]
    return ok, bad


def run(workload, seed, seconds, trace, sf=SF, log=sys.stdout):
    t0 = time.monotonic()
    spec = WORKLOADS[workload]
    if not os.path.isfile(os.path.join(ROOT, "tools", "check.py")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RunError(f"{ROOT} is not a graft checkout (no src/main/scala or tools/check.py)")
    build.build(log=sys.stderr)
    t_build = time.monotonic()
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        walls = {"build": t_build - t0}
        t = time.monotonic()
        gen.write(data, seed, sf)
        walls["gen"] = time.monotonic() - t
        left = lambda: DEADLINE_S - (time.monotonic() - t_build)  # noqa: E731
        setups = []
        t = time.monotonic()
        if not trace:
            for _ in range(SETUP_PROBES):
                setups.append(json.loads(jvm("setup", work, left())
                                         .strip().splitlines()[-1])["setup_s"])
        walls["setup_probes"] = time.monotonic() - t
        t = time.monotonic()
        out = os.path.join(work, "result.json")
        verify_dir = os.path.join(work, "verify")
        os.makedirs(verify_dir)
        spans = os.path.join(WORK, f"trace-{workload}.jsonl")
        jvm("run", work, left() - 10, data=data, queries=",".join(spec["queries"]),
            seed=seed, seconds=seconds, trace=int(trace),
            tables=",".join(spec["tables"]), stores=",".join(spec["stores"]),
            probes=",".join(spec["probes"]), verify=verify_dir, out=out,
            spans=spans)
        walls["run_jvm"] = time.monotonic() - t
        with open(out) as f:
            r = json.load(f)
        setups.append(r["setup_s"])
        t = time.monotonic()
        ok, bad = oracle_check(data, verify_dir, left())
        walls["oracle"] = time.monotonic() - t
        print("walls " + ", ".join(f"{k} {v:.1f} s" for k, v in walls.items()),
              file=log)
        return report(workload, r, setups, ok, bad, trace, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(workload, r, setups, oracle_ok, oracle_bad, trace, log):
    spec = load_spec()
    runs = r["cold"] + r["warm"]
    errors = [f"{s['q']} pass {s['pass']}: {s['error']}" for s in runs if "error" in s]
    errors += [f"{v['q']} verify: {v['error']}" for v in r["verify"] if "error" in v]
    errors += [f"oracle: {line}" for line in oracle_bad]
    attempted = len(runs) + len(r["verify"]) + oracle_ok + len(oracle_bad)
    failed = len(errors)
    e2e, extra = end_to_end(r, setups) if r["warm"] else ({}, {})
    p = lambda s: print(s, file=log)  # noqa: E731
    p(f"== graftbench {workload}: {len(r['cold'])} queries, "
      f"{max((s['pass'] for s in r['warm']), default=0)} warm passes, "
      f"oracle {oracle_ok} ok / {len(oracle_bad)} failed, "
      f"{len(r['verify'])} fingerprints, trace={int(trace)}")
    for e in errors:
        p(f"FAILED {e}")
    units = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in e2e.items():
        p(f"{k} {v:.4f} {units.get(k, {}).get('unit', '')}")
    if extra:
        p(f"warm_tail_s {extra['warm_tail_s']:.4f} s, p{extra['warm_tail_percentile']:.1f} "
          f"of {extra['warm_samples']} warm samples")
    p(f"failed_frac {failed / attempted:.4f} ratio "
      f"({failed} of {attempted} runs and checks)")
    p("phase wall " + ", ".join(f"{k} {v:.1f} s" for k, v in r["phase_wall_s"].items())
      + f", run JVM {r['run_wall_s']:.1f} s, setup samples "
      + ", ".join(f"{x:.2f}" for x in setups))
    p(f"kernels_build_s {r['kernels_build_s']:.4f} s, chunkstore_build_s "
      f"{r['chunkstore_build_s']:.4f} s (cold pass)")
    # steadiness over the run's own repetitions
    by_pass = {}
    for s in r["warm"]:
        by_pass[s["pass"]] = by_pass.get(s["pass"], 0.0) + s["s"]
    reps = {"setup_s": setups, "warm_total_s": list(by_pass.values())}
    for k, v in reps.items():
        if len(v) >= 2:
            sp = stats.spread(v)
            bound = units.get(k, {}).get("bound", units["warm_total_s"]["bound"])
            p(f"spread {k} {sp:.4f} over {len(v)} repetitions"
              + (" UNSTEADY" if sp > bound else ""))
    for s in stalls(r):
        p(f"STALL {s}")
    per_q = group(r["warm"])
    for q in sorted(per_q):
        cold = next((s for s in r["cold"] if s["q"] == q), None)
        offs = [s["offset_s"] for s in r["warm"] if s["q"] == q]
        p(f"query {q} cold {cold['s'] if cold else float('nan'):.3f} s, warm median "
          f"{stats.median(per_q[q]):.3f} s, min {min(per_q[q]):.3f} s, "
          f"start offsets {', '.join(f'{o:.1f}' for o in offs)} s")
    if trace:
        metrics = per_layer(r)
        names = [m["name"] for m in spec["per_layer"]]
        last = os.path.join(WORK, f"untraced-{workload}.json")
        if os.path.isfile(last) and e2e:
            base = json.load(open(last))["warm_total_s"]
            p(f"trace_overhead {e2e['warm_total_s'] / base - 1:.4f} ratio "
              f"(traced warm_total_s {e2e['warm_total_s']:.4f} s against "
              f"untraced {base:.4f} s)")
        elsewhere = set().union(*(probed(w) for w in WORKLOADS)) - probed(workload)
        for k in names:
            if k in metrics:
                p(f"{k} {metrics[k]:.6g} {units[k]['unit']}")
            elif k in elsewhere:
                # a probe the layer map assigns to another workload
                metrics[k] = 0.0
                p(f"{k} 0 {units[k]['unit']} (not probed on {workload})")
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = e2e
        if e2e:
            with open(os.path.join(WORK, f"untraced-{workload}.json"), "w") as f:
                json.dump(e2e, f)
    missing = [k for k in names if k not in metrics]
    if missing:
        failed += 1
        p(f"FAILED metrics not measured: {', '.join(missing)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]["unit"]}
                    for k in names if k in metrics},
    }
    return result


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--all", action="store_true",
                    help="every workload, untraced then traced")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help=f"input scale factor (default {SF})")
    a = ap.parse_args(argv)
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    signal.signal(signal.SIGTERM, lambda *_: (_kill_children(), sys.exit(143)))
    try:
        seconds = a.seconds if a.seconds is not None else load_spec()["run_seconds"]
        plan = ([(w, t) for w in sorted(WORKLOADS) for t in (0, 1)] if a.all
                else [(a.workload, a.trace)])
        ok = True
        for w, t in plan:
            res = run(w, a.seed, seconds, bool(t), a.sf)
            ok = ok and res["correct"]
            print(json.dumps(res), flush=True)
    except (RunError, build.BuildError, OSError, ValueError, KeyError) as e:
        _kill_children()
        print(f"graftbench: {type(e).__name__}: {e}", file=sys.stderr)
        return 2
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
