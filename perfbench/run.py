"""feray-spark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload feature_batch --seed 1 \\
        --seconds 15 --trace 0 [--smoke]

Run from the repository root. Inputs are generated once from a fixed
data seed and cached under ``$CARGO_TARGET_DIR`` (default
``.bench_build``); the workload seed drives operation order, lookup
keys and append batches. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics (see ``spec.py`` for both, and
for the settling rule). ``--smoke`` runs at sf0.001 without
replication, for the benchmark's own test. Every output is checked
off the clock; a failed check makes the command exit 1. The last
line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# the library under test and its parity harness; without them (a
# checkout holding only the benchmark) this import fails and the
# command exits non-zero before printing a result
import feray_spark  # noqa: E402,F401
import tests.oracle_utils  # noqa: E402,F401

import datagen  # noqa: E402
import sparkproc  # noqa: E402
import spec  # noqa: E402
from checks import CheckLog  # noqa: E402
from spans import RssSampler, Tracer, host_cpu_ticks, process_age_s, tree_cpu_s  # noqa: E402
from workloads import WORKLOADS, Context  # noqa: E402


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)] if xs else 0.0


def install_wrappers(tracer: Tracer) -> None:
    """Traced run only: time the layer calls the benchmark does not
    make itself."""
    from feray_spark import catalog
    from feray_spark.features.store import FeatureStore
    from feray_spark.sources.table_store import TableStore

    original = catalog.load_table
    for mod in list(sys.modules.values()):
        if getattr(mod, "load_table", None) is original:
            tracer.wrap(mod, "load_table", "catalog.load_table")
    tracer.wrap(FeatureStore, "fingerprint", "features.store.fingerprint")
    tracer.wrap(TableStore, "commit_info", "table_store.commit_info")
    tracer.wrap(TableStore, "merge", "table_store.merge")
    tracer.wrap(TableStore, "vacuum", "table_store.vacuum")

    def segment_files(commit, span, args):
        # write(self, df, table, ...) and optimize(self, spark, table, ...)
        store, table = args[0], args[2]
        d = os.path.join(store.root, table)
        prefix = f"seg-{commit.version:08d}-"
        for seg in (n for n in os.listdir(d) if n.startswith(prefix)):
            for dirpath, _, files in os.walk(os.path.join(d, seg)):
                for f in files:
                    if f.endswith(".parquet"):
                        span.counters["files"] = span.counters.get("files", 0) + 1
                        span.counters["bytes"] = span.counters.get("bytes", 0) + os.path.getsize(
                            os.path.join(dirpath, f))

    tracer.wrap(TableStore, "write", "table_store.write", post=segment_files)
    tracer.wrap(TableStore, "optimize", "table_store.optimize", post=segment_files)


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Pass:
    """One pass: its on-clock time, process-tree CPU, spans and
    per-operation samples."""

    def __init__(self, traced, ops_t, cpu, spans, samples, store_bytes):
        self.traced, self.ops_t = traced, ops_t
        self.cpu, self.spans, self.samples = cpu, spans, samples
        self.store_bytes = store_bytes

    def tot(self, name, key=None):
        """Summed duration (or counter ``key``) of spans called ``name``."""
        sel = [s for s in self.spans if s.name == name]
        if key is None:
            return sum(s.dur for s in sel)
        return sum(s.counters.get(key, 0) for s in sel)

    def op_total(self, key):
        """Counter ``key`` summed over the pass's operations."""
        return sum(s.counters.get(key, 0) for s in self.spans if s.name == "bench.op")


def run_pass(ctx, workload, rng, check, ops=None) -> Pass:
    if ops is None:
        ops = workload.ops(ctx, rng, check)
        if workload.shuffle:
            ops = [ops[i] for i in rng.permutation(len(ops))]
    ctx.samples = {}
    first_span = len(ctx.tracer.spans)
    cpu0 = tree_cpu_s()
    for name, op in ops:
        ctx.tracer.begin_op(name)
        ctx.log.run(name, op)
    cpu = tree_cpu_s() - cpu0
    ops_t = sum(sum(v) for v in ctx.samples.values())
    store_bytes = tree_bytes(os.path.join(ctx.work_dir, "store"))
    return Pass(ctx.tracer.enabled, ops_t, cpu, ctx.tracer.spans[first_span:],
                ctx.samples, store_bytes)


def layer_metrics(passes, cold, burst, gauges, slots):
    """Per-layer metrics of a traced run, and a note per metric (the
    spread of each count over the traced passes, sample counts)."""
    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced] or traced

    def pooled(key, ps=untraced):
        return [x for p in ps for x in p.samples.get(key, [])]

    def busy(p):
        wall = p.tot("spark.exec") + p.tot("pipeline.sink")
        run_s = (p.tot("spark.exec", "executor_run_ms")
                 + p.tot("pipeline.sink", "executor_run_ms")) / 1e3
        return run_s / (wall * slots) if wall else 0.0

    def lookup_jobs(p):
        sel = [s for s in p.spans if s.name == "bench.op"
               and s.attrs.get("key") == "features.store.lookup"]
        return sum(s.counters.get("jobs", 0) for s in sel) / len(sel) if sel else 0.0

    def stored_ratio(p):
        written = p.tot("table_store.write", "bytes") + p.tot("table_store.optimize", "bytes")
        return p.store_bytes / written if written else 0.0

    # medians over the traced settled passes
    per_pass = {
        "catalog.load_warm_s": lambda p: p.tot("catalog.load_table"),
        "queries.build_s": lambda p: p.tot("queries.build"),
        "queries.build_jobs": lambda p: p.tot("queries.build", "jobs"),
        "spark.plan_s": lambda p: p.tot("spark.plan"),
        "spark.exec_s": lambda p: p.tot("spark.exec"),
        "spark.jobs": lambda p: p.op_total("jobs"),
        "spark.stages": lambda p: p.op_total("stages"),
        "spark.tasks": lambda p: p.op_total("tasks"),
        "spark.executor_cpu_s": lambda p: p.op_total("executor_cpu_ns") / 1e9,
        "spark.executor_run_s": lambda p: p.op_total("executor_run_ms") / 1e3,
        "spark.jvm_gc_s": lambda p: p.op_total("jvm_gc_ms") / 1e3,
        "spark.slot_busy_ratio": busy,
        "spark.shuffle_write_mb": lambda p: p.op_total("shuffle_write_bytes") / 2**20,
        "spark.spill_mb": lambda p: p.op_total("spill_disk_bytes") / 2**20,
        "spark.input_mb": lambda p: p.op_total("input_bytes") / 2**20,
        "pipeline.build_s": lambda p: p.tot("pipeline.curate_corpus"),
        "pipeline.build_jobs": lambda p: p.tot("pipeline.curate_corpus", "jobs"),
        "pipeline.sink_s": lambda p: p.tot("pipeline.sink"),
        "operators.dedup.cc_s": lambda p: p.tot("operators.dedup.connected_components"),
        "operators.dedup.cc_jobs": lambda p: p.tot("operators.dedup.connected_components", "jobs"),
        "features.store.fingerprint_s": lambda p: p.tot("features.store.fingerprint"),
        "features.store.lookup_jobs": lookup_jobs,
        "table_store.commit_info_s": lambda p: p.tot("table_store.commit_info"),
        "table_store.write_s": lambda p: p.tot("table_store.write"),
        "table_store.files_written": lambda p: p.tot("table_store.write", "files"),
        "table_store.bytes_written_mb": lambda p: p.tot("table_store.write", "bytes") / 2**20,
        "table_store.stored_bytes_ratio": stored_ratio,
        "table_store.merge_s": lambda p: p.tot("table_store.merge"),
        "table_store.commits": lambda p: sum(
            1 for s in p.spans if s.name in ("table_store.write", "table_store.optimize")),
        "table_store.optimize_s": lambda p: p.tot("table_store.optimize"),
        "table_store.files_rewritten": lambda p: p.tot("table_store.optimize", "files"),
        "table_store.vacuum_s": lambda p: p.tot("table_store.vacuum"),
    }
    m, notes = {}, {}
    for name, f in per_pass.items():
        xs = [f(p) for p in traced]
        m[name] = median(xs)
        if spec.PER_LAYER[name][0] == "count":
            notes[name] = f"[{min(xs):g}..{max(xs):g}] over {len(xs)} traced passes"
    lookups = pooled("features.store.lookup", [burst])
    untraced_t = [p.ops_t for p in untraced]
    m.update({
        "session.start_s": gauges["session.start_s"],
        "catalog.load_cold_s": cold.tot("catalog.load_table"),
        "catalog.load_jobs": cold.tot("catalog.load_table", "jobs"),
        "pipeline.keep_ratio": gauges.get("pipeline.keep_ratio", 0.0),
        "operators.dedup.pairs": gauges.get("operators.dedup.pairs", 0.0),
        "table_store.read_files": gauges.get("table_store.read_files", 0.0),
        # operation latencies from the untraced passes
        "features.store.materialize_s": median(pooled("features.store.materialize")),
        "features.store.memo_hit_s": median(pooled("features.store.memo_hit")),
        "table_store.append_s": median(pooled("table_store.append")),
        "features.store.lookup_p50_s": percentile(lookups, 0.5),
        "features.store.lookup_p90_s": percentile(lookups, 0.9),
        "trace.overhead_s": median([p.ops_t for p in traced]) - median(untraced_t),
    })
    notes["catalog.load_jobs"] = "cold pass"
    notes["features.store.lookup_p50_s"] = notes["features.store.lookup_p90_s"] = (
        f"{len(lookups)} untraced lookups, {len(lookups) - int(0.9 * len(lookups))} beyond p90")
    notes["trace.overhead_s"] = (
        f"{len(traced)} traced vs {len(untraced_t)} untraced settled passes")
    return m, notes, traced


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    data = spec.SMOKE if args.smoke else spec.FULL
    sizes = spec.STORE_SMOKE if args.smoke else spec.STORE
    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cache = os.path.join(build, "perfbench")
    work = os.path.join(cache, f"work-{args.workload}-{os.getpid()}")

    data_dir, datagen_s = datagen.ensure_inputs(cache, **data)
    t0 = time.perf_counter()
    spark = sparkproc.start(f"perfbench-{args.workload}", os.path.join(cache, "tmp"))
    spark.range(100_000).selectExpr("sum(id)").collect()
    session_s = time.perf_counter() - t0
    slots = spark.sparkContext.defaultParallelism
    phases = {}
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        log = CheckLog()
        ctx = Context(spark, data_dir, work, tracer, log, sizes)
        os.makedirs(work, exist_ok=True)
        workload = WORKLOADS[args.workload]()
        sparkproc.warm(spark, workload.python_workers)
        workload.setup(ctx)
        setup_s = process_age_s() - datagen_s
        if args.trace:
            install_wrappers(tracer)
        rng = np.random.default_rng(args.seed)
        warmup = 0 if args.smoke else spec.WARMUP[args.workload]
        min_settled = 2 * spec.MIN_SETTLED_TRACED if args.trace else spec.MIN_SETTLED[args.workload]
        if args.smoke:
            min_settled = 2 if args.trace else 1

        with RssSampler() as rss:
            phases["setup"] = setup_s
            steal0 = host_cpu_ticks()
            t2 = time.perf_counter()
            cold = run_pass(ctx, workload, rng, check=False)
            t3 = time.perf_counter()
            run_pass(ctx, workload, rng, check=True)
            t4 = time.perf_counter()
            for _ in range(warmup):
                run_pass(ctx, workload, rng, check=False)
            settled, start = [], time.perf_counter()
            phases.update(cold=t3 - t2, check=t4 - t3, warmup=start - t4)
            while len(settled) < min_settled or time.perf_counter() - start < args.seconds:
                tracer.enabled = bool(args.trace) and len(settled) % 2 == 0
                settled.append(run_pass(ctx, workload, rng, check=False))
            phases["settled"] = time.perf_counter() - start
            steal = [b - a for a, b in zip(steal0, host_cpu_ticks())]
            burst = None
            if args.trace:
                tracer.enabled = False
                burst = run_pass(ctx, workload, rng, False, workload.burst(ctx, rng))
                phases["burst"] = time.perf_counter() - start - phases["settled"]
    finally:
        t5 = time.perf_counter()
        sparkproc.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t5

    attempted, failed = log.attempted, log.failed
    for why in log.reasons[:20]:
        print(f"CHECK FAILED: {why}")
    print(f"workload {args.workload} seed {args.seed}: {len(settled)} settled passes "
          f"(passes {warmup + 3}..{len(settled) + warmup + 2}), {attempted} operations, {failed} failed")
    print(f"bench.datagen_s = {datagen_s:.4f} s  (data-generation cache miss, not in setup_s)")
    print("phase wall times, s: " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    print(f"host steal during the passes: {100 * steal[0] / max(steal[1], 1):.1f}% of the "
          "box's CPU time (wall times stretch with it; compare runs with similar steal)")
    sizing = {**spec.SESSION, **data}
    print(f"session sizing: {json.dumps(sizing)}")
    print("peak_rss_mb by process: " + " ".join(
        f"{k}={v:.0f}" for k, v in sorted(rss.peak_split.items())))

    if args.trace:
        gauges = {"session.start_s": session_s, **ctx.gauges}
        metrics, notes, traced = layer_metrics(settled, cold, burst, gauges, slots)
        print("layer self time per traced pass (median), s:")
        self_by_pass = [Tracer.self_times(p.spans) for p in traced]
        for name in sorted({n for st in self_by_pass for n in st}):
            print(f"  {name:42s} {median([st.get(name, 0.0) for st in self_by_pass]):.4f}")
        for name, (unit, _, moves, where) in spec.PER_LAYER.items():
            note = f"  ({notes[name]})" if name in notes else ""
            print(f"metric {name} = {metrics[name]:.6g} {unit}  -> moves {moves} on {where}{note}")
        print(f"tracing overhead ({args.workload}): traced - untraced pass_s = "
              f"{metrics['trace.overhead_s']:.4f} s")
        tracer.dump(os.path.join(cache, "spans", f"{args.workload}-{args.seed}-{os.getpid()}.json"))
        out = {n: {"value": metrics[n], "unit": spec.PER_LAYER[n][0]} for n in spec.PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "first_pass_s": cold.ops_t,
            "pass_s": median([p.ops_t for p in settled]),
            "cpu_s": median([p.cpu for p in settled]),
            "peak_rss_mb": rss.peak_mb,
            "success_ratio": (attempted - failed) / attempted,
        }
        for name, (unit, _, meaning) in spec.END_TO_END.items():
            print(f"metric {name} = {values[name]:.6g} {unit}  ({meaning})")
        print("settled pass_s samples: " + " ".join(f"{p.ops_t:.3f}" for p in settled))
        print("operation medians over settled passes, s (cold pass in brackets):")
        for key in sorted(cold.samples):
            xs = [x for p in settled for x in p.samples.get(key, [])]
            print(f"  {key:42s} {median(xs):.4f} [{sum(cold.samples[key]):.4f}] n={len(xs)}")
        out = {n: {"value": values[n], "unit": spec.END_TO_END[n][0]} for n in spec.END_TO_END}

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
