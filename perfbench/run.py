"""Benchmark entry point.

    python3 perfbench/run.py --workload build-hot --seed 1 --seconds 15 --trace 0

Starts a local[nproc] Spark session, sets up the seeded inputs several
times (the median is ``setup_s``), measures the workload for
``--seconds``, runs the output checks and prints one JSON object as the
last line: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Everything it writes stays under
``.perfbench_work/`` in the current directory.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E = [  # name, unit
    ("setup_s", "s"),
    ("build_tokens_per_s", "tokens/s"),
    ("sketch_table_bytes", "bytes"),
    ("probe_rows_per_s", "rows/s"),
    ("range_probe_rows_per_s", "rows/s"),
    ("bloom_fp_ratio", "ratio"),
    ("insert_p50_s", "s"),
    ("insert_p90_s", "s"),
    ("lookup_mean_ms", "ms"),
    ("lookup_p99_ms", "ms"),
]
LAYERS = [  # name, unit
    ("scan.tasks", "count"), ("scan.task_s_p50", "s"), ("scan.task_s_max", "s"),
    ("exchange.shuffle_write_bytes", "bytes"), ("exchange.shuffle_read_bytes", "bytes"),
    ("exchange.spill_bytes", "bytes"),
    ("merge.tasks", "count"), ("merge.task_s_p50", "s"), ("merge.task_s_max", "s"),
    ("merge.tail_ratio", "ratio"),
    ("agg.partials", "count"), ("agg.partial_bytes_raw", "bytes"), ("agg.partial_bytes_packed", "bytes"),
    ("agg.pack_ratio", "ratio"), ("agg.pack_s", "s"), ("agg.unpack_s", "s"), ("agg.merge_fold_s", "s"),
    ("hashing.items", "count"), ("hashing.ns_per_item", "ns"), ("kernels.arrow_view_s", "s"),
    ("sketches.bloom.insert_ns_per_item", "ns"), ("sketches.hll.update_ns_per_item", "ns"),
    ("sketches.cms.update_ns_per_item", "ns"), ("sketches.kll.update_ns_per_item", "ns"),
    ("sketches.bloom.contains_ns_per_item", "ns"), ("sketches.merge_s_per_gb", "s/GB"),
    ("probe.collect_states_s", "s"), ("probe.state_bytes", "bytes"), ("probe.exec_s", "s"),
    ("probe.tasks", "count"), ("probe.task_s_max", "s"),
    ("cache.insert_jobs", "count"), ("cache.insert_collect_bytes", "bytes"), ("cache.age_s", "s"),
    ("cache.save_s", "s"), ("cache.save_bytes", "bytes"), ("cache.buckets_live", "count"),
    ("cache.udf_state_bytes", "bytes"),
    ("driver.jobs", "count"), ("driver.bytes_collected", "bytes"), ("driver.worker_rss_peak_mb", "MB"),
]
SETUP_ROUNDS = 3
WARM_UP = 2  # untimed build and probe iterations after set-up


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark run: set-up rounds, measured passes and checks."""

    def __init__(self, args, spark) -> None:
        from perfbench import harness, workloads as wl

        self.h, self.wl = harness, wl
        self.args, self.spark = args, spark
        self.sizes = wl.WORKLOADS[args.workload]
        self.work = os.path.join(ROOT, ".perfbench_work", "run")
        self.stages = harness.StageReader(spark)
        self.tracer = harness.Tracer(False)
        self.acc = spark.sparkContext.accumulator({}, wl.SumDict()) if args.trace else None
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # --- bookkeeping ---------------------------------------------------------------
    def check(self, errors: list[str]) -> None:
        """Count one checked operation; it failed if it left messages."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)

    # --- set-up --------------------------------------------------------------------
    def setup_round(self) -> None:
        """Generate and write the inputs, build the probe table and the
        range-probe cache."""
        wl = self.wl
        shutil.rmtree(self.work, ignore_errors=True)
        self.inputs = wl.Inputs(self.args.seed, self.sizes, self.work)
        self.build = wl.BuildOp(self.spark, self.inputs, None)
        self.probe = wl.ProbeOp(self.spark, self.inputs)
        self.range = wl.RangeOp(self.spark, self.inputs)
        self.stream = wl.StreamOp(self.spark, self.inputs, self.tracer)

    def warm_up(self) -> None:
        """Untimed iterations of every operation.  The stream runs until its
        ring is full, so every measured micro-batch ages out one bucket and
        every lookup sees the same ring shape.  The build and the probe
        take about WARM_UP iterations to reach their steady time."""
        self.range.execute()
        for i in range(self.wl.STREAM_FILL):
            self.stream.insert()
            self.stream.think()
            if i == self.wl.STREAM_FILL - 1:
                self.stream.lookups([])
            else:
                self.stream.batch += 1
        for _ in range(WARM_UP):
            self.probe.execute(self.probe.plan())
            self.release()
            self.build.write()

    def release(self) -> None:
        from marker_spark.cacheutil import release_all

        release_all()

    # --- measured rounds -----------------------------------------------------------
    def measure(self, trace: bool) -> dict:
        """Run rounds of every operation until --seconds have passed;
        returns the samples of the untraced rounds under False and, when
        trace is set, of the traced rounds under True.  Traced and untraced
        rounds then alternate U T T U U T ... for twice --seconds, so drift
        in host speed over a run reaches both alike."""
        tr = self.tracer
        passes = {}
        for traced in (False, True) if trace else (False,):
            passes[traced] = {
                "samples": {k: [] for k in ("build", "probe", "probe_collect", "probe_exec", "range", "insert", "lookup")},
                "stages": {k: [] for k in ("build", "probe_collect", "probe_exec", "range", "insert")},
                "results": {"table_bytes": [], "probe": [], "range": []},
                "op_s": dict.fromkeys(self.wl.OPS, 0.0),
                "rounds": 0,
                "acc": {},
            }
        acc0 = dict(self.acc.value) if self.acc is not None else {}
        group = self.stages.group

        def build(s, st, res, traced):
            t0 = time.monotonic()
            with tr.span("agg.build"):
                with group("build") as g:
                    self.build.write()
                meta = self.build.metadata()
            s["build"].append(time.monotonic() - t0)
            self.attempted += 1
            res["table_bytes"].append(sum(r["sz"] for r in meta))
            if traced:
                st["build"].append(self.stages.stages(g))

        def probe(s, st, res, traced):
            with group("probe-collect") as g1:
                t0 = time.monotonic()
                with tr.span("probe.collect_states"):
                    probed = self.probe.plan()
                t1 = time.monotonic()
            with group("probe-exec") as g2:
                with tr.span("probe.exec"):
                    out = self.probe.execute(probed)
                t2 = time.monotonic()
            self.release()
            self.attempted += 1
            s["probe"].append(t2 - t0)
            s["probe_collect"].append(t1 - t0)
            s["probe_exec"].append(t2 - t1)
            res["probe"].append(out)
            if traced:
                st["probe_collect"].append(self.stages.stages(g1))
                st["probe_exec"].append(self.stages.stages(g2))

        def rng(s, st, res, traced):
            with group("range") as g:
                t0 = time.monotonic()
                with tr.span("cache.range_probe"):
                    out = self.range.execute()
                s["range"].append(time.monotonic() - t0)
            self.attempted += 1
            res["range"].append(out)
            if traced:
                st["range"].append(self.stages.stages(g))

        def stream(s, st, res, traced):
            with group("insert") as g:
                t0 = time.monotonic()
                self.stream.insert()
                s["insert"].append(time.monotonic() - t0)
            self.attempted += 1
            if traced:
                st["insert"].append(self.stages.stages(g))
            self.stream.think()
            errors = self.stream.lookups(s["lookup"])
            self.attempted += self.sizes.lookups + len(self.stream.GUARDS)
            self.failed += len(errors)  # one message per failed lookup call
            self.errors.extend(errors)

        bodies = {"build": build, "probe": probe, "range": rng, "stream": stream}
        t_end = time.monotonic() + self.args.seconds * len(passes)
        n = 0
        rounds = [p["rounds"] for p in passes.values()]
        while min(rounds) < self.wl.MIN_ROUNDS or (time.monotonic() < t_end and max(rounds) < self.wl.MAX_ROUNDS):
            traced = trace and n % 4 in (1, 2)
            p = passes[traced]
            tr.enabled = traced
            self.build.set_acc(self.acc if traced else None)
            # round-robin, so drift in host speed during the run reaches
            # every operation alike, and a round's stream batches are
            # apart: the lookups then sample more of the host's slow and
            # fast phases
            for i in range(max(self.sizes.per_round.values())):
                for op in [op for op in self.wl.OPS if i < self.sizes.per_round[op]]:
                    tr.op = f"{op}-{n}-{i}"
                    t0 = time.monotonic()
                    bodies[op](p["samples"], p["stages"], p["results"], traced)
                    p["op_s"][op] += time.monotonic() - t0
            p["rounds"] += 1
            n += 1
            rounds = [p["rounds"] for p in passes.values()]
        tr.enabled = False
        if trace:
            passes[True]["acc"] = {k: v - acc0.get(k, 0) for k, v in self.acc.value.items()}
        return passes

    # --- metrics --------------------------------------------------------------------------
    def e2e(self, m: dict, setup_s: float) -> dict:
        h, s = self.h, m["samples"]
        return {
            "setup_s": setup_s,
            "build_tokens_per_s": self.build.n_tokens / h.median(s["build"]),
            "sketch_table_bytes": float(m["results"]["table_bytes"][-1]),
            "probe_rows_per_s": self.probe.n_rows / h.median(s["probe"]),
            "range_probe_rows_per_s": self.range.n_rows / h.median(s["range"]),
            "bloom_fp_ratio": self.fp_ratio,
            "insert_p50_s": h.median(s["insert"]),
            "insert_p90_s": h.quantile(s["insert"], 0.90),
            "lookup_mean_ms": 1e3 * sum(s["lookup"]) / len(s["lookup"]),
            "lookup_p99_ms": 1e3 * h.quantile(s["lookup"], 0.99),
        }

    def run_checks(self, passes: dict) -> None:
        """Check the outputs of every measured iteration; the FP counts
        (the same on every iteration) set ``bloom_fp_ratio``."""
        from perfbench import checks

        wl = self.wl
        res = {k: [x for p in passes.values() for x in p["results"][k]] for k in ("table_bytes", "probe", "range")}
        self.contains_clock = [0.0, 0]
        self.check(checks.build_table(self.inputs.corpus, self.build.table(), self.contains_clock))
        sizes = sorted(set(res["table_bytes"]))
        self.check([] if len(sizes) == 1 else [f"sketch table size differs between builds: {sizes}"])
        for out in res["probe"]:
            self.check(checks.probe_result(out))
        for out in res["range"]:
            errors, r_hits, r_trials = checks.range_result(
                out, self.range.spec, self.inputs.range_t0, wl.RANGE_DURATION
            )
            self.check(errors)
        d_hits = res["probe"][-1].get(False, (0, 0))[0]
        errors, self.fp_ratio = checks.fp_ratio(d_hits + r_hits, self.probe.fp_trials + r_trials, wl.FP)
        self.check(errors)
        self.check(checks.stream_older(self.stream.older_hits, self.stream.older_tests, wl.FP))

    def layers(self, m: dict) -> dict:
        h, s, st, acc = self.h, m["samples"], m["stages"], m["acc"]
        n_build = len(s["build"])

        def per_iter(stage_lists, pick, reduce):
            vals = [reduce([x for x in it["stages"] if pick(x)]) for it in stage_lists]
            return h.median(vals) if vals else 0.0

        def tasks(xs):
            return sum(x["tasks"] for x in xs)

        def p50(xs):
            return max((x["task_s_p50"] for x in xs), default=0.0)

        def tmax(xs):
            return max((x["task_s_max"] for x in xs), default=0.0)

        def total(key):
            return lambda xs: sum(x[key] for x in xs)

        def is_scan(x):
            return x["input_bytes"] > 0 and x["shuffle_read_bytes"] == 0

        def is_merge(x):
            return x["output_bytes"] > 0

        def every(x):
            return True

        def jobs(name):
            return h.median([it["jobs"] for it in st[name]]) if st[name] else 0.0

        def collected(name):
            return per_iter(st[name], every, total("result_bytes"))

        b = st["build"]
        merge_p50, merge_max = per_iter(b, is_merge, p50), per_iter(b, is_merge, tmax)
        items = acc.get("sketches.items", 0) or 1
        agg = self.agg_replay()
        # the hot source must reach the merge as several partials, or the
        # merge fold goes unmeasured
        n_sources = len(self.build.stats)
        self.check([] if agg["agg.partials"] > n_sources and acc.get("agg.merge_fold_s", 0.0) > 0 else [
            f"build: {agg['agg.partials']:.0f} partials for {n_sources} sources; the merge fold never ran"
        ])
        out = {
            "scan.tasks": per_iter(b, is_scan, tasks),
            "scan.task_s_p50": per_iter(b, is_scan, p50),
            "scan.task_s_max": per_iter(b, is_scan, tmax),
            "exchange.shuffle_write_bytes": per_iter(b, every, total("shuffle_write_bytes")),
            "exchange.shuffle_read_bytes": per_iter(b, every, total("shuffle_read_bytes")),
            "exchange.spill_bytes": per_iter(b, every, total("spill_bytes")),
            "merge.tasks": per_iter(b, is_merge, tasks),
            "merge.task_s_p50": merge_p50,
            "merge.task_s_max": merge_max,
            "merge.tail_ratio": merge_max / merge_p50 if merge_p50 else 0.0,
            **agg,
            "agg.merge_fold_s": acc.get("agg.merge_fold_s", 0.0) / n_build,
            "hashing.items": acc.get("hashing.items", 0) / n_build,
            "hashing.ns_per_item": 1e9 * acc.get("hashing.s", 0.0) / max(acc.get("hashing.items", 0), 1),
            "kernels.arrow_view_s": acc.get("kernels.arrow_view_s", 0.0) / n_build,
            "sketches.bloom.insert_ns_per_item": 1e9 * acc.get("sketches.bloom.insert_s", 0.0) / items,
            "sketches.hll.update_ns_per_item": 1e9 * acc.get("sketches.hll.update_s", 0.0) / items,
            "sketches.cms.update_ns_per_item": 1e9 * acc.get("sketches.cms.update_s", 0.0) / items,
            "sketches.kll.update_ns_per_item": 1e9 * acc.get("sketches.kll.update_s", 0.0)
            / max(acc.get("sketches.kll.items", 0), 1),
            "sketches.bloom.contains_ns_per_item": 1e9 * self.contains_clock[0] / max(self.contains_clock[1], 1),
            "sketches.merge_s_per_gb": acc.get("agg.merge_fold_s", 0.0)
            / max(acc.get("agg.merge_fold_bytes", 0) / 1e9, 1e-12),
            "probe.collect_states_s": h.median(s["probe_collect"]),
            "probe.state_bytes": float(self.probe.state_bytes),
            "probe.exec_s": h.median(s["probe_exec"]),
            "probe.tasks": per_iter(st["probe_exec"], is_scan, tasks),
            "probe.task_s_max": per_iter(st["probe_exec"], is_scan, tmax),
            "cache.insert_jobs": jobs("insert"),
            "cache.insert_collect_bytes": collected("insert"),
            "cache.age_s": self.tracer.total("cache.age") / max(len(s["insert"]), 1),
            "cache.save_s": self.tracer.total("cache.save") / max(self.tracer.counts.get("cache.saves", 0), 1),
            "cache.save_bytes": self.tracer.counts.get("cache.save_bytes", 0)
            / max(self.tracer.counts.get("cache.saves", 0), 1),
            "cache.buckets_live": float(len(self.stream.cache.buckets)),
            "cache.udf_state_bytes": float(self.range.udf_state_bytes),
            "driver.jobs": sum(jobs(k) for k in st),
            "driver.bytes_collected": sum(collected(k) for k in st),
            "driver.worker_rss_peak_mb": self.h.worker_rss_peak_mb(),
        }
        return out

    def agg_replay(self) -> dict:
        """Pack/unpack cost of the build's partial states, timed on the
        driver over the same partials the measured builds produced."""
        from marker_spark.agg import pack_state, unpack_state

        self.build.set_acc(None)
        with self.stages.group("agg-replay"):
            rows = self.build.partials().collect()
        packed = raw = mismatched = 0
        pack_s = unpack_s = 0.0
        for r in rows:
            buf = r["sketch"]
            t0 = time.perf_counter()
            sk = unpack_state(self.build.cls, buf)
            t1 = time.perf_counter()
            again = pack_state(sk)
            t2 = time.perf_counter()
            unpack_s += t1 - t0
            pack_s += t2 - t1
            packed += len(buf)
            raw += len(sk.to_bytes())
            mismatched += again != bytes(buf)
        self.check([f"agg: pack_state(unpack_state(partial)) differs for {mismatched} partials"] if mismatched else [])
        return {
            "agg.partials": float(len(rows)),
            "agg.partial_bytes_raw": float(raw),
            "agg.partial_bytes_packed": float(packed),
            "agg.pack_ratio": raw / packed if packed else 0.0,
            "agg.pack_s": pack_s,
            "agg.unpack_s": unpack_s,
        }


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from perfbench import harness, workloads
        import marker_spark  # noqa: F401  the library under test, from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    host = harness.HostRecord()
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    t0 = time.monotonic()
    spark = harness.start_session(ROOT, work, host.nproc)
    session_start_s = time.monotonic() - t0
    run = Run(args, spark)
    try:
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.monotonic()
            run.setup_round()
            rounds.append(time.monotonic() - t0)
        t0 = time.monotonic()
        run.warm_up()
        warm_up_s = time.monotonic() - t0
        setup_s = harness.median(rounds) + warm_up_s
        print("inputs:", json.dumps(run.inputs.describe()))
        print("setup:", json.dumps({"rounds_s": [round(r, 3) for r in rounds], "warm_up_s": round(warm_up_s, 3)}))
        # keep the harness's own set-up objects out of the collector, so a
        # full collection does not land inside a timed call
        gc.collect()
        gc.freeze()
        passes = run.measure(trace=bool(args.trace))
        base = passes[False]
        busy = sum(base["op_s"].values())
        print("measured:", json.dumps({
            "rounds": base["rounds"],
            "round_share": {k: round(v / busy, 3) for k, v in base["op_s"].items()},
            "samples_s": {k: [round(x, 3) for x in v] for k, v in base["samples"].items() if k != "lookup"},
            "lookups": len(base["samples"]["lookup"]),
            "lookup_ms_p10_p50_p90": [round(1e3 * harness.quantile(base["samples"]["lookup"], q), 3) for q in (0.1, 0.5, 0.9)],
        }))
        run.run_checks(passes)
        metrics = run.e2e(base, setup_s)
        if args.trace:
            traced = passes[True]
            layer = run.layers(traced)
            over = {k: v - metrics[k] for k, v in run.e2e(traced, setup_s).items() if k != "setup_s"}
            print("trace self_s:", json.dumps({k: round(v, 4) for k, v in run.tracer.self_times().items()}))
            print("trace executor_s:", json.dumps({k: round(v, 4) for k, v in traced["acc"].items() if k.endswith("_s") or k.endswith(".s")}))
            print("trace overhead (traced - untraced):", json.dumps({k: round(v, 6) for k, v in over.items()}))
            run.tracer.dump(os.path.join(work, f"trace-{args.workload}-{args.seed}.jsonl"))
    except Exception:
        traceback.print_exc()
        run.check(["an operation raised"])
        metrics = {}
    finally:
        harness.stop_session(spark)
    host_rec = host.as_dict()
    host_rec["session_start_s"] = round(session_start_s, 3)
    print("host:", json.dumps(host_rec))
    for name, unit in E2E:
        if name in metrics:
            print(f"{name} {metrics[name]:.6g} {unit}")
    failed, attempted = run.failed, run.attempted
    print(f"failed_ops_ratio {failed / attempted:.6g} ratio ({failed} of {attempted})")
    for e in run.errors:
        print("CHECK FAILED:", e, file=sys.stderr)
    correct = not run.errors and bool(metrics)
    if args.trace and correct:
        emit(correct, attempted, failed, layer, dict(LAYERS))
    else:
        emit(correct, attempted, failed, metrics, dict(E2E))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
