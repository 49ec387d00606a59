"""Benchmark of go_jsonschema_spark on this host: one workload per run.

    python3 perfbench/run.py --workload batch --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  The run

1. generates the workload's input from ``--seed`` and computes its expected
   outputs with DuckDB (cached per seed under ``.perfbench/``, outside every
   measured interval);
2. starts a ``local[nproc]`` Spark session, opens the input, compiles the
   spec cold and runs a fixed number of warm-up units (all of that is
   ``setup_s``);
3. repeats the unit for ``--seconds`` in one closed loop, then checks every
   operation's output;
4. prints a human-readable report, then one JSON line with the end-to-end
   metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

A traced run also writes its spans and every per-layer metric, with the
end-to-end metric each should move, to ``.perfbench/results/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import data  # noqa: E402
import host  # noqa: E402
import trace as tracing  # noqa: E402

# Warm-up runs this many whole units of work.  The count is fixed, not
# "until steady": a warm-up that stops at a noise-dependent point starts
# each run's timed loop at a different place on the JIT's curve.  With the
# optimizing compiler off (see host.session) the curve is short: on a
# 4-core host the flagship goes 8.7 s cold, then 2.5, 2.3, 2.3 s.
WARMUP_UNITS = 1

# The end-to-end metrics of the result line (BENCHMARK.json
# ``end_to_end``).  rows_per_s and op_s_p50 are wall-clock figures; they
# are printed and kept in the result file, but a shared host's stolen CPU
# moves them more than any bound allows (see perfbench/README.md).
RESULT_E2E = ("setup_s", "cpu_s_per_Mrow", "peak_rss_mb")


def tail(lat: list[float]) -> tuple[int, float] | None:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it,
    as (percentile, seconds); None below 20 samples."""
    n = len(lat)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(lat, n=100)[p - 1]
    return None


def run_unit(w, tree, acc: dict):
    """One unit of work, or None when it raised; CPU is accounted around
    the unit only."""
    c0 = tree.cpu()
    try:
        call = w.call()
    except Exception as e:  # a failed operation is counted, not fatal
        print(f"operation failed: {type(e).__name__}: {e}", file=sys.stderr)
        return None
    c1 = tree.cpu()
    for k in c0:
        acc[k] = acc.get(k, 0.0) + c1[k] - c0[k]
    return call


def check(call) -> list[bool]:
    """Per-operation correctness of one unit ([False] when it raised)."""
    return [False] if call is None else call.verify()


def typical_latency(calls) -> float:
    """Median latency of each kind of operation; with several kinds, the
    geometric mean of their medians, so that no kind's share of the
    operations decides where the median falls."""
    kinds: dict[str, list[float]] = {}
    for c in calls:
        for k, v in c.ops.items():
            kinds.setdefault(k, []).extend(v)
    meds = [statistics.median(v) for v in kinds.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def layer_metrics(tr, w, calls, cpu, peaks, exec_by_key, timed_ops,
                  t_lo, t_hi, exp) -> dict:
    n_ops = sum(len(v) for c in calls for v in c.ops.values())
    timed = [s for s in tr.spans if t_lo <= s["start"] <= t_hi]
    top_builds = [s for s in timed if s["name"] in tracing.BUILD_SPANS
                  and (s["parent"] is None or tr.spans[s["parent"]]["name"]
                       not in tracing.BUILD_SPANS)]
    compiles = [s for s in tr.spans if s["name"] == "engine.compile"]
    ex = {k: v for k, v in exec_by_key.items() if k[1] in timed_ops}
    tot = {f: sum(v[f] for v in ex.values()) for f in (
        "jobs", "job_s", "tasks", "executor_run_s", "executor_cpu_s",
        "gc_s", "sched_delay_s", "input_rows", "shuffle_write_bytes",
        "spill_bytes")}
    rows = sum(c.rows for c in calls)
    cpu_all = sum(cpu.values())

    def med(name, field="dur"):
        v = [(s["end"] - s["start"]) if field == "dur" else s[field]
             for s in timed if s["name"] == name]
        return statistics.median(v) if v else 0.0

    out = {
        "spec.build_s": sum(s["end"] - s["start"] for s in tr.spans
                            if s["name"] == "spec"),
        "engine.compile.wall_s": compiles[0]["end"] - compiles[0]["start"],
        "engine.compile.py4j_calls": compiles[0]["py4j"],
        "engine.compile.cache_hit_ratio": tr.compile_hits
        / max(tr.compile_calls, 1),
        "engine.build_s": sum(s["end"] - s["start"] for s in top_builds)
        / n_ops,
        "engine.build_py4j_calls": sum(s["py4j"] for s in top_builds)
        / n_ops,
        "engine.run.build_s": med("engine.run"),
        "engine.run.py4j_calls": med("engine.run", "py4j"),
        "engine.run.build_jobs": sum(v["jobs"] for k, v in ex.items()
                                     if k[0].endswith("build"))
        / len(calls),
        "engine.verdict_counts.build_s": med("engine.verdict_counts"),
        **{f"exec.{f}": v / n_ops for f, v in tot.items()},
        "exec.task_skew": statistics.median(
            [v["task_skew"] for v in ex.values()] or [1.0]),
        "pyworker.cpu_share": cpu["pyworker"] / cpu_all,
        "pyworker.cpu_s": cpu["pyworker"] / n_ops,
        "pyworker.cpu_us_per_row": cpu["pyworker"] / rows * 1e6,
        "pyworker.peak_rss_mb": peaks[1],
        "json.udf_nodes": 0,
        "checkpoint.jobs_per_batch": 0,
        "checkpoint.py4j_per_batch": 0,
        "checkpoint.scan_amplification": 0,
        "stream.state_rows": 0,
        "driver.cpu_s": cpu["driver"] / n_ops,
        "jvm.cpu_s": cpu["jvm"] / n_ops,
        "py4j.calls": sum(s["py4j"] for s in timed if s["parent"] is None)
        / n_ops,
        "jvm.peak_rss_mb": peaks[0],
    }
    if "ckpt" in exp:
        batch = [v for k, v in ex.items() if k[0] == "batch"]
        out["checkpoint.jobs_per_batch"] = statistics.mean(
            v["jobs"] for v in batch)
        # rows read by the batches per table row: the number of scans a
        # batch makes when each batch reads only its own partition
        out["checkpoint.scan_amplification"] = sum(
            v["input_rows"] for v in batch) / len(calls) / exp["ckpt"][
            "rows"]
    out.update(w.layer_metrics(calls))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(data.INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "go_jsonschema_spark")):
        print(f"no go_jsonschema_spark package under {ROOT}: run from the "
              "root of a checkout", file=sys.stderr)
        return 2

    t_proc = host.process_start_epoch()
    host.prepare_env(ROOT, WORK)
    t = time.time()
    inputs, expected = data.prepare(args.workload, args.seed, WORK)
    prep_s = time.time() - t
    sys.path.insert(0, ROOT)

    import workloads

    tr = tracing.Tracer(args.trace == 1)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    evlog = os.path.join(WORK, "eventlog", tag) if tr.enabled else None
    scratch = os.path.join(WORK, "run", tag)  # this run's outputs
    spark = host.session(WORK, evlog)
    sc = spark.sparkContext
    gateway = sc._gateway
    try:
        tree = host.ProcessTree(gateway.proc.pid)
        tr.install(sc)
        cls = workloads.WORKLOADS[args.workload]
        w = cls(spark, inputs, expected, tr, scratch)
        oks: list[bool] = []
        phases = {"session": time.time() - t_proc - prep_s}
        with tr.span("setup"):
            w.setup()
            phases["open_compile"] = time.time() - t_proc - prep_s
            warm = []
            for _ in range(WARMUP_UNITS):
                tr.op += 1
                call = run_unit(w, tree, {})
                oks += check(call)
                warm.append(call.ops if call is not None else None)
        setup_s = time.time() - t_proc - prep_s
        phases["warmup_ops"] = warm

        tree.reset_peaks()
        cpu: dict = {}
        units, timed_ops = [], set()
        t_lo = time.time()
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            tr.op += 1
            op0 = tr.op
            units.append(run_unit(w, tree, cpu))
            timed_ops.update(range(op0, tr.op + 1))
        t_hi = time.time()
        peaks = tree.peaks_mb()
        # checked after the loop, so the measured time holds units only
        for call in units:
            oks += check(call)
        calls = [c for c in units if c is not None]
        attempted, failed = len(oks), oks.count(False)
    finally:
        tr.uninstall()
        spark.stop()
        # the JVM exits when its stdin closes; wait for it (and with it the
        # Python workers) before reporting
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        shutil.rmtree(scratch, ignore_errors=True)

    if not calls:
        print("no operation completed", file=sys.stderr)
        return 1
    lat = [x for c in calls for v in c.ops.values() for x in v]
    rows = sum(c.rows for c in calls)
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (statistics.median(c.rows / c.wall_s for c in calls),
                       "rows/s"),
        "op_s_p50": (typical_latency(calls), "s"),
        "cpu_s_per_Mrow": (sum(cpu.values()) / (rows / 1e6), "CPU-s/Mrow"),
        "peak_rss_mb": (sum(peaks), "MB"),
    }
    tl = tail(lat)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host.facts(ROOT),
        "input": {k: data.SIZES[k] for k in data.INPUTS[args.workload]},
        "prep_s": prep_s, "setup_phases": phases,
        "ops": len(lat), "units": len(calls), "rows": rows,
        "unit_s": [c.wall_s for c in calls],
        "lat": [c.ops for c in calls],
        "metrics": {k: v for k, (v, _u) in e2e.items()},
        "op_s_tail": {"percentile": tl[0], "value": tl[1],
                      "samples": len(lat)} if tl else None,
        "fail_ratio": failed / max(attempted, 1),
        "cpu_s": cpu,
    }
    for k, (v, u) in e2e.items():
        print(f"{args.workload:18s} {k:16s} {v:14.6g} {u}")
    print(f"{args.workload:18s} {'op_s_tail':16s} " + (
        f"{tl[1]:14.6g} s (p{tl[0]} of {len(lat)} ops)" if tl else
        f"{'omitted':>14s} ({len(lat)} ops; a tail needs 20)"))
    print(f"{args.workload:18s} {'fail_ratio':16s} "
          f"{report['fail_ratio']:14.6g} ratio ({failed}/{attempted})")

    if tr.enabled:
        ex = tracing.exec_metrics(evlog, tr.stream_runs)
        layers = layer_metrics(tr, w, calls, cpu, peaks, ex, timed_ops,
                               t_lo, t_hi, expected)
        untraced = []
        res_dir = os.path.join(WORK, "results")
        for f in os.listdir(res_dir) if os.path.isdir(res_dir) else []:
            if f.startswith(f"{args.workload}-") and "-trace0-" in f:
                with open(os.path.join(res_dir, f)) as fh:
                    untraced.append(json.load(fh)["metrics"]["op_s_p50"])
        report["trace_overhead_s"] = (
            e2e["op_s_p50"][0] - statistics.median(untraced)
            if untraced else None)
        report["layers"] = {
            k: {"value": layers.get(k), "unit": u, "should_move": mv,
                "flat_on": flat}
            for k, (u, mv, flat, _j) in tracing.LAYERS.items()}
        report["self_s"] = tracing.self_times(tr.spans)
        report["exec_by_call"] = {f"{c}|{o}": v for (c, o), v in ex.items()}
        report["spans"] = tr.spans
        for k, (u, mv, _f, _j) in tracing.LAYERS.items():
            v = layers.get(k)
            print(f"{args.workload:18s} {k:32s} "
                  + (f"{v:14.6g} {u}" if v is not None else "           n/a")
                  + f"   moves: {mv}")
        print(f"{args.workload:18s} trace overhead   " + (
            f"{report['trace_overhead_s']:+.4f} s per op" if untraced else
            "n/a (no untraced run of this workload in this checkout)"))
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, (u, _m, _f, j) in tracing.LAYERS.items() if j}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]}
                   for k in RESULT_E2E}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(report, f, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
