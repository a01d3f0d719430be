"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard|scan --seed N \
        --seconds S --trace 0|1

Run from the repository root.  Generates the seeded inputs, starts the
engine's Spark session, sets the workload up, runs its closed loop over
whole passes of the request mix (``--seconds`` / 15 s per pass), checks
every answer against a reference outside the timed phase, stops every
process it started and prints two JSON lines: a detail record (seed,
request mix, nproc, tail percentile, failures, ...) and, last, the
result ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 1``
runs the timed phase once untraced and once with spans around every
layer call, and reports the per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"

#: nominal seconds per pass over a workload's request mix on 4 cores;
#: ``--seconds`` divided by it gives the number of passes a run measures
PASS_S = 15.0


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name → unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _cpus() -> int:
    env = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    avail = len(os.sched_getaffinity(0))
    return max(1, min(env, avail) if env else avail)


def _configure_env(work: str) -> None:
    """Everything the run writes stays under ``work``; Python workers of
    the session import the package from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def _install_tracing(tracer, spark) -> None:
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from akumuli_spark import api
    from akumuli_spark.query import engine, metadata, parser, rollup
    from akumuli_spark.sources import zorder

    def count_ga(args, kwargs, out):
        q = args[1] if len(args) > 1 else kwargs.get("query_json")
        if isinstance(q, dict) and "group-aggregate" in q:
            tracer.add("api.group_aggregate")

    def prune_stats(args, kwargs, out):
        st = kwargs.get("stats")
        if st:
            tracer.add("zorder.files_total", st["files_total"])
            tracer.add("zorder.files_selected", st["files_selected"])
            tracer.counts["zorder.manifest_files"] = st["files_total"]

    tracer.wrap(api.ZorderDatabase, "query", "api.query", after=count_ga)
    tracer.wrap(api.Database, "query", "api.query", after=count_ga)
    tracer.wrap(rollup, "group_aggregate_from_rollup", "rollup.serve",
                after=lambda a, k, o: tracer.add("rollup.hits"))
    tracer.wrap(parser, "parse_query", "parser.parse")
    tracer.wrap(metadata, "search", "metadata.search")
    tracer.wrap(metadata, "suggest", "metadata.search")
    tracer.wrap(zorder, "zorder_select", "zorder.select", after=prune_stats)
    tracer.wrap(engine, "execute_query", "engine.plan")

    orig_iter = ClassicDataFrame.toLocalIterator

    def timed_iter(self, *a, **k):
        it = orig_iter(self, *a, **k)
        while True:
            t0 = time.perf_counter()
            try:
                row = next(it)
            except StopIteration:
                tracer.charge("fetch", time.perf_counter() - t0)
                return
            tracer.charge("fetch", time.perf_counter() - t0)
            yield row

    tracer.patch(ClassicDataFrame, "toLocalIterator", timed_iter)
    tracer.enabled = True


def _per_layer(tracer, traced, untraced_lat, traced_lat, builds, jvm_s,
               steal, pairs_delta, store, extra, failed_frac, rss_mb) -> dict:
    incl, _self_t, calls = tracer.totals()
    n = max(1, len(traced))
    spans = [s for s in tracer.spans if s["end"] is not None]

    def per_call(name):
        return incl[name] / calls[name] if calls.get(name) else 0.0

    def family(layer):
        durs = [s["end"] - s["start"] for s in spans
                if s["name"] == layer and s["parent"] is None]
        return statistics.fmean(durs) if durs else 0.0

    c = tracer.counts
    fmt = [s for s in spans if s["name"] == "format.to_csv"]
    fmt_fetch = sum(s.get("fetch", 0.0) for s in fmt)
    fmt_self = sum(s["end"] - s["start"] for s in fmt) - fmt_fetch
    total = c.get("zorder.files_total", 0.0)
    ga = c.get("api.group_aggregate", 0.0)
    return {
        "session.jvm_start_s": jvm_s,
        "zorder.build_s": builds.get("zorder.build_s", 0.0),
        "rollup.build_s": builds.get("rollup.build_s", 0.0),
        "api.query_s": per_call("api.query"),
        "api.rollup_hit_frac": c.get("rollup.hits", 0.0) / ga if ga else 0.0,
        "rollup.serve_s": per_call("rollup.serve"),
        "parser.parse_s": per_call("parser.parse"),
        "metadata.search_s": per_call("metadata.search"),
        "zorder.select_s": per_call("zorder.select"),
        "zorder.files_selected_frac":
            c.get("zorder.files_selected", 0.0) / total if total else 0.0,
        "zorder.manifest_files": c.get("zorder.manifest_files", 0.0),
        "zorder.append_s": per_call("zorder.append"),
        "engine.plan_s": per_call("engine.plan"),
        "apply.delta_s": pairs_delta,
        "spark.jobs_per_op": statistics.fmean(r.spark.get("jobs", 0) for r in traced) if traced else 0.0,
        "spark.stages_per_op": statistics.fmean(r.spark.get("stages", 0) for r in traced) if traced else 0.0,
        "spark.tasks_per_op": statistics.fmean(r.spark.get("tasks", 0) for r in traced) if traced else 0.0,
        "exec.fetch_s": (fmt_fetch + incl.get("exec.fetch", 0.0)) / n,
        "format.self_s": fmt_self / n,
        "format.rows_per_op": c.get("format.rows", 0.0) / n,
        "dedup.job_s": family("dedup.job"),
        "similarity.job_s": family("similarity.job"),
        "text.job_s": family("text.job"),
        "host.steal_frac": steal,
        "trace.overhead_s": traced_lat["p50"] - untraced_lat["p50"],
        "bytes_per_sample":
            store["bytes"] / store["samples"] if store.get("samples") else 0.0,
        "ingest_samples_per_s": extra.get("ingest_samples_per_s", 0.0),
        "append_p50_s": extra.get("append_p50_s", 0.0),
        "failed_frac": failed_frac,
        "peak_rss_mb": rss_mb,
    }


def _steal_frac(a, b) -> float:
    dt = b[1] - a[1]
    return (b[0] - a[0]) / dt if dt > 0 else 0.0


def run(args, work: str) -> tuple[dict, dict]:
    import datagen
    from harness import (
        Runner, closed_loop, cpu_ticks, jvm_pid, latency_summary, start_spark,
        stop_spark, vm_hwm_kb,
    )
    from spans import Tracer
    from workloads import WORKLOADS

    cpus = _cpus()
    data_dir = os.path.join(work, "data")
    datagen.write_tables(args.seed, data_dir)
    tracer = Tracer()
    spark, jvm_s = start_spark(cpus)
    try:
        wl = WORKLOADS[args.workload](spark, data_dir, work, args.seed,
                                      tracer, cpus)
        reps = [wl.build() for _ in range(wl.setup_reps)]
        builds = {k: statistics.median(r[k] for r in reps) for k in reps[0]}
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = jvm_s + statistics.median(sum(r.values()) for r in reps) + warm_s

        runner = Runner(spark, tracer)
        ops = wl.ops()
        timings: dict[str, float] = {}

        # --seconds buys whole passes over the request mix at the
        # workload's nominal pass time: fixed work, the same on every commit
        passes = max(1, round(args.seconds / PASS_S))

        def phase(ingest: bool):
            """Readers' timed closed loop, then (if ``ingest``) the ingest
            phase, whose figures are per-layer metrics."""
            served, wall = closed_loop(runner, ops, wl.clients, passes)
            writes = []
            if ingest:
                t0 = time.perf_counter()
                writes = [runner.run(op) for op in wl.writer_ops()]
                timings["ingest_phase_s"] = time.perf_counter() - t0
            return served, wall, writes

        tick0 = cpu_ticks()
        served, wall, _ = phase(ingest=False)
        tick1 = cpu_ticks()
        lat = latency_summary([r.dur for r in served])

        traced, traced_lat, pairs_delta = [], lat, 0.0
        if args.trace:
            _install_tracing(tracer, spark)
            try:
                t_served, _twall, t_writes = phase(ingest=True)
                traced = t_served + t_writes
                traced_lat = latency_summary([r.dur for r in t_served])
            finally:
                tracer.enabled = False
                tracer.uninstall()
            deltas = [runner.run(with_op).dur - runner.run(bare_op).dur
                      for with_op, bare_op in wl.apply_pairs()]
            pairs_delta = statistics.fmean(deltas) if deltas else 0.0
        tick2 = cpu_ticks()

        jpid = jvm_pid(spark)
        rss_mb = (vm_hwm_kb(os.getpid()) + (vm_hwm_kb(jpid) if jpid else 0)) / 1024.0
        store = wl.store_stats()
        extra = wl.extra()

        # correctness, outside the timed phase
        t_check = time.perf_counter()
        everything = served + traced
        ref = wl.check({r.key for r in everything if r.ok})
        bad = [r for r in everything if not r.ok or r.digest != ref.get(r.key)]
        mismatched = sorted({r.key for r in bad if r.ok})
        raised = sorted({f"{r.key}: {r.error}" for r in bad if not r.ok})
        probe = wl.probe_rate_defect() if hasattr(wl, "probe_rate_defect") else None
        check_s = time.perf_counter() - t_check
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    stop_s = time.perf_counter() - t_stop

    kinds: dict[str, list[float]] = {}
    for r in served:
        kinds.setdefault(r.kind, []).append(r.dur)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "ops_per_s": len(served) / wall if wall > 0 else 0.0,
    }
    failed_frac = len(bad) / len(everything) if everything else 0.0
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, "clients": wl.clients,
        "passes": passes,
        "request_mix": {k: len(v) for k, v in kinds.items()},
        "p50_by_kind": {k: statistics.median(v) for k, v in kinds.items()},
        "latencies_in_order": [round(r.dur, 3) for r in sorted(served, key=lambda r: r.start)],
        "latency": lat, "timed_wall_s": wall, "check_s": check_s,
        "stop_s": stop_s, **timings,
        "setup": {"session.jvm_start_s": jvm_s, "warm_s": warm_s, "reps": reps},
        "failed_frac": failed_frac,
        "mismatched": mismatched, "raised": raised,
        "host.steal_frac": _steal_frac(tick0, tick1),
        "store": store, **extra, "peak_rss_mb": rss_mb,
        "end_to_end": e2e,
    }
    if probe is not None:
        detail["known_defect_rate_raw_lineitem"] = probe
    out = {
        "correct": not bad,
        "attempted": len(everything),
        "failed": len(bad),
    }
    e2e_units, layer_units = _metric_units()
    if args.trace:
        layer = _per_layer(
            tracer, traced, lat, traced_lat,
            builds, jvm_s, _steal_frac(tick1, tick2), pairs_delta, store,
            extra, failed_frac, rss_mb)
        detail["per_layer"] = layer
        incl, self_t, calls = tracer.totals()
        detail["spans"] = {k: {"calls": calls[k], "incl_s": incl[k],
                               "self_s": self_t[k]} for k in sorted(calls)}
        out["metrics"] = {k: {"value": layer[k], "unit": u}
                          for k, u in layer_units.items()}
        tracer.dump(os.path.join(
            ROOT, ".perfbench_run", f"trace-{args.workload}-{args.seed}.jsonl"))
    else:
        out["metrics"] = {k: {"value": e2e[k], "unit": u}
                          for k, u in e2e_units.items()}
    return detail, out


def _exit_on_term(signum, frame):
    sys.exit(128 + signum)  # unwinds through the clean-up in run/main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "scan"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_term)

    if not os.path.isfile(os.path.join(ROOT, "akumuli_spark", "__init__.py")):
        print("perfbench: the akumuli_spark package is not beside perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_run",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work)
    sys.path.insert(0, ROOT)
    try:
        detail, out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
