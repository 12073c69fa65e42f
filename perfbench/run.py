"""flint_spark benchmark: one workload, one seed, one process.

Run from the repository root:

    python3 perfbench/run.py --workload keyed_ticks --seed 1 --seconds 10 --trace 0

The run starts a ``local[<cores>]`` session, generates the workload's
inputs from the seed and writes them as parquet, checks the routing
preconditions, warms up, then repeats passes of the workload's call
sequence for ``--seconds``. Every call's output is checked against an
independent numpy or DuckDB computation outside the timed passes.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced passes (spans, job groups, Spark's status
store and event log) and prints the per-layer metrics. Spans are
written to ``.perfbench_out/``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
from collections import defaultdict
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

GEN_REPEATS = 3  # input generation is timed this many times; median kept
#: (noop warm-up passes after the check pass, minimum timed passes) per
#: workload. Pass times keep falling for several passes while the JVM
#: compiles hot code (keyed_ticks on 4 cores: 4.7, 3.5, 2.9, 3.0, 3.2 s),
#: and short keyed passes vary more, so keyed_ticks warms up longer and
#: always takes the median of four passes. keyless_tape passes are long
#: and steady (about 5% spread between runs with one timed pass), so its
#: check pass is its only warm-up. Fixed counts keep set-up the same
#: work on every run and keep a run within its share of the time budget.
PASSES = {"keyed_ticks": (2, 4), "keyless_tape": (0, 1),
          "corpus_dedup": (1, 1), "stream_churn": (1, 1)}
DRIVER_MEM = "2g"

#: reported by every workload, so keyed_ticks and keyless_tape print the
#: same names; the pipeline and streaming workloads add their own layers
OPERATOR_LAYERS = ("operators.asof", "operators.windows_ops", "operators.ema",
                   "operators.intervals", "operators.regression",
                   "operators.bars", "operators.changepoint")
LAYER_FIELDS = (("construct_s", "s"), ("exec_s", "s"), ("self_s", "s"),
                ("jobs", "count"), ("shuffle_bytes", "B"),
                ("python_bytes", "B"), ("spill_bytes", "B"), ("task_s", "s"))


def per_layer_units(wl) -> dict[str, str]:
    own = sorted({c.layer for c in wl.calls} - set(OPERATOR_LAYERS))
    units = {f"{layer}.{f}": u for layer in (*OPERATOR_LAYERS, *own)
             for f, u in LAYER_FIELDS}
    units.update({
        "spark.driver_gap_s": "s", "spark.jobs": "count",
        "spark.stages": "count", "spark.tasks": "count",
        "operators.prefix.layout_built": "count",
        "operators.prefix.layout_reused": "count",
        "operators.prefix.layout_evicted": "count",
        "operators.prefix.layout_reuse_ratio": "ratio",
        "cache.persisted_rdds_delta": "count", "cache.storage_mb": "MB",
        "trace.overhead_s": "s"})
    if any(c.stream for c in wl.calls):
        units.update({"streaming.ts_stream.state_rows": "count",
                      "streaming.ts_stream.state_mb": "MB",
                      "streaming.ts_stream.rows_dropped_by_watermark": "count"})
    return units


#: trigger_p50_s and trigger_p75_s are reported by streaming workloads only
END_TO_END = {"wall_s": "s", "rows_per_s": "1/s", "trigger_p50_s": "s",
              "trigger_p75_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}


def environment(work: str, trace: bool) -> None:
    """Session settings that must be in place before pyspark starts:
    cores, driver memory, worker import path, and every scratch
    location inside the run's work directory."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # get_spark defaults the driver heap to 16g, more than many hosts have
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import flint_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                                             f"-Dderby.system.home={tmp}",
            "spark.sql.streaming.numRecentProgressUpdates": "1000"}
    if trace:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + ev,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


class Runner:
    """Runs passes of one workload's call sequence and counts the
    operations attempted and failed."""

    def __init__(self, spark, wl, ctx, sampler):
        self.spark = spark
        self.wl = wl
        self.ctx = ctx
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0
        self.passes = 0

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what}", file=sys.stderr)

    def run_call(self, call, sink):
        """Build then run one call into ``sink`` (``None``: build only).
        Returns (built, construct_s, exec_s, trigger seconds, query);
        the trigger times and the query are empty for batch calls."""
        from perfbench.workloads import run_stream
        t0 = time.perf_counter()
        built = call.build(self.ctx)
        t1 = time.perf_counter()
        query, triggers = None, []
        if call.stream:
            query = run_stream(self.ctx, call.name, built, sink)
            triggers = [p["durationMs"]["triggerExecution"] / 1e3
                        for p in query.recentProgress if p["numInputRows"] > 0]
        elif sink == "noop":
            built.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return built, t1 - t0, t2 - t1, triggers, query

    def one_pass(self, check=False, counters=None) -> dict:
        """One pass of the call sequence, starting from an empty cache.

        ``check``: compare each call's output with its reference
        instead of running it to the ``noop`` sink (streams replay into
        the ``memory`` sink). ``counters``: run each call under its own
        job group and return per-call trace records."""
        from flint_spark.operators import prefix
        self.passes += 1
        self.spark.catalog.clearCache()
        layout0 = dict(prefix.LAYOUT_STATS)
        cache0 = counters.cache_state()[0] if counters else 0
        self.sampler.window()
        t0 = time.perf_counter()
        p0 = time.time()
        triggers, records = [], []
        for i, call in enumerate(self.wl.calls):
            group = f"perfbench-{self.passes}-{i}"
            if counters:
                self.spark.sparkContext.setJobGroup(
                    group, f"{call.layer} {call.name}")
            sink = ("memory" if call.stream else None) if check else "noop"
            self.attempted += 1
            c0 = time.time()
            try:
                df, cs, es, trig, q = self.run_call(call, sink)
                if check:
                    self._check(call, self.spark.table(q.name)
                                if call.stream else df)
            except Exception:  # noqa: BLE001 — one failed call must not end the run
                self._fail(f"{call.name} raised:\n{traceback.format_exc()}")
                continue
            triggers += trig
            if counters:
                records.append(self._record(counters, call, group, q, c0, cs, es))
        if counters:
            self.spark.sparkContext.setJobGroup("perfbench-idle", "")
        wall = time.perf_counter() - t0
        out = {"wall_s": wall, "peak_rss": self.sampler.window(),
               "triggers": triggers, "start": p0, "end": p0 + wall,
               "layout": {k: prefix.LAYOUT_STATS[k] - layout0[k]
                          for k in layout0},
               "records": records}
        if counters:
            n1, held = counters.cache_state()
            out["cache_delta"] = n1 - cache0
            out["storage_bytes"] = held
        return out

    def _check(self, call, df) -> None:
        try:
            errs = call.check(self.ctx, df)
        except Exception:  # noqa: BLE001 — a crashing check is a failed output
            errs = [f"check raised:\n{traceback.format_exc()}"]
        if errs:
            self._fail(f"{call.name} output mismatch: {'; '.join(errs)}")

    @staticmethod
    def _record(counters, call, group, q, c0, cs, es) -> dict:
        rec = {"call": call.name, "layer": call.layer, "start": c0,
               "construct_end": c0 + cs, "end": c0 + cs + es,
               "construct_s": cs, "exec_s": es, "jobs": [], "stages": []}
        # a streaming query runs its triggers under its own run id
        for g in [group] + ([str(q.runId)] if q is not None else []):
            got = counters.group(g)
            rec["jobs"] += got["jobs"]
            rec["stages"] += got["stages"]
        if q is not None:
            last = (q.lastProgress or {}).get("stateOperators", ())
            rec["state_rows"] = sum(s["numRowsTotal"] for s in last)
            rec["state_bytes"] = sum(s["memoryUsedBytes"] for s in last)
            rec["dropped"] = sum(s.get("numRowsDroppedByWatermark", 0)
                                 for p in q.recentProgress
                                 for s in p.get("stateOperators", ()))
        return rec


def layer_metrics(passes, py_bytes) -> dict:
    """Per-layer metrics of each traced pass, from its call records."""
    from perfbench.trace import covered
    out = []
    for p in passes:
        m = defaultdict(float)
        gap = 0.0
        jobs = stages = tasks = 0
        for r in p["records"]:
            L = r["layer"]
            spans = [(j["start"], j["end"]) for j in r["jobs"]
                     if j["start"] is not None and j["end"] is not None]
            m[f"{L}.construct_s"] += r["construct_s"]
            m[f"{L}.exec_s"] += r["exec_s"]
            m[f"{L}.self_s"] += (r["end"] - r["start"]) - covered(
                spans, r["start"], r["end"])
            gap += r["exec_s"] - covered(spans, r["construct_end"], r["end"])
            m[f"{L}.jobs"] += len(r["jobs"])
            for s in r["stages"]:
                m[f"{L}.shuffle_bytes"] += s["shuffle_bytes"]
                m[f"{L}.spill_bytes"] += s["spill_bytes"]
                m[f"{L}.task_s"] += s["run_ms"] / 1e3
                m[f"{L}.python_bytes"] += py_bytes.get(s["stage"], 0)
                tasks += s["tasks"]
            jobs += len(r["jobs"])
            stages += len(r["stages"])
        lay = p["layout"]
        base = lay["built"] + lay["reused"]
        m.update({
            "spark.driver_gap_s": gap, "spark.jobs": jobs,
            "spark.stages": stages, "spark.tasks": tasks,
            "operators.prefix.layout_built": lay["built"],
            "operators.prefix.layout_reused": lay["reused"],
            "operators.prefix.layout_evicted": lay["evicted"],
            "operators.prefix.layout_reuse_ratio":
                lay["reused"] / base if base else 0.0,
            "cache.persisted_rdds_delta": p["cache_delta"],
            "cache.storage_mb": p["storage_bytes"] / 2 ** 20,
            "streaming.ts_stream.state_rows":
                sum(r.get("state_rows", 0) for r in p["records"]),
            "streaming.ts_stream.state_mb":
                sum(r.get("state_bytes", 0) for r in p["records"]) / 2 ** 20,
            "streaming.ts_stream.rows_dropped_by_watermark":
                sum(r.get("dropped", 0) for r in p["records"])})
        out.append(dict(m))
    return out


#: per-layer metrics that count work; each run reports whether they
#: repeated exactly across its traced passes
def _is_count(name: str) -> bool:
    return name.endswith(("jobs", "stages", "tasks", "_bytes", "layout_built",
                          "layout_reused", "layout_evicted", "state_rows",
                          "rows_dropped_by_watermark", "persisted_rdds_delta"))


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and the Python workers it
    started, and wait until every one of them has exited."""
    from perfbench.trace import alive, descendants
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(k) for k in kids):
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "flint_spark", "__init__.py")):
        print(f"perfbench: no flint_spark package under {ROOT}; run from a "
              f"full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(workloads.NAMES)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass


def _run(args, work: str) -> int:
    trace = bool(args.trace)
    environment(work, trace)
    import numpy as np

    import flint_spark
    from perfbench import trace as tr
    from perfbench import workloads
    if not os.path.abspath(flint_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: flint_spark imported from outside the checkout",
              file=sys.stderr)
        return 2
    wl = workloads.get(args.workload)

    sampler = tr.RssSampler()
    t_setup = time.perf_counter()
    spark = flint_spark.get_spark("perfbench")
    try:
        session_s = time.perf_counter() - t_setup
        gen_s, data = [], None
        for i in range(GEN_REPEATS):
            d = os.path.join(work, "inputs", str(i))
            os.makedirs(d)
            t = time.perf_counter()
            data = wl.generate(np.random.default_rng(args.seed), d)
            gen_s.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(os.path.join(work, "inputs", str(i - 1)))
        t = time.perf_counter()
        ctx = workloads.Ctx(spark, data, work)
        bad = wl.preconditions(ctx) if wl.preconditions else []
        for b in bad:
            print(f"perfbench: routing precondition failed: {b}", file=sys.stderr)
        if bad:
            return 3
        runner = Runner(spark, wl, ctx, sampler)
        # the first pass compiles every plan once and checks every
        # output; the warm-up passes after it let the JIT settle
        warm = [runner.one_pass(check=True)["wall_s"]]
        n_warm, min_passes = PASSES[wl.name]
        warm += [runner.one_pass()["wall_s"] for _ in range(n_warm)]
        setup_s = session_s + statistics.median(gen_s) + (time.perf_counter() - t)

        counters = tr.SparkCounters(spark) if trace else None
        plain, traced = [], []
        end = time.perf_counter() + args.seconds
        while (len(plain) < min_passes or (trace and len(traced) < 2)
               or time.perf_counter() < end):
            if not trace:
                plain.append(runner.one_pass())
                continue
            # plain and traced passes in ABBA order, so that any drift
            # left after warm-up falls on both sides alike
            order = (False, True) if len(plain) % 2 == 0 else (True, False)
            for traced_pass in order:
                if traced_pass:
                    traced.append(runner.one_pass(counters=counters))
                else:
                    plain.append(runner.one_pass())
    finally:
        stop_session(spark)
        sampler.close()

    walls = [p["wall_s"] for p in plain]
    summary = [f"workload {wl.name} seed {args.seed}: {data['rows']} input "
               f"rows; check and warm-up passes "
               + ", ".join(f"{w:.2f}" for w in warm) + " s; timed passes "
               + ", ".join(f"{w:.2f}" for w in walls) + " s"]
    if trace:
        event_dir = os.path.join(work, "events")
        per_pass = layer_metrics(traced, tr.python_bytes_by_stage(event_dir))
        metrics = {}
        for name, unit in per_layer_units(wl).items():
            if name == "trace.overhead_s":
                v = statistics.median(p["wall_s"] for p in traced) - \
                    statistics.median(walls)
            else:
                v = statistics.median(m.get(name, 0.0) for m in per_pass)
            metrics[name] = {"value": v, "unit": unit}
        varying = [n for n in per_pass[0] if _is_count(n)
                   and len({m.get(n) for m in per_pass}) > 1]
        summary.append(f"{len(traced)} traced passes; counters "
                       + ("repeat exactly" if not varying else
                          f"vary in {', '.join(varying)}"))
        _dump(args, wl, traced, per_pass, summary)
    else:
        wall = statistics.median(walls)
        metrics = {"wall_s": wall, "rows_per_s": data["rows"] / wall}
        triggers = [t for p in plain for t in p["triggers"]]
        if triggers:
            metrics["trigger_p50_s"] = statistics.median(triggers)
            metrics["trigger_p75_s"] = statistics.quantiles(triggers, n=4)[2]
            summary.append(f"{len(triggers)} trigger samples")
        metrics["peak_rss_mb"] = statistics.median(
            p["peak_rss"] for p in plain) / 2 ** 20
        metrics["setup_s"] = setup_s
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        summary.append(f"setup = session {session_s:.2f} s + generation median "
                       f"{statistics.median(gen_s):.2f} s of {GEN_REPEATS} + "
                       f"check and warm-up passes")
    for line in summary:
        print(line)
    for k, v in metrics.items():
        print(f"  {k:52s} {v['value']:>16.6f} {v['unit']}")
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


def _dump(args, wl, traced, per_pass, summary) -> None:
    """Write the traced passes as spans (pass > call > construct, exec;
    Spark jobs as children of their call), with the per-pass layer
    metrics, under .perfbench_out/. Times are epoch seconds."""
    spans = []

    def span(name, kind, start, end, parent, trace):
        spans.append({"id": len(spans), "name": name, "kind": kind,
                      "start": start, "end": end, "parent": parent,
                      "trace": trace})
        return len(spans) - 1

    for n, p in enumerate(traced):
        pid = span("pass", "pass", p["start"], p["end"], None, n)
        for r in p["records"]:
            cid = span(r["call"], r["layer"], r["start"], r["end"], pid, n)
            span("construct", "construct", r["start"], r["construct_end"], cid, n)
            span("exec", "exec", r["construct_end"], r["end"], cid, n)
            for j in r["jobs"]:
                span(f"job {j['job']}", "spark_job", j["start"], j["end"], cid, n)
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace_{wl.name}_seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed, "summary": summary,
                   "spans": spans, "per_pass": per_pass}, f)
    summary.append(f"spans written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
