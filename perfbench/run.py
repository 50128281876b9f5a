#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root.  Everything the run writes (inputs, Spark
local dirs, checkpoints, tables, the working directory) lives under
``.perfbench/work-<pid>/`` and is deleted at the end; a traced run keeps
its spans in ``.perfbench/traces/``.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  The exit code is 0 only if every answer checked correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from host import RssMonitor, nproc, percentile, retained_bytes  # noqa: E402
from trace import Tracer  # noqa: E402

WORKLOADS = ("dashboard", "ingest_merge")
REBUILDS = 2  # warm session rebuilds after the cold set-up (session.rebuild_s)

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "retained_mb": "MB",
    "latency_mean_ms": "ms",
    "throughput_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    from dashboard import TYPES

    units = {"session.start_s": "s", "session.first_result_s": "s", "session.rebuild_s": "s",
             "session.peak_rss_mb": "MB",
             "sources.load_ms": "ms", "sources.parse_ms": "ms",
             "sources.rejected_payloads": "count", "sources.planted_rejects": "count"}
    for t in TYPES:
        units.update({f"operators.build_ms.{t}": "ms", f"plans.plan_ms.{t}": "ms",
                      f"plans.exec_ms.{t}": "ms", f"plans.jobs.{t}": "count",
                      f"plans.tasks.{t}": "count", f"plans.exchanges.{t}": "count",
                      f"plans.rows_scanned_per_row.{t}": "ratio",
                      f"plans.rows_scanned.{t}": "count", f"plans.rows_returned.{t}": "count"})
    units["llm.insights_ms"] = "ms"
    units.update({
        "pipelines.view_ms_per_version": "ms", "pipelines.view_versions": "count",
        "plans.exec_ms.fresh_read": "ms",
        "storage.merge_ms": "ms", "storage.optimize_ms": "ms",
        "storage.commit_p50_ms": "ms", "storage.commit_p95_ms": "ms",
        "storage.commit_retries": "count", "storage.snapshot_ms": "ms",
        "storage.log_versions_replayed": "count", "storage.read_ms": "ms",
        "storage.live_dirs": "count", "storage.dirs_rewritten_per_merge": "ratio",
        "storage.bytes_written_per_user_byte": "ratio",
        "storage.stored_bytes_per_user_byte": "ratio",
        "trace.overhead_mean_ms": "ms", "trace.overhead_throughput_per_s": "1/s",
    })
    return units


class Ctx:
    def __init__(self, args, work: str, params: dict):
        self.seed, self.work, self.params = args.seed, work, params
        # a traced run splits its time between an untraced and a traced window
        self.seconds = args.seconds / 2 if args.trace else args.seconds
        self.tracer = Tracer(False)  # enabled only for the traced phase
        self.spark = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python create inside ``work``."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.chdir(work)


def set_up(ctx) -> dict:
    """Session set-ups, each ``get_spark`` then a first result.  The
    first is cold: it launches the JVM, and it is what ``setup_s``
    reports.  ``REBUILDS`` more stop the session and rebuild it on the
    running JVM; their median is ``session.rebuild_s``, the part of
    set-up that is the session's own.  Keeps the last session."""
    from market_insights_app_spark.session import get_spark

    start, first, total = [], [], []
    for k in range(1 + REBUILDS):
        if k:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = get_spark(cpus=nproc())
        t1 = time.perf_counter()
        ctx.spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        start.append(t1 - t0)
        first.append(t2 - t1)
        total.append(t2 - t0)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return {"start": start, "first": first, "total": total}


def stop_spark(ctx) -> None:
    """Stop the session, shut the JVM gateway and wait until every
    process this run started (the JVM and its Python workers) has ended."""
    from host import tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    if ctx.spark is not None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        ctx.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.2)


# ---------------------------------------------------------------------------
# workloads: each returns latency samples (s), items done, elapsed (s),
# peak and retained memory, attempted/failed counts, check errors, and
# the layer counts its traced window gathered
# ---------------------------------------------------------------------------


def run_dashboard(ctx, traced: bool, state: dict) -> dict:
    from dashboard import Dashboard

    d = state.get("dashboard")
    if d is None:
        d = state["dashboard"] = Dashboard(ctx)
        d.warm_up()
    ctx.tracer.enabled = traced
    with RssMonitor() as mon:
        res = d.loop(traced, ctx.seconds)
    ctx.tracer.enabled = False
    retained = retained_bytes(ctx.spark)
    errors = res["errors"] + d.check(res["samples"])
    return {"lat": res["lat"], "items": len(res["lat"]), "elapsed": res["elapsed"], "peak": mon.peak,
            "retained": retained, "attempted": res["attempted"], "failed": res["failed"], "errors": errors,
            "by_type": res["by_type"], "mix": d.p["mix"], "clients": d.p["clients"],
            "layer": res["layer"], "rtype": d.rtype, "what": ("request", "requests")}


def run_ingest(ctx, traced: bool, state: dict) -> dict:
    import checks
    from ingest import Ingest

    # each window gets a table of its own, fed the same batches from the
    # same start, so the traced window does not read a table the
    # untraced one has grown
    name = "ingest_traced" if traced else "ingest"
    g = state[name] = Ingest(ctx, name)
    # untimed: a first version for the reader, then writer and reader
    # traffic for a fixed number of commits, so code generation and JIT
    # compilation finish before timing; the traced window also
    # materialises its view and rolls it forward once
    g.commit_next(None)
    if traced:
        g.start_view()
    warm = g.run(float("inf"), False, commits=g.p["warm_up_commits"])
    if warm["errors"]:
        raise RuntimeError(f"warm-up failed: {warm['errors'][:3]}")
    if traced:
        g.refresh_view()
    ctx.tracer.enabled = traced
    with RssMonitor() as mon:
        res = g.run(ctx.seconds, traced)
    ctx.tracer.enabled = False
    retained = retained_bytes(ctx.spark)
    storage = g.storage_counts()
    view = None
    if traced:
        t0 = time.perf_counter()
        res["view_versions"] = g.refresh_view()
        res["view_s"] = time.perf_counter() - t0
        view = g.view_rows()
    errors = res["errors"] + checks.check_ingest(
        g.oracle, g.final_rows(), view, g.done, res["reads"])
    return {"lat": res["read_lat"], "items": res["rows"], "elapsed": res["elapsed"], "peak": mon.peak,
            "retained": retained, "attempted": res["attempted"], "failed": res["failed"], "errors": errors,
            "commit": res["commit"], "storage": storage, "view_versions": res.get("view_versions", 0),
            "view_s": res.get("view_s", 0.0),
            "wlayer": res["wlayer"], "rlayer": res["rlayer"], "what": ("fresh read", "rows")}


def e2e(setup: dict, out: dict) -> dict:
    lat = out["lat"]
    if not lat:
        raise RuntimeError(f"no {out['what'][0]} completed: {out['errors'][:3]}")
    if "mix" in out:
        # dashboard: the mean of per-type means weighted by the declared
        # mix, so which types the window happened to end on does not
        # move it; the closed loop's clients then complete
        # clients / latency requests per second
        missing = [t for t in out["mix"] if not out["by_type"][t]]
        if missing:
            raise RuntimeError(f"no {', '.join(missing)} request completed in the window")
        mean = sum(share * statistics.fmean(out["by_type"][t]) for t, share in out["mix"].items())
        throughput = out["clients"] / mean
    else:
        # ingest: rows committed per second of the writer's own time
        # (parse, merge, scheduled optimize), leaving out the generator
        # and the oracle, and the reader's last read after the writer
        # stopped
        mean = statistics.fmean(lat)
        throughput = out["items"] / sum(out["commit"])
    return {
        "setup_s": setup["total"][0],
        "retained_mb": sum(out["retained"].values()) / 2**20,
        "latency_mean_ms": 1000 * mean,
        "throughput_per_s": throughput,
    }


def run_phase(ctx, workload: str, traced: bool, state: dict) -> dict:
    """One window of the workload; it enables the tracer only around its
    timed traffic when ``traced``."""
    t0 = time.perf_counter()
    run = {"dashboard": run_dashboard, "ingest_merge": run_ingest}
    out = run[workload](ctx, traced, state)
    out["phase_s"] = time.perf_counter() - t0
    return out


# ---------------------------------------------------------------------------
# per-layer metrics from spans and counts
# ---------------------------------------------------------------------------


def per_layer(ctx, workload: str, setup: dict, plain: dict, traced: dict, m0: dict, m1: dict) -> dict:
    from trace import self_times

    from dashboard import TYPES

    vals = {k: 0.0 for k in per_layer_units()}
    vals["session.start_s"] = setup["start"][0]
    vals["session.first_result_s"] = setup["first"][0]
    vals["session.rebuild_s"] = statistics.median(setup["total"][1:])
    vals["session.peak_rss_mb"] = plain["peak"] / 2**20
    spans = ctx.tracer.spans
    st = self_times(spans)
    by_name: dict[str, list[float]] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(st[sp.id])

    def mean_ms(name: str) -> float:
        xs = by_name.get(name, [])
        return 1000 * statistics.fmean(xs) if xs else 0.0

    if workload == "dashboard":
        rtype = traced["rtype"]
        per_type: dict[tuple[str, str], float] = {}
        for sp in spans:
            key = (sp.name, rtype.get(sp.rid, ""))
            per_type[key] = per_type.get(key, 0.0) + st[sp.id]
        for t in TYPES:
            agg = traced["layer"][t]
            k = agg["n"]
            if not k:
                continue
            vals[f"operators.build_ms.{t}"] = 1000 * per_type.get(("operators.build", t), 0.0) / k
            vals[f"plans.plan_ms.{t}"] = 1000 * per_type.get(("plans.plan", t), 0.0) / k
            vals[f"plans.exec_ms.{t}"] = 1000 * per_type.get(("plans.exec", t), 0.0) / k
            for f in ("jobs", "tasks", "exchanges", "rows_scanned", "rows_returned"):
                vals[f"plans.{f}.{t}"] = agg[f] / k
            vals[f"plans.rows_scanned_per_row.{t}"] = agg["rows_scanned"] / max(1, agg["rows_returned"])
        if traced["layer"]["insights"]["n"]:
            vals["llm.insights_ms"] = (1000 * per_type.get(("llm.insights", "insights"), 0.0)
                                       / traced["layer"]["insights"]["n"])
        vals["sources.load_ms"] = mean_ms("sources.load")
    else:
        n_reads = max(1, len(traced["lat"]))
        w, r = traced["wlayer"], traced["rlayer"]
        vals["sources.parse_ms"] = mean_ms("sources.parse")
        vals["sources.rejected_payloads"] = w["rejected"]
        vals["sources.planted_rejects"] = w["planted"]
        vals["storage.merge_ms"] = mean_ms("storage.merge")
        vals["storage.optimize_ms"] = mean_ms("storage.optimize")
        commits = plain["commit"] + traced["commit"]
        vals["storage.commit_p50_ms"] = 1000 * statistics.median(commits)
        vals["storage.commit_p95_ms"] = 1000 * percentile(commits, 95)
        vals["storage.snapshot_ms"] = mean_ms("storage.snapshot")
        vals["storage.read_ms"] = mean_ms("storage.read")
        vals["plans.exec_ms.fresh_read"] = mean_ms("plans.exec")
        vals["storage.log_versions_replayed"] = r["replayed"] / n_reads
        vals["storage.live_dirs"] = r["live_dirs"] / n_reads
        vals.update({f"storage.{k}": v for k, v in traced["storage"].items()})
        vals["pipelines.view_versions"] = traced["view_versions"]
        if traced["view_versions"]:
            vals["pipelines.view_ms_per_version"] = 1000 * traced["view_s"] / traced["view_versions"]
    vals["trace.overhead_mean_ms"] = m1["latency_mean_ms"] - m0["latency_mean_ms"]
    vals["trace.overhead_throughput_per_s"] = m1["throughput_per_s"] - m0["throughput_per_s"]
    return vals


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def report(workload: str, tag: str, metrics: dict, out: dict) -> None:
    lat = out["lat"]
    what, items = out["what"]
    print(f"[{workload}/{tag}] {what} samples={len(lat)} {items}={out['items']} "
          f"elapsed_s={out['elapsed']:.3f} failed/attempted={out['failed']}/{out['attempted']}")
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {END_TO_END[k]} (n={len(lat)})")
    # too unsteady over this few samples to bound, so printed, not reported
    print(f"  latency_p50_ms = {1000 * statistics.median(lat):.6g} ms (n={len(lat)})")
    print(f"  latency_p95_ms = {1000 * percentile(lat, 95):.6g} ms (n={len(lat)})")
    if "by_type" in out:
        print(f"  measured requests/s = {out['items'] / out['elapsed']:.6g}; per type n, mean ms: "
              + ", ".join(f"{t} {len(xs)} {1000 * statistics.fmean(xs):.1f}"
                          for t, xs in out["by_type"].items() if xs))
    print(f"  peak_rss_mb = {out['peak'] / 2**20:.6g} MB; retained MB by part: "
          + ", ".join(f"{k} {v / 2**20:.1f}" for k, v in out["retained"].items()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import market_insights_app_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    from host import HostWatch

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    ctx = Ctx(args, work, gen.load_params())
    state: dict = {}  # workload objects by name, kept across windows and closed at the end
    try:
        prepare_env(work)
        with HostWatch() as host:
            t0 = time.perf_counter()
            setup = set_up(ctx)
            setup["phase_s"] = time.perf_counter() - t0
            plain = run_phase(ctx, args.workload, False, state)
            traced = run_phase(ctx, args.workload, True, state) if args.trace else None
        if args.workload == "ingest_merge":
            if traced is not None:
                w = traced["wlayer"]
                if w["rejected"] != w["planted"]:
                    traced["errors"].append(
                        f"parsers rejected {w['rejected']} payloads, {w['planted']} were malformed")
        m0 = e2e(setup, plain)
        report(args.workload, "untraced", m0, plain)
        phases = [plain]
        metrics, units = m0, END_TO_END
        if traced is not None:
            m1 = e2e(setup, traced)
            report(args.workload, "traced", m1, traced)
            phases.append(traced)
            units = per_layer_units()
            metrics = per_layer(ctx, args.workload, setup, plain, traced, m0, m1)
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            ctx.tracer.write(os.path.join(ROOT, ".perfbench", "traces",
                                          f"{args.workload}-seed{args.seed}.jsonl"))
            for k in sorted(metrics):
                print(f"  {k} = {metrics[k]:.6g} {units[k]}")
        errors = [e for ph in phases for e in ph["errors"]]
        for e in errors[:20]:
            print(f"  ERROR {e}")
        rec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "driver_memory": ctx.spark.sparkContext.getConf().get("spark.driver.memory"),
               "setup_samples_s": [round(x, 4) for x in setup["total"]],  # cold, then rebuilds
               "phase_s": [round(x, 2) for x in [setup["phase_s"]] + [ph["phase_s"] for ph in phases]],
               **host.record()}
        print("host " + json.dumps(rec))
    finally:
        for name in ("ingest", "ingest_traced"):
            if name in state:
                state[name].close()
        stop_spark(ctx)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(ph["attempted"] for ph in phases)
    # every failed operation and every wrong answer left one error line
    failed = min(attempted, len(errors))
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
