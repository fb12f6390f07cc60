"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--spans FILE]
    python3 perfbench/run.py --smoke [--spans FILE]

Every run does the same fixed work for its workload, whatever ``--seconds``
says: the option is accepted so the command line stays uniform.

Run from the root of a checkout. Inputs are generated from ``--seed`` into a
scratch directory under ``perfbench/.work/`` that is removed when the run
ends. One Spark session on ``local[<cores>]`` serves one closed-loop client.
With ``--trace 0`` the last stdout line is a JSON object carrying the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics.
``--smoke`` runs every workload on tiny inputs, untraced and then traced,
in one session. The exit code is 1 when any output check failed.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # a run leaves no files behind in the checkout

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import spans  # noqa: E402
from perfbench.common import Ctx  # noqa: E402

WORKLOADS = ["medallion_etl", "analytics_mix"]
#: end-to-end metrics (every workload reports all of them) and their units
E2E = {"setup_s": "s", "work_s": "s", "work_cpu_s": "s"}
#: workload figures: printed by name on every run, and reported among the
#: per-layer metrics of traced runs as ``workload.<name>``
FIGURES = {
    "full_load_s": "s", "incr_load_s": "s", "report_s": "s", "write_amp": "ratio",
    "query_s_p50": "s", "query_s_tail": "s", "query_s_tail_pct": "%",
    "queries": "count", "queries_per_s": "1/s",
    "neardup_recall": "ratio", "semdedup_recall": "ratio",
}
COUNTER_UNITS = {
    "calls": "count", "self_s": "s", "jobs": "count", "task_s": "s", "core_util": "ratio",
    "shuffle_bytes": "B", "output_bytes": "B", "spill_bytes": "B",
}
#: layer counters that read zero on both workloads when the benchmark was
#: defined (no spill anywhere; layers that only build lazy plans run no
#: jobs); they are not reported
ZERO_COUNTERS = {f"{layer}.spill_bytes" for layer in spans.LAYERS} | {
    f"{layer}.{c}"
    for layer in ["session", "plans.star", "operators.fastagg", "operators.asof",
                  "operators.sessionize", "functions.text", "operators.dedup"]
    for c in ["jobs", "task_s", "core_util", "shuffle_bytes", "output_bytes"]
} | {
    "sources.io.shuffle_bytes", "plans.medallion.output_bytes", "plans.scd.output_bytes",
    "operators.relational.output_bytes", "operators.components.output_bytes",
    "operators.similarity.shuffle_bytes", "catalog.output_bytes",
}
EXTRAS = {
    "plans.scd.rows_written_per_source_row": "ratio",
    "operators.dedup.lsh_candidates_per_pair": "ratio",
    "session.jvm_peak_rss_mb": "MB",
    "trace.op_coverage_p50": "ratio",
    "trace.op_coverage_min": "ratio",
    "trace.overhead_s": "s",
    "trace.work_s": "s",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    out = {}
    for layer in spans.LAYERS:
        for c in spans.COUNTERS:
            if f"{layer}.{c}" not in ZERO_COUNTERS:
                out[f"{layer}.{c}"] = COUNTER_UNITS[c]
    from perfbench.analytics import QUERIES

    out.update({f"catalog.{q}.self_s": "s" for q in QUERIES})
    out.update(EXTRAS)
    out.update({f"workload.{k}": u for k, u in FIGURES.items()})
    return out


def hermetic_env(work: str) -> dict[str, str]:
    """Size the engine to the machine it runs on and keep every file it writes inside
    ``work``. Set before the JVM starts; the values are printed per run."""
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
        # a quarter of RAM, at most 4 GiB: the inputs are small and the
        # machine is shared
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k])
    os.environ.update(env)
    return env


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # keep every job and stage of a run for the traced breakdown
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _new_work_dir() -> str:
    base = os.path.join(HERE, ".work")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):  # leftovers of runs that were killed
        try:
            os.kill(int(d), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        except PermissionError:
            pass
    work = os.path.join(base, str(os.getpid()))
    os.makedirs(work)
    return work


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _warm_up(spark) -> None:
    """The same tiny aggregate job for every workload: the session is up
    once it has run one job."""
    spark.range(1000).selectExpr("sum(id)").collect()


class Session:
    """The one Spark session of a run: started on first use (that is
    ``setup_s``), stopped together with its JVM at the end."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def get(self, rec):
        if self.spark is None:
            # looked up at call time, so a traced run sees the wrapped factory
            from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (
                session,
            )

            with rec.span("bench.setup"):
                self.spark = session.get_spark("perfbench", extra_conf=spark_conf(self.work))
                if isinstance(rec, spans.Recorder):
                    rec.sc = self.spark.sparkContext
                _warm_up(self.spark)
        if isinstance(rec, spans.Recorder):
            rec.sc = self.spark.sparkContext
        return self.spark

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it to exit."""
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None


def _modules():
    from perfbench import analytics, medallion

    return {"medallion_etl": medallion, "analytics_mix": analytics}


def run_workload(name: str, ctx: Ctx, session: Session) -> dict:
    """Prepare inputs (not timed), start or reuse the session (``setup_s``),
    then run the workload's timed operations under a root span."""
    mod = _modules()[name]
    inputs = mod.prepare(ctx)
    t0 = time.perf_counter()
    ctx.spark = session.get(ctx.rec)
    setup_s = time.perf_counter() - t0
    with ctx.rec.span(f"bench.{name}"):
        e2e = mod.run(ctx, inputs)
    result = {"e2e": {"setup_s": setup_s, **e2e}, "figures": dict(ctx.figures)}
    if ctx.traced:
        result["layers"] = traced_metrics(ctx, e2e["work_s"])
    return result


def traced_metrics(ctx: Ctx, work_s: float) -> dict[str, float]:
    """Every per-layer metric of a traced run; metrics a workload does not
    exercise read 0."""
    rec = ctx.rec
    by_group = spans.stage_metrics_by_group(ctx.spark.sparkContext)
    m = spans.layer_metrics(rec, by_group, ctx.cores)
    for sp in rec.spans:
        if sp.layer == "catalog":
            m[f"{sp.name}.self_s"] = m.get(f"{sp.name}.self_s", 0.0) + sp.self_s
    # rows the gold commits wrote per row the batches sent into the merges
    written = m.get("plans.versioned.output_records", 0) + m.get("plans.scd.output_records", 0)
    src = ctx.extras.get("source_rows", 0)
    m["plans.scd.rows_written_per_source_row"] = written / src if src else 0.0
    m["operators.dedup.lsh_candidates_per_pair"] = ctx.extras.get(
        "operators.dedup.lsh_candidates_per_pair", 0.0
    )
    m["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(ctx.spark)
    # self time of everything under a timed op over the op's wall time: how
    # much of each batch or query the spans account for
    cover = []
    for sid in ctx.op_spans:
        root = rec.spans[sid]
        cover.append(sum(s.self_s for s in spans.subtree(rec, sid)) / (root.end - root.start))
    m["trace.op_coverage_p50"] = sorted(cover)[len(cover) // 2]
    m["trace.op_coverage_min"] = min(cover)
    m["trace.overhead_s"] = rec.overhead_s
    # work_s under tracing: minus the work_s of untraced runs of the same
    # seed, it is the tracing overhead
    m["trace.work_s"] = work_s
    for k, v in ctx.figures.items():
        m[f"workload.{k}"] = v
    return {k: float(m.get(k, 0.0)) for k in per_layer_names()}


def _print_result(name: str, ctx: Ctx, result: dict, env: dict) -> None:
    print(f"# workload {name} seed {ctx.seed} trace {int(ctx.traced)} "
          f"env {json.dumps(env, sort_keys=True)}")
    for k, v in result["e2e"].items():
        print(f"{k} = {v:.6g} {E2E[k]}")
    for k, v in ctx.figures.items():
        print(f"{name}.{k} = {v:.6g} {FIGURES[k]}")
    for p in ctx.problems:
        print(f"CHECK FAILED: {p}")


def single(args, work: str, env: dict) -> int:
    cores = int(env["SPARK_GRAFT_CPUS"])
    rec = spans.Recorder(f"{args.workload}-{args.seed}") if args.trace else spans.NullRecorder()
    if args.trace:
        spans.install(rec)
    ctx = Ctx(args.seed, work, rec, smoke=False, cores=cores, traced=bool(args.trace))
    session = Session(work)
    try:
        result = run_workload(args.workload, ctx, session)
        if args.trace and args.spans:
            rec.dump(args.spans)
    finally:
        session.stop()
    _print_result(args.workload, ctx, result, env)
    if args.trace:
        units, metrics = per_layer_names(), result["layers"]
    else:
        units, metrics = E2E, result["e2e"]
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if ctx.failed == 0 else 1


def smoke(work: str, env: dict, seed: int, spans_path: str | None) -> int:
    """Every workload on tiny inputs, untraced then traced, in one session;
    prints one JSON summary including the time spent in the span recorder."""
    cores = int(env["SPARK_GRAFT_CPUS"])
    session = Session(work)
    summary = {name: {"attempted": 0, "failed": 0} for name in WORKLOADS}
    rec = spans.Recorder(f"smoke-{seed}")
    try:
        for traced in (False, True):
            if traced:
                spans.install(rec)
            for name in WORKLOADS:
                wdir = os.path.join(work, f"{name}-{int(traced)}")
                os.makedirs(wdir)
                if traced:
                    rec.reset(f"smoke-{seed}-{name}")
                ctx = Ctx(seed, wdir, rec if traced else spans.NullRecorder(),
                          smoke=True, cores=cores, traced=traced)
                result = run_workload(name, ctx, session)
                if traced and spans_path:
                    rec.dump(spans_path)
                _print_result(name, ctx, result, env)
                entry = summary[name]
                entry["traced" if traced else "untraced"] = result
                entry["attempted"] += ctx.attempted
                entry["failed"] += ctx.failed
    finally:
        session.stop()
    for entry in summary.values():
        entry["trace_overhead_s"] = entry["traced"]["layers"]["trace.overhead_s"]
    ok = all(e["failed"] == 0 for e in summary.values())
    print(json.dumps({"correct": ok, "smoke": summary}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0, help="accepted; the work is fixed")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--spans", help="append the traced run's spans to this JSON-lines file")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    work = _new_work_dir()
    try:
        env = hermetic_env(work)
        # the engine under test: a checkout without it fails here, before
        # any result is printed
        from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (  # noqa: F401
            catalog,
        )

        if args.smoke:
            return smoke(work, env, args.seed, args.spans)
        return single(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
