"""One benchmark run in one process: start the session, build the
workload's arrays, run its closed loop, check every answer, run the
reuse check, optionally trace, and print the result.  Started by
``layerbench/run.py``, which sets up the environment and cleans up."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np

from layerbench.common import (
    SPARK_ROW_SCHEMA,
    Cells,
    Outcome,
    Stmt,
    execute,
    median,
    tail,
)

WARM_PASS = 1 << 20  # pass index of the untimed warm-up statements
BUILDS = 3  # set-up repetitions; setup_s uses their median

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
# metric name -> unit, as BENCHMARK.json declares them; failed_op_share
# is printed but not part of the JSON line
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]} | {"failed_op_share": "ratio"}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def workload(name: str, seed: int, smoke: bool):
    if name == "scan":
        from layerbench.scan import Scan  # noqa: PLC0415

        return Scan(seed, smoke)
    if name == "lookup":
        from layerbench.lookup import Lookup  # noqa: PLC0415

        return Lookup(seed, smoke)
    from layerbench.ingest import Ingest  # noqa: PLC0415

    return Ingest(seed, smoke)


def run_passes(spark, wl, n_passes: int, first: int, on_stmt=None):
    """The closed loop: one client sends the next statement only after the
    previous one returned, for ``n_passes`` whole passes."""
    outcomes: list[Outcome] = []
    pass_s: list[float] = []
    checks: list[Outcome] = []
    for i in range(first, first + n_passes):
        stmts = wl.pass_statements(i)
        t0 = time.perf_counter()
        for st in stmts:
            outcomes.append(on_stmt(st) if on_stmt else execute(spark, st))
        pass_s.append(time.perf_counter() - t0)
        checks += [execute(spark, st) for st in wl.pass_checks()]
    return outcomes, pass_s, checks


def reuse_check(spark, wl, scratch: str) -> list[dict]:
    """One table registered once and queried repeatedly, the way users
    register it.  Each wrong answer is one named failed operation."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from layerbench.scan import fmt  # noqa: PLC0415
    from tiledb_mariadb_spark.sources import spark_datasource as sd  # noqa: PLC0415
    from tiledb_mariadb_spark.sources import tiledb_array as ta  # noqa: PLC0415

    src, key, cond, cells = wl.reuse_source()
    uri = os.path.join(scratch, "reuse")
    shutil.copytree(src, uri)
    n = len(cells)
    out = []

    def record(name, fn, want):
        try:
            got = fn()
            out.append({"name": name, "ok": got == want, "expected": want, "got": got})
        except Exception as e:  # recorded as a failed operation
            out.append({"name": name, "ok": False, "expected": want,
                        "got": f"{type(e).__name__}: {e}"[:300]})

    def count_all():
        return spark.sql("SELECT count(*) FROM lb_reuse").collect()[0][0]

    def sql_count_after_filter():
        spark.sql(f"SELECT count(*) FROM lb_reuse WHERE {cond}").collect()
        return count_all()

    def count_after_merge():
        # 200 keys past the old non-empty domain
        new = Cells.random(np.random.default_rng([wl.seed, 7]),
                           int(cells.k.max()) + 1 + np.arange(200))
        new.qty_null[:] = False
        ta.merge_into_array(spark, uri,
                            spark.createDataFrame(new.pandas(), SPARK_ROW_SCHEMA),
                            ts=2_000_000_000, return_counts=False)
        return count_all()

    df = fmt(spark, uri)
    record("reuse_check.filter_then_count",
           lambda: (df.filter(F.col("k") == key).count(), df.count()), (1, n))
    sd.sql_table_from_array(spark, "lb_reuse", uri)
    record("reuse_check.sql_count_after_filter", sql_count_after_filter, n)
    record("reuse_check.count_after_merge", count_after_merge, n + 200)
    return out


def end_to_end(outcomes, pass_s, setup_s, space_amp) -> dict:
    ok = [o for o in outcomes if o.ok]
    lat = [o.seconds for o in ok]
    p50 = median(lat)
    tail_v, tail_pct, n = tail(lat) if lat else (float("nan"), 0.0, 0)
    if any(o.write for o in ok):  # ingest: user cells submitted by writes
        cells = sum(o.cells for o in ok if o.write)
        busy = sum(o.seconds for o in ok if o.write)
    else:
        cells = sum(o.cells for o in ok)
        busy = sum(lat)
    return {
        "setup_s": setup_s, "run_s": median(pass_s), "stmt_p50_s": p50,
        "stmt_tail_s": tail_v, "cells_per_s": cells / busy if busy else 0.0,
        "space_amp": space_amp,
    }, {"stmt_tail_percentile": tail_pct, "stmt_samples": n}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--sf-dir")
    args = ap.parse_args(argv)

    if args.workload == "headline":
        from layerbench.headline import main as headline  # noqa: PLC0415

        return headline(args)

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    arrays = os.path.join(args.run_dir, "arrays")
    t0 = time.perf_counter()
    from tiledb_mariadb_spark import session  # noqa: PLC0415
    from tiledb_mariadb_spark.sources.spark_datasource import (  # noqa: PLC0415
        register_tiledb_native,
    )

    spark = session.get_spark("layerbench")
    register_tiledb_native(spark)
    session_s = time.perf_counter() - t0
    try:
        return _run(spark, args, cpus, arrays, session_s)
    finally:
        spark.stop()


def _run(spark, args, cpus, arrays, session_s) -> int:
    wl = workload(args.workload, args.seed, args.smoke)

    build_s = []
    for b in range(BUILDS):
        dest = os.path.join(arrays, f"build{b}")
        t0 = time.perf_counter()
        wl.build(dest)
        build_s.append(time.perf_counter() - t0)
        if b:
            shutil.rmtree(os.path.join(arrays, f"build{b - 1}"), ignore_errors=True)

    # untimed warm-up: the first statement of a kind pays one-off costs
    # (the planner's Python worker, codegen, decoder caches)
    t0 = time.perf_counter()
    warm_stmts = wl.pass_statements(WARM_PASS)
    warm_outs = [execute(spark, st) for st in warm_stmts[:wl.warm_count]]
    warm_s = time.perf_counter() - t0
    setup_s = session_s + warm_s + median(build_s)

    # a fixed amount of work: the whole passes that fill --seconds at the
    # pass length measured on 4 cores, at least one
    n_passes = 1 if args.smoke else max(1, round(args.seconds / wl.nominal_pass_s))
    outcomes, pass_s, checks = run_passes(spark, wl, n_passes, 0)
    checks += warm_outs  # the warm-up's answers are checked too
    space_amp = wl.space_amp()
    t0 = time.perf_counter()
    reuse = reuse_check(spark, wl, os.path.join(args.run_dir, "reuse"))
    reuse_s = time.perf_counter() - t0
    e2e, tail_info = end_to_end(outcomes, pass_s, setup_s, space_amp)
    metrics = {k: (v, UNITS[k]) for k, v in e2e.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "cpus": cpus, **tail_info,
        "setup": {"session_s": session_s, "warm_s": warm_s, "build_s": build_s,
                  "warm_statements": [(o.name, o.seconds, o.ok) for o in warm_outs]},
        "passes_s": pass_s,
        "statements": [{"name": o.name, "seconds": o.seconds, "ok": o.ok,
                        "cells": o.cells} for o in outcomes],
        "reuse_check": reuse, "reuse_check_s": reuse_s,
    }
    if args.trace:
        metrics, detail["spans"], traced_outs = traced(spark, wl, args, session_s)
        detail["per_layer"] = metrics
        checks += traced_outs  # the trace passes' answers are checked too

    # the reuse check's wrong answers are the known defect it shows: they
    # are named failed operations and count in failed_op_share, but the
    # JSON line's `failed` covers the workload's own statements and checks
    done = outcomes + checks
    failed = sum(not o.ok for o in done)
    failed_ops = [{"name": o.name, "detail": o.detail} for o in done if not o.ok]
    failed_ops += [{"name": r["name"], "detail": f"expected {r['expected']}, got {r['got']}"}
                   for r in reuse if not r["ok"]]
    e2e_all = dict(e2e, failed_op_share=len(failed_ops) / (len(done) + len(reuse)))
    detail.update(end_to_end=e2e_all, failed_operations=failed_ops,
                  checks=[{"name": o.name, "ok": o.ok, "detail": o.detail} for o in checks])

    os.makedirs(args.out_dir, exist_ok=True)
    out_path = os.path.join(
        args.out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(detail, f, default=str)

    print(f"layerbench {args.workload} seed={args.seed} cpus={cpus} "
          f"clients=1 (closed loop) passes={len(pass_s)} statements={len(outcomes)}")
    for k, v in e2e_all.items():
        print(f"  {k} = {v:.6g} {UNITS[k]}")
    print(f"  stmt_tail_s is p{tail_info['stmt_tail_percentile']} "
          f"of {tail_info['stmt_samples']} statements")
    for op in failed_ops:
        print(f"  failed operation: {op['name']}: {op['detail']}")
    print(f"  detail: {os.path.relpath(out_path)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(done), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0


TRACE_PASS = 1 << 21  # pass index of the trace-overhead pair


def traced(spark, wl, args, session_s):
    """The same pass twice, untraced then traced (job groups + spans), so
    their difference is the tracing overhead; then the layer replay."""
    from layerbench.trace import Tracer, job_census, peak_rss, replay  # noqa: PLC0415

    plain, untraced_s, plain_checks = run_passes(spark, wl, 1, TRACE_PASS)
    tracer = Tracer()
    tracer.install()
    census = []
    try:
        def on_stmt(st: Stmt) -> Outcome:
            group = f"layerbench-{len(census)}"
            spark.sparkContext.setJobGroup(group, st.name)
            tracer.stmt = len(census)
            with tracer.span(f"stmt.{st.name}"):
                o = execute(spark, st)
            census.append(job_census(spark, group))
            return o

        outs, pass_s, checks = run_passes(spark, wl, 1, TRACE_PASS, on_stmt=on_stmt)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        tracer.stmt = None
        with tracer.span("replay"):
            layer = replay(spark, wl, os.path.join(args.run_dir, "replay"), args.seed)
    finally:
        tracer.uninstall()

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    driver_mb, worker_mb = peak_rss(spark)
    win = [s for s in tracer.spans if s["name"] == "tiledb_native_agg.windowed_agg_native"]
    cons = [s for s in tracer.spans if s["name"] == "tiledb_array.consolidate_array"]
    layer.update({
        "session.start_s": session_s,
        "spark.jobs_per_stmt": mean([c[0] for c in census]),
        "spark.stages_per_stmt": mean([c[1] for c in census]),
        "spark.tasks_per_stmt": mean([c[2] for c in census]),
        "spark.driver_peak_rss_mb": driver_mb,
        "spark.python_worker_peak_rss_mb": worker_mb,
        "tiledb_array.write_array_s": mean(tracer.durations("tiledb_array.write_array")),
        "tiledb_array.merge_s": mean(tracer.durations("tiledb_array.merge_into_array")),
        "tiledb_array.consolidate_s": mean(tracer.durations("tiledb_array.consolidate_array")),
        "tiledb_native_write.consolidate_bytes_rewritten":
            mean([s.get("bytes_rewritten", 0) for s in cons]),
        "tiledb_native_agg.windowed_s": mean([s["end"] - s["start"] for s in win]),
        "tiledb_native_agg.metadata_share": mean([float(s["metadata"]) for s in win]),
        "tiledb_native_agg.cells_decoded": mean([s["cells_decoded"] for s in win]),
        "trace_overhead_s": pass_s[0] - untraced_s[0],
    })
    missing = set(PER_LAYER) ^ set(layer)
    if missing:
        raise RuntimeError(f"per-layer metrics out of step with PER_LAYER: {sorted(missing)}")
    return ({k: (layer[k], u) for k, u in PER_LAYER.items()}, tracer.spans,
            plain + plain_checks + outs + checks)


if __name__ == "__main__":
    sys.exit(main())
