"""``headline``: bench.py's 79 headline specs at sf0.1, in bench.py's
order, each timed with ``.collect()`` after bench.py's two warm-ups
(charged to ``setup_s``).  A spec that raises is reported by name as a
failed operation and gets no time; every other result is checked
against its DuckDB oracle through ``plans.oracle.compare`` after the
timed region.

This is the only workload that runs the SQL/pipeline tier (``suite``,
``catalog``, ``functions``, ``operators``).  It is not in
BENCHMARK.json: the specs read the sf0.1 tables from ``--sf-dir`` (or
``$SPARK_GRAFT_SF_DIR``) and write scratch tables to fixed paths outside
the checkout, and the 79 queries alone take about two minutes at 4
cores.  Run it by hand:

    python3 layerbench/run.py --workload headline --seed 0 --seconds 0 \\
        --trace 0 --sf-dir <dir holding the sf0.1 parquet tables>
"""

from __future__ import annotations

import json
import os
import sys
import time


def _native_tier(name: str) -> bool:
    # ROADMAP's split: the native-array specs are q278 onward plus the
    # earlier q266_native_var_pipeline
    return "native" in name or int(name[1:name.index("_")]) >= 278


def main(args) -> int:
    sf_dir = args.sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        print("layerbench headline: pass --sf-dir <sf0.1 table directory>",
              file=sys.stderr)
        return 2
    from layerbench.driver import UNITS  # noqa: PLC0415
    from layerbench.trace import job_census  # noqa: PLC0415

    import bench  # noqa: PLC0415
    from tiledb_mariadb_spark.plans import oracle  # noqa: PLC0415
    from tiledb_mariadb_spark.session import get_spark  # noqa: PLC0415
    from tiledb_mariadb_spark.suite import all_specs  # noqa: PLC0415

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    t0 = time.perf_counter()
    spark = get_spark("layerbench-headline")
    try:
        specs = all_specs()
        names = list(bench.HEADLINE)
        present = [n for n in names if n in specs]
        specs[present[0]].spark(spark, sf_dir).collect()  # JVM + footers

        def _warm(batches):
            import numpy  # noqa: F401, PLC0415
            import pandas  # noqa: F401, PLC0415

            import tiledb_mariadb_spark.sources.tiledb_array  # noqa: F401, PLC0415
            import tiledb_mariadb_spark.sources.tiledb_native  # noqa: F401, PLC0415
            import tiledb_mariadb_spark.sources.tiledb_native_write  # noqa: F401, PLC0415

            yield from batches

        spark.range(cpus * 2, numPartitions=cpus * 2).mapInPandas(
            _warm, schema="id long").collect()
        setup_s = time.perf_counter() - t0

        queries, failed = {}, []
        for name in names:
            if name not in specs:
                failed.append({"name": name, "detail": "not in the suite registry"})
                continue
            group = f"layerbench-{name}"
            spark.sparkContext.setJobGroup(group, name)
            t = time.perf_counter()
            try:
                specs[name].spark(spark, sf_dir).collect()
            except Exception as e:  # one failing spec never hides the others
                failed.append({"name": name, "detail": f"{type(e).__name__}: {e}"[:300]})
                continue
            dt = time.perf_counter() - t
            jobs, stages, tasks = job_census(spark, group)
            queries[name] = {"s": dt, "jobs": jobs, "stages": stages, "tasks": tasks,
                             "tier": "native" if _native_tier(name) else "sql"}
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        run_s = sum(q["s"] for q in queries.values())

        # oracle check, outside the timed region
        con = oracle.duckdb_connection(sf_dir)
        try:
            for name in list(queries):
                try:
                    res = oracle.compare(specs[name], spark, sf_dir, con=con)
                    ok = res.columns_match and res.hash_match
                    detail = "" if ok else f"oracle mismatch: {res}"
                except Exception as e:  # a crashing check is a failed check
                    ok, detail = False, f"{type(e).__name__}: {e}"[:300]
                queries[name]["oracle_ok"] = ok
                if not ok:
                    failed.append({"name": name, "detail": detail})
        finally:
            con.close()
    finally:
        spark.stop()

    def tier(t, key):
        return sum(q[key] for q in queries.values() if q["tier"] == t)

    attempted = len(names)
    e2e = {"setup_s": setup_s, "run_s": run_s,
           "failed_op_share": len(failed) / attempted}
    layer = {"suite.sql_tier_s": tier("sql", "s"), "suite.native_tier_s": tier("native", "s"),
             "suite.jobs.sql_tier": tier("sql", "jobs"),
             "suite.jobs.native_tier": tier("native", "jobs")}
    os.makedirs(args.out_dir, exist_ok=True)
    out_path = os.path.join(args.out_dir, "headline.json")
    with open(out_path, "w") as f:
        json.dump({"workload": "headline", "sf_dir": sf_dir, "cpus": cpus,
                   "end_to_end": e2e, "per_layer": layer, "queries": queries,
                   "failed_operations": failed}, f, indent=1)
    print(f"layerbench headline cpus={cpus} queries={attempted} timed={len(queries)}")
    for k, v in e2e.items():
        print(f"  {k} = {v:.6g} {UNITS[k]}")
    for k, v in layer.items():
        print(f"  {k} = {v:.6g} {'s' if k.endswith('_s') else 'count'}")
    for op in failed:
        print(f"  failed operation: {op['name']}: {op['detail']}")
    print(f"  detail: {os.path.relpath(out_path)}")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
    }))
    return 0
