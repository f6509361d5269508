"""Tracing for the traced run: spans around the calls into each layer's
public functions, Spark's job census per statement, and a driver-side
replay of each workload's layer calls on its own arrays.

Everything here lives in the benchmark: the program is wrapped from the
outside (module attributes are swapped for timing wrappers and restored
afterwards), never edited.  Spans are kept in memory and written out
when the run ends."""

from __future__ import annotations

import os
import shutil
import struct
import time
from contextlib import contextmanager

import numpy as np

from layerbench.common import (
    COLORS,
    SPARK_ROW_SCHEMA,
    Cells,
    descendants,
    dir_bytes,
    sparse_attrs,
    vm_hwm_mb,
)

# (module, function) pairs whose driver-side calls get a span
WRAPPED = [
    ("tiledb_mariadb_spark.sources.tiledb_array", "read_array"),
    ("tiledb_mariadb_spark.sources.tiledb_array", "write_array"),
    ("tiledb_mariadb_spark.sources.tiledb_array", "merge_into_array"),
    ("tiledb_mariadb_spark.sources.tiledb_array", "consolidate_array"),
    ("tiledb_mariadb_spark.sources.spark_datasource", "sql_windowed_stats_from_array"),
    ("tiledb_mariadb_spark.sources.spark_datasource", "sql_table_from_array"),
    ("tiledb_mariadb_spark.sources.tiledb_native_write", "write_delete_condition"),
    ("tiledb_mariadb_spark.sources.tiledb_native_write", "vacuum_native_array"),
    ("tiledb_mariadb_spark.sources.tiledb_native_write", "write_native_fragment"),
    ("tiledb_mariadb_spark.sources.tiledb_native_agg", "windowed_agg_native"),
]


def _layer(module: str) -> str:
    return module.rsplit(".", 1)[-1]


def _fragment_names(uri: str) -> set[str]:
    root = os.path.join(uri, "__fragments")
    return set(os.listdir(root)) if os.path.isdir(root) else set()


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.stmt: int | None = None
        self._undo: list[tuple] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter() - self.t0, "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "stmt": self.stmt}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def install(self) -> None:
        import importlib  # noqa: PLC0415

        for modname, fname in WRAPPED:
            mod = importlib.import_module(modname)
            orig = getattr(mod, fname)
            setattr(mod, fname, self._wrap(f"{_layer(modname)}.{fname}", orig))
            self._undo.append((mod, fname, orig))

    def uninstall(self) -> None:
        for mod, fname, orig in reversed(self._undo):
            setattr(mod, fname, orig)
        self._undo.clear()

    def _wrap(self, name, orig):
        def wrapper(*args, **kwargs):
            before = None
            if name == "tiledb_array.consolidate_array":
                before = _fragment_names(args[1])
            with self.span(name) as rec:
                res = orig(*args, **kwargs)
            if name == "tiledb_native_agg.windowed_agg_native":
                rec["metadata"] = res is not None
                rec["cells_decoded"] = (res or {}).get("audit", {}).get("cells_decoded", 0)
            if before is not None:
                uri = args[1]
                rec["bytes_rewritten"] = sum(
                    dir_bytes(os.path.join(uri, "__fragments", f))
                    for f in _fragment_names(uri) - before)
            return res

        wrapper.__wrapped__ = orig
        return wrapper

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def job_census(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return len(jobs), len(stages), tasks


def peak_rss(spark) -> tuple[float, float]:
    """(driver JVM, largest Python worker) VmHWM in MB."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    workers = []
    for pid in descendants(jvm):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"python" not in f.read():
                    continue
        except OSError:
            continue
        hwm = vm_hwm_mb(pid)
        if hwm is not None:
            workers.append(hwm)
    return vm_hwm_mb(jvm) or 0.0, max(workers, default=0.0)


# -- replay ------------------------------------------------------------

def _filters(ranges, conditions):
    from pyspark.sql.datasource import (  # noqa: PLC0415
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    ops = {"=": EqualTo, ">": GreaterThan, ">=": GreaterThanOrEqual,
           "<": LessThan, "<=": LessThanOrEqual}
    out = []
    for d, (lo, hi) in (ranges or {}).items():
        out += [GreaterThanOrEqual((d,), lo), LessThanOrEqual((d,), hi)]
    for col, op, v in conditions or []:
        out.append(ops[op]((col,), v))
    return out


def _shape_probe(shape: str, dest: str, rng) -> tuple[str, str, str | None]:
    """A small array of one column shape, for a shape the workload's own
    arrays do not have."""
    from tiledb_mariadb_spark.sources.tiledb_native import NativeAttr, NativeDim  # noqa: PLC0415
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        write_native_fragment,
    )

    uri = os.path.join(dest, f"shape_{shape}")
    if shape == "dense":
        side = 256
        create_native_array(
            uri, [NativeDim("r", 1, 1, (0, side - 1), 64),
                  NativeDim("c", 1, 1, (0, side - 1), 64)],
            [NativeAttr("v", 1, 1, False, struct.pack("<q", -1))],
            array_type="DENSE", compressor="zstd")
        write_native_fragment(uri, {"v": rng.integers(0, 1000, side * side)},
                              subarray=[(0, side - 1), (0, side - 1)], version=19)
        return uri, "v", None
    n = 50_000
    cells = Cells.random(rng, np.arange(n) * 3)
    key = rng.bytes(16).hex() if shape == "encrypted" else None
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 4 * n), None)], sparse_attrs(),
        enumerations={"colors": COLORS}, compressor="zstd", encryption_key=key)
    write_native_fragment(uri, cells.columns(), version=19, encryption_key=key)
    col = {"fixed": "price", "var_utf8": "name", "nullable": "qty",
           "enum": "color", "encrypted": "price"}[shape]
    return uri, col, key


SHAPES = ["fixed", "var_utf8", "nullable", "enum", "dense", "encrypted"]


def replay(spark, wl, scratch: str, seed: int) -> dict:
    """Driver-side replay of the workload's layer calls on its own
    arrays.  Returns per-layer metrics keyed by their published names."""
    from tiledb_mariadb_spark.sources import spark_datasource as sd  # noqa: PLC0415
    from tiledb_mariadb_spark.sources import tiledb_array as ta  # noqa: PLC0415
    from tiledb_mariadb_spark.sources import tiledb_native as tn  # noqa: PLC0415
    from tiledb_mariadb_spark.sources import tiledb_native_agg as tg  # noqa: PLC0415
    from tiledb_mariadb_spark.sources import tiledb_native_write as tw  # noqa: PLC0415

    rng = np.random.default_rng([seed, 9])
    clock = time.perf_counter
    acc = {k: 0.0 for k in (
        "plan_s", "plans", "splits", "info_s", "infos", "sw_s", "cned_s", "cneds",
        "rr_s", "rr_cells", "arrow_s", "np_hits", "np_tries",
        "chunks_dec", "chunks_tot", "listed", "read", "tiles_kept", "tiles_tot",
        "footer_s", "schema_s", "schemas")}

    probes = wl.replay_probes()
    for p in probes:
        uri, key = p["uri"], p.get("key")
        conds = p.get("conditions") or []
        be = ta.NativeDecoderBackend(encryption_key=key)
        t = clock()
        info = be.info(uri)
        acc["info_s"] += clock() - t
        acc["infos"] += 1
        t = clock()
        be.split_weights(uri)
        acc["sw_s"] += clock() - t
        if conds:
            t = clock()
            be.condition_ned(uri, conds)
            acc["cned_s"] += clock() - t
            acc["cneds"] += 1
        cols = p["columns"] or [f.name for f in info.dims + info.attrs]

        t = clock()
        reader = sd.TileDBNativeReader(uri, None, 16, cols, encryption_key=key)
        reader.pushFilters(_filters(p.get("ranges"), conds))
        parts = reader.partitions()
        acc["plan_s"] += clock() - t
        acc["plans"] += 1
        acc["splits"] += len(parts)

        for part in parts:
            if part.ranges is None:
                continue
            be.read_range(uri, part.ranges, cols, conditions=reader.conditions)
            s0 = dict(tn._SPAN_STATS)
            t = clock()
            pdf = be.read_range(uri, part.ranges, cols, conditions=reader.conditions)
            rr = clock() - t
            acc["chunks_dec"] += tn._SPAN_STATS["chunks_decoded"] - s0["chunks_decoded"]
            acc["chunks_tot"] += tn._SPAN_STATS["chunks_total"] - s0["chunks_total"]
            t = clock()
            for _ in reader.read(part):
                pass
            acc["arrow_s"] += (clock() - t) - rr
            acc["rr_s"] += rr
            acc["rr_cells"] += len(pdf)
            need = sorted(set(cols) | {c[0] for c in reader.conditions})
            fast = tn.read_native_array_range_np(
                uri, ranges=list(part.ranges), columns=need,
                prune_conditions=list(reader.conditions) or None)
            acc["np_tries"] += 1
            acc["np_hits"] += fast is not None

        ranges = [tuple((p.get("ranges") or {}).get(d.name, (None, None)))
                  for d in info.dims]
        for row in tn.explain_native_pruning(uri, ranges=ranges,
                                             conditions=conds or None,
                                             encryption_key=key):
            acc["listed"] += 1
            acc["read"] += row["decision"] == "read"
            if row["tiles_total"]:
                acc["tiles_tot"] += row["tiles_total"]
                acc["tiles_kept"] += row["tiles_kept"] or 0

        t = clock()
        schema = tn.parse_array_schema(tn._schema_path(uri))
        acc["schema_s"] += clock() - t
        acc["schemas"] += 1
        for frag in tn._fragment_dirs(uri):
            t = clock()
            tn.parse_fragment_footer(os.path.join(frag, "__fragment_metadata.tdb"), schema)
            acc["footer_s"] += clock() - t

    # decode throughput per column shape: the best of three reads
    shapes = dict(wl.shape_columns())
    probe_dir = os.path.join(scratch, "shapes")
    os.makedirs(probe_dir, exist_ok=True)
    for shape in SHAPES:
        if shape not in shapes:
            shapes[shape] = _shape_probe(shape, probe_dir, rng)
    out: dict[str, float] = {}
    dec_bytes = dec_s = 0.0
    for shape in SHAPES:
        uri, col, key = shapes[shape]
        if key is not None:
            tn.open_encryption(uri, key)
        tn.read_native_array_range_np(uri, columns=[col])  # warm caches
        best = float("inf")
        for _ in range(3):
            s0 = tn._SPAN_STATS["bytes_decoded"]
            t = clock()
            res = tn.read_native_array_range_np(uri, columns=[col])
            if res is None:  # the row path
                n_cells = len(tn.read_native_array_range(uri, columns=[col])[1])
            else:
                names, arrays = res
                n_cells = len(arrays[names[0]])
            best = min(best, clock() - t)
            decoded = tn._SPAN_STATS["bytes_decoded"] - s0
        acc["np_tries"] += 1
        acc["np_hits"] += res is not None
        dec_bytes += decoded
        dec_s += best
        out[f"tiledb_native.decode_cells_per_s.{shape}"] = n_cells / best

    # the write layers, on a copy of the workload's array
    src, _key, _cond, cells = wl.reuse_source()
    copy = os.path.join(scratch, "write_copy")
    shutil.copytree(src, copy)
    top = int(cells.k.max())
    batch = Cells.random(rng, top + 1 + np.arange(20_000))
    batch.qty_null[:] = False
    t = clock()
    frag = tw.write_native_fragment(copy, batch.columns(), ts=3_000_000_000, version=19)
    wdt = clock() - t
    frag_bytes = dir_bytes(frag)
    more = Cells.random(rng, top + 30_001 + np.arange(4_000))
    more.qty_null[:] = False
    ta.write_array(spark.createDataFrame(more.pandas(), SPARK_ROW_SCHEMA), copy,
                   ts=3_000_000_010)
    half = min(1_000, len(cells) // 2)  # keys matched, and as many new
    old = rng.choice(cells.k, half, replace=False)
    upd = Cells.random(rng, np.sort(np.concatenate([old, top + 40_001 + np.arange(half)])))
    upd.qty_null[:] = False
    ta.merge_into_array(spark, copy, spark.createDataFrame(upd.pandas(), SPARK_ROW_SCHEMA),
                        ts=3_000_000_020)
    ta.consolidate_array(spark, copy)
    tw.vacuum_native_array(copy)

    wuri, ranges = wl.window()
    tg.windowed_agg_native(wuri, ranges)

    ratio = lambda a, b: a / b if b else 0.0  # noqa: E731
    out.update({
        "spark_datasource.plan_s": ratio(acc["plan_s"], acc["plans"]),
        "spark_datasource.splits_per_stmt": ratio(acc["splits"], acc["plans"]),
        "spark_datasource.arrow_s_per_mcell": ratio(acc["arrow_s"], acc["rr_cells"] / 1e6),
        "tiledb_array.info_s": ratio(acc["info_s"], acc["infos"]),
        "tiledb_array.split_weights_s": ratio(acc["sw_s"], acc["infos"]),
        "tiledb_array.condition_ned_s": ratio(acc["cned_s"], acc["cneds"]),
        "tiledb_array.read_range_cells_per_s": ratio(acc["rr_cells"], acc["rr_s"]),
        "tiledb_native.decode_mb_per_s": ratio(dec_bytes / 1e6, dec_s),
        "tiledb_native.columnar_share": ratio(acc["np_hits"], acc["np_tries"]),
        "tiledb_native.chunks_decoded_ratio": ratio(acc["chunks_dec"], acc["chunks_tot"]),
        "tiledb_native.fragments_listed": ratio(acc["listed"], len(probes)),
        "tiledb_native.fragments_read": ratio(acc["read"], len(probes)),
        "tiledb_native.tiles_kept_ratio": ratio(acc["tiles_kept"], acc["tiles_tot"]),
        "tiledb_native.footer_parse_s": ratio(acc["footer_s"], acc["schemas"]),
        "tiledb_native.schema_parse_s": ratio(acc["schema_s"], acc["schemas"]),
        "tiledb_native_write.cells_per_s": len(batch) / wdt,
        "tiledb_native_write.bytes_per_user_byte": frag_bytes / batch.logical_bytes(),
        "tiledb_native_write.fragments_visible": float(len(tn._fragment_dirs(src))),
    })
    return out
