"""Split sizing: every read planner (``read_array``, the
``tiledb_native`` data source and the JVM bridge's ``splits`` command)
plans ``min(target_splits, ceil(cells / CELLS_PER_SPLIT))`` splits over
the metadata upper bound on the cells its narrowed box can hold
(``estimate_read_cells`` + ``size_read_splits``).  The consolidation
planners (``consolidate_array``, ``consolidate_array_incremental`` and
``maintain_array``) apply the same rule when ``target_splits`` is None,
capped at their old fixed counts; an explicit value is the exact split
count.

Reference anchor: the handler sizes its scans from the metadata record
estimate (computeRecordsUB, ha_mytile.cc:1424-1468)."""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThanOrEqual

from tiledb_mariadb_spark.sources import tiledb_array as ta
from tiledb_mariadb_spark.sources.spark_datasource import TileDBNativeReader
from tiledb_mariadb_spark.sources.tiledb_array import (
    CELLS_PER_SPLIT,
    FragmentDirBackend,
    NativeDecoderBackend,
    consolidate_array,
    consolidate_array_incremental,
    estimate_read_cells,
    maintain_array,
    read_array,
    size_read_splits,
)
from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _fragment_dirs,
    count_native_array,
    read_native_array_range,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    vacuum_native_array,
    write_native_fragment,
)
from tiledb_mariadb_spark.tools import jvm_bridge


def _sparse(tmp_path, n=20_000, n_frags=16, capacity=10_000, name="sp"):
    """``n`` cells with keys 0..n-1 in ``n_frags`` disjoint key bands."""
    d = str(tmp_path / name)
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**9), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=capacity,
    )
    band = n // n_frags
    for f in range(n_frags):
        ks = list(range(f * band, n if f == n_frags - 1 else (f + 1) * band))
        write_native_fragment(
            d, {"k": ks, "v": ks}, ts=100 + f, version=19
        )
    return d


def test_size_read_splits_rule():
    assert size_read_splits(16, None) == 16  # unknown: today's target
    assert size_read_splits(16, 0) == 1
    assert size_read_splits(16, 1) == 1
    assert size_read_splits(16, CELLS_PER_SPLIT) == 1
    assert size_read_splits(16, CELLS_PER_SPLIT + 1) == 2
    assert size_read_splits(16, 600_000) == 3
    assert size_read_splits(4, 10**9) == 4  # the target still caps


def test_dense_estimate_is_the_box_volume(tmp_path):
    d = str(tmp_path / "dense")
    create_native_array(
        d,
        dims=[NativeDim("r", 1, 1, (0, 99), 10),
              NativeDim("c", 1, 1, (0, 49), 10)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    write_native_fragment(
        d, {"v": list(range(40 * 50))}, subarray=[(20, 59), (0, 49)],
        ts=10, version=19,
    )
    be = NativeDecoderBackend()
    info = be.info(d)
    assert estimate_read_cells(be, d, info) == 40 * 50
    assert estimate_read_cells(be, d, info, {"r": (30, 39)}) == 10 * 50
    assert estimate_read_cells(
        be, d, info, {"r": (0, 24), "c": (5, 14)}
    ) == 5 * 10
    assert estimate_read_cells(be, d, info, {"r": (70, 80)}) == 0


def test_sparse_estimate_comes_from_rtree_and_footers(tmp_path):
    # one fragment of 10 tiles x 100 cells: keys 10*i, tile t = 1000t..
    d = str(tmp_path / "rt")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=100,
    )
    ks = [10 * i for i in range(1000)]
    write_native_fragment(d, {"k": ks, "v": ks}, ts=10, version=19)
    be = NativeDecoderBackend()
    info = be.info(d)
    # unbounded: the footer's exact count
    assert estimate_read_cells(be, d, info) == count_native_array(d) == 1000
    # bounded: the R-tree keeps tiles 2..4 (tile-granular upper bound)
    assert estimate_read_cells(be, d, info, {"k": (2500, 4490)}) == 300
    # IN-list pieces are bounded by their hull (tiles 1..7)
    assert estimate_read_cells(
        be, d, info, {"k": [(1500, 1500), (7200, 7200)]}
    ) == 700
    # a backend that cannot estimate leaves the target alone
    assert estimate_read_cells(FragmentDirBackend(), d, info) is None


def test_small_array_plans_one_partition_everywhere(spark, tmp_path, capsys):
    """A 20k-cell, 16-fragment array is one task's work: one partition
    through the data source, read_array and the JVM bridge."""
    d = _sparse(tmp_path)
    r = TileDBNativeReader(d, None, 16, ["k", "v"])
    assert len(r.partitions()) == 1
    df = read_array(spark, d)
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 20_000
    assert jvm_bridge.main(["splits", "--uri", d]) == 0
    assert len(json.loads(capsys.readouterr().out)["splits"]) == 1


def test_lowered_constant_restores_parallel_plans(
    spark, tmp_path, capsys, monkeypatch
):
    """The constant is the only knob: lowered, the same array plans up
    to ``target_splits`` splits again in every planner, and an explicit
    ``target_splits`` still caps the count."""
    d = _sparse(tmp_path)
    monkeypatch.setattr(ta, "CELLS_PER_SPLIT", 1000)
    assert len(TileDBNativeReader(d, None, 16, ["k", "v"]).partitions()) == 16
    assert read_array(spark, d).rdd.getNumPartitions() == 20
    df = read_array(spark, d, target_splits=3)
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 20_000
    # a narrowed box meets two 1250-cell fragments: 2500 -> 3 splits
    r = TileDBNativeReader(d, None, 16, ["k", "v"])
    r.pushFilters([GreaterThanOrEqual(("k",), 5000),
                   LessThanOrEqual(("k",), 6499)])
    assert len(r.partitions()) == 3
    assert jvm_bridge.main(["splits", "--uri", d]) == 0
    assert len(json.loads(capsys.readouterr().out)["splits"]) == 16


def test_unknown_estimate_keeps_target(spark, tmp_path):
    """A backend with no estimator plans ``target_splits`` as before."""
    import pandas as pd

    uri = str(tmp_path / "fd")
    be = FragmentDirBackend()
    info = ta.ArrayInfo(
        dims=[ta.DimInfo("x", "bigint", (0, 999))],
        attrs=[ta.AttrInfo("v", "double")],
    )
    be.create(uri, info)
    be.write(uri, pd.DataFrame({"x": range(1000), "v": [0.0] * 1000}), ts=1)
    assert read_array(spark, uri, backend=be, target_splits=8) \
        .rdd.getNumPartitions() == 8


def test_emptying_predicate_still_plans_nothing(spark, tmp_path):
    d = _sparse(tmp_path)
    r = TileDBNativeReader(d, None, 16, ["k", "v"])
    r.pushFilters([In(("k",), (-5, -3))])
    assert r.partitions() == []
    assert read_array(spark, d, dim_ranges={"k": (-9, -1)}).count() == 0


def test_in_list_keeps_one_split_per_merged_range(tmp_path):
    d = _sparse(tmp_path)
    r = TileDBNativeReader(d, None, 16, ["k", "v"])
    assert list(r.pushFilters([In(("k",), (7, 300, 8, 42))])) == []
    parts = r.partitions()
    assert [p.ranges[0] for p in parts] == [(7, 8), (42, 42), (300, 300)]


# --- the consolidation planners ----------------------------------------------


def _cons_files(uri):
    return [
        e for e in os.listdir(os.path.join(uri, "__commits"))
        if e.endswith(".con")
    ]


def _spy_plans(monkeypatch):
    """Record the split list of every ``plan_splits`` call."""
    plans = []
    real = ta.plan_splits
    monkeypatch.setattr(
        ta, "plan_splits",
        lambda *a, **k: plans.append(real(*a, **k)) or plans[-1],
    )
    return plans


def _with_small_run(tmp_path):
    """A 10k-cell base plus five 100-cell fragments spread over its key
    range: one incremental run of the five small ones."""
    d = str(tmp_path / "inc")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=100,
    )
    write_native_fragment(
        d, {"k": list(range(10_000)), "v": list(range(10_000))},
        ts=100, version=19,
    )
    for i in range(5):
        ks = list(range(i * 2000, i * 2000 + 100))
        write_native_fragment(
            d, {"k": ks, "v": [k * 10 + i for k in ks]},
            ts=200 + i, version=19,
        )
    return d


def test_default_consolidation_writes_one_fragment(spark, tmp_path):
    """A 20k-cell, 16-fragment array is one task's work: the default
    consolidation stages ONE fragment under ONE .con, and the merged
    view is unchanged before vacuum and after it."""
    d = _sparse(tmp_path)
    _n, before = read_native_array_range(d)
    assert consolidate_array(spark, d) == 1
    assert len(_cons_files(d)) == 1
    assert len(_fragment_dirs(d)) == 1
    assert read_native_array_range(d)[1] == before
    assert vacuum_native_array(d) > 0
    assert read_native_array_range(d)[1] == before
    assert read_array(spark, d).count() == 20_000


def test_default_dense_consolidation_writes_one_band(spark, tmp_path):
    """Dense: the bounding-box volume (60 x 30 cells) is one split, so
    the three overlapping fragments fold into one band; reads are
    bit-identical, ranged reads included."""
    import struct

    d = str(tmp_path / "dense")
    create_native_array(
        d,
        dims=[NativeDim("r", 1, 1, (0, 99), 10),
              NativeDim("c", 1, 1, (0, 49), 10)],
        attrs=[NativeAttr("v", 1, 1, False, struct.pack("<q", -1))],
        array_type="DENSE",
    )
    write_native_fragment(
        d, {"v": [r * 100 + c for r in range(30) for c in range(20)]},
        ts=10, subarray=[(0, 29), (0, 19)], version=19,
    )
    write_native_fragment(
        d, {"v": [777] * (8 * 5)}, ts=20,
        subarray=[(13, 20), (7, 11)], version=19,
    )
    write_native_fragment(
        d, {"v": [r * 1000 + c for r in range(40, 60)
                  for c in range(10, 30)]},
        ts=30, subarray=[(40, 59), (10, 29)], version=19,
    )
    _n, before = read_native_array_range(d)
    assert len(before) == 60 * 30
    assert consolidate_array(spark, d) == 1
    assert len(_cons_files(d)) == 1
    assert len(_fragment_dirs(d)) == 1
    assert read_native_array_range(d)[1] == before
    assert vacuum_native_array(d) > 0
    assert read_native_array_range(d)[1] == before
    _n, ranged = read_native_array_range(d, ranges=[(10, 45), (5, 25)])
    assert ranged == [
        row for row in before if 10 <= row[0] <= 45 and 5 <= row[1] <= 25
    ]


def test_default_incremental_and_maintain_write_one_fragment(
    spark, tmp_path
):
    """Incremental consolidation sizes a run by the whole array's cells
    (an over-count of the run): both entry points write one fragment
    per run under the defaults."""
    d = _with_small_run(tmp_path)
    _n, before = read_native_array_range(d)
    assert consolidate_array_incremental(spark, d) == 1
    assert read_native_array_range(d)[1] == before

    d2 = _with_small_run(tmp_path / "m")
    _n, before2 = read_native_array_range(d2)
    out = maintain_array(spark, d2)
    assert out["fragments"] == 1
    assert out["vacuumed"] >= 1
    assert len(_fragment_dirs(d2)) == 2  # the base plus the merged run
    assert read_native_array_range(d2)[1] == before2


def test_explicit_target_splits_is_the_exact_count(
    spark, tmp_path, monkeypatch
):
    """An explicit ``target_splits`` bypasses the sizing rule: q319's
    contract (several disjoint fragments under one .con) holds on an
    array the rule would consolidate as one split."""
    d = _sparse(tmp_path)
    _n, before = read_native_array_range(d)
    plans = _spy_plans(monkeypatch)
    n_new = consolidate_array(spark, d, target_splits=4)
    assert [len(p) for p in plans] == [4]
    assert n_new >= 2
    assert len(_cons_files(d)) == 1
    assert read_native_array_range(d)[1] == before


def test_lowered_constant_restores_parallel_consolidation(
    spark, tmp_path, monkeypatch
):
    """Lowered, the constant brings several consolidation splits back
    under the default (20k cells / 1000 = 20, capped at 16; the
    incremental run's 10.5k cells / 1000 = 11, capped at 8)."""
    monkeypatch.setattr(ta, "CELLS_PER_SPLIT", 1000)
    d = _sparse(tmp_path)
    _n, before = read_native_array_range(d)
    plans = _spy_plans(monkeypatch)
    assert consolidate_array(spark, d) > 1
    assert [len(p) for p in plans] == [16]
    assert read_native_array_range(d)[1] == before

    d2 = _with_small_run(tmp_path)
    _n, before2 = read_native_array_range(d2)
    assert consolidate_array_incremental(spark, d2) > 1
    assert [len(p) for p in plans[1:]] == [8]
    assert read_native_array_range(d2)[1] == before2
