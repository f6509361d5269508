"""Read-split sizing: every read planner (``read_array``, the
``tiledb_native`` data source and the JVM bridge's ``splits`` command)
plans ``min(target_splits, ceil(cells / CELLS_PER_SPLIT))`` splits over
the metadata upper bound on the cells its narrowed box can hold
(``estimate_read_cells`` + ``size_read_splits``).

Reference anchor: the handler sizes its scans from the metadata record
estimate (computeRecordsUB, ha_mytile.cc:1424-1468)."""

from __future__ import annotations

import json

from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThanOrEqual

from tiledb_mariadb_spark.sources import tiledb_array as ta
from tiledb_mariadb_spark.sources.spark_datasource import TileDBNativeReader
from tiledb_mariadb_spark.sources.tiledb_array import (
    CELLS_PER_SPLIT,
    FragmentDirBackend,
    NativeDecoderBackend,
    estimate_read_cells,
    read_array,
    size_read_splits,
)
from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    count_native_array,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
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
