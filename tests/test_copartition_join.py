"""Storage-partitioned join of two co-dimensioned native arrays
(`copartitioned_join_arrays`): one split plan over the shared
coordinate space, both sides read per-task, local merge — zero data
shuffle.  Parity oracle: read_array both sides + a Spark SQL join.

Reference parity anchor: the dim-key joins of
mysql-test/mytile/t/join.test and mrr_triple_join.test (the MariaDB
executor BKA-joins through ha_mytile; co-location on the dimension
order is the same insight, executed here without any exchange).
"""

from __future__ import annotations

import random

import pytest

from tiledb_mariadb_spark.sources.tiledb_array import (
    NativeDecoderBackend,
    copartitioned_join_arrays,
    copartitioned_join_many,
    read_array,
)
from tiledb_mariadb_spark.sources.tiledb_native import NativeAttr, NativeDim
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

BIG = 2**60  # bigint far past float64's 2^53 exact-integer ceiling


def _mk_pair(tmp_path, n_a=400, n_b=300, b_offset=200, n_frags=4):
    """Array A: keys [0, n_a); array B: keys [b_offset, b_offset+n_b)
    — partial overlap, so inner drops rows and left NULL-fills.
    B's `qty` carries values past 2^53 to pin NULL-vs-float fidelity."""
    ua = str(tmp_path / "arr_a")
    ub = str(tmp_path / "arr_b")
    create_native_array(
        ua,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[
            NativeAttr("cents", 1, 1, False, None),
            NativeAttr("tag", 12, 0xFFFFFFFF, False, None),
        ],
    )
    create_native_array(
        ub,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[
            NativeAttr("qty", 1, 1, False, None),
            NativeAttr("note", 12, 0xFFFFFFFF, True, None),
            NativeAttr("score", 3, 1, False, None),
        ],
    )
    step_a = -(-n_a // n_frags)
    for f in range(n_frags):
        ks = list(range(f * step_a, min((f + 1) * step_a, n_a)))
        if ks:
            write_native_fragment(
                ua,
                {
                    "k": ks,
                    "cents": [k * 101 for k in ks],
                    "tag": [f"t{k % 7}" for k in ks],
                },
                ts=f + 1,
                version=19,
            )
    step_b = -(-n_b // n_frags)
    for f in range(n_frags):
        ks = [
            b_offset + i
            for i in range(f * step_b, min((f + 1) * step_b, n_b))
        ]
        if ks:
            write_native_fragment(
                ub,
                {
                    "k": ks,
                    "qty": [BIG + k for k in ks],
                    "note": [None if k % 5 == 0 else f"n{k}" for k in ks],
                    "score": [k * 0.25 for k in ks],
                },
                ts=f + 1,
                version=19,
            )
    return ua, ub


def _spark_join_oracle(spark, ua, ub, how, **kw):
    """The shuffle-join equivalent the function must match."""
    a = read_array(spark, ua, dim_ranges=kw.get("dim_ranges"),
                   conditions=kw.get("conditions_a"))
    b = read_array(spark, ub, dim_ranges=kw.get("dim_ranges"),
                   conditions=kw.get("conditions_b"))
    return a.join(b, on="k", how=how)


def _rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


def test_inner_parity(spark, tmp_path):
    ua, ub = _mk_pair(tmp_path)
    got = copartitioned_join_arrays(spark, ua, ub, target_splits=7)
    want = _spark_join_oracle(spark, ua, ub, "inner")
    cols = ["k", "cents", "tag", "qty", "note", "score"]
    assert _rows(got, cols) == _rows(want, cols)
    # overlap is [200, 400): exactly 200 joined rows
    assert got.count() == 200


def test_left_parity_null_fidelity(spark, tmp_path):
    """LEFT keeps unmatched A rows; B bigints stay exact (no float64
    round-trip — BIG+k would corrupt) and B NULLs are real NULLs."""
    ua, ub = _mk_pair(tmp_path)
    got = copartitioned_join_arrays(spark, ua, ub, how="left",
                                    target_splits=5)
    want = _spark_join_oracle(spark, ua, ub, "left")
    cols = ["k", "cents", "tag", "qty", "note", "score"]
    assert _rows(got, cols) == _rows(want, cols)
    rows = {r["k"]: r for r in got.collect()}
    assert len(rows) == 400
    assert rows[0]["qty"] is None and rows[0]["score"] is None
    assert rows[250]["qty"] == BIG + 250  # exact past 2^53
    assert rows[205]["note"] is None  # 205 % 5 == 0: genuine B NULL


def test_pushdown_ranges_and_conditions(spark, tmp_path):
    ua, ub = _mk_pair(tmp_path)
    kw = dict(
        dim_ranges={"k": (100, 320)},
        conditions_a=[("tag", "=", "t3")],
        conditions_b=[("note", "is_not_null")],
    )
    got = copartitioned_join_arrays(spark, ua, ub, target_splits=4, **kw)
    want = _spark_join_oracle(spark, ua, ub, "inner", **kw)
    cols = ["k", "cents", "tag", "qty", "note", "score"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_projection_and_suffixes(spark, tmp_path):
    """Colliding attr names get suffixed on both sides."""
    ua = str(tmp_path / "ca")
    ub = str(tmp_path / "cb")
    for uri in (ua, ub):
        create_native_array(
            uri,
            dims=[NativeDim("k", 1, 1, (0, 1000), None)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
        )
    write_native_fragment(ua, {"k": [1, 2, 3], "v": [10, 20, 30]},
                          ts=1, version=19)
    write_native_fragment(ub, {"k": [2, 3, 4], "v": [200, 300, 400]},
                          ts=1, version=19)
    got = copartitioned_join_arrays(spark, ua, ub, target_splits=2)
    assert got.columns == ["k", "v_a", "v_b"]
    assert _rows(got, got.columns) == [(2, 20, 200), (3, 30, 300)]
    only_a = copartitioned_join_arrays(
        spark, ua, ub, columns_b=[], target_splits=2,
    )
    assert only_a.columns == ["k", "v"]
    assert _rows(only_a, only_a.columns) == [(2, 20), (3, 30)]


def test_zero_shuffle_plan(spark, tmp_path):
    """THE scale claim: the physical plan contains no join exchange —
    only the byte-sized split-id repartition — and no Spark join node
    at all (the merge happens inside the scan tasks)."""
    ua, ub = _mk_pair(tmp_path, n_a=50, n_b=50, b_offset=0)
    got = copartitioned_join_arrays(spark, ua, ub, target_splits=4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # no SortMergeJoin/ShuffledHashJoin/BHJ
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 1, plan  # the split-id round-robin only


def test_disjoint_domains_empty_inner(spark, tmp_path):
    """Inner planning narrows to B's NED: disjoint arrays yield zero
    splits (no tasks launch) but a schema-stable empty frame."""
    ua, ub = _mk_pair(tmp_path, n_a=100, n_b=100, b_offset=5000)
    got = copartitioned_join_arrays(spark, ua, ub)
    assert got.count() == 0
    assert got.columns == ["k", "cents", "tag", "qty", "note", "score"]
    # and the plan had nothing to scan at all
    assert "mapInPandas" not in got._jdf.queryExecution().executedPlan().toString().lower()


def test_dim_mismatch_raises(spark, tmp_path):
    ua = str(tmp_path / "ma")
    ub = str(tmp_path / "mb")
    create_native_array(
        ua, dims=[NativeDim("k", 1, 1, (0, 10), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    create_native_array(
        ub, dims=[NativeDim("j", 1, 1, (0, 10), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(ua, {"k": [1], "v": [1]}, ts=1, version=19)
    write_native_fragment(ub, {"j": [1], "v": [1]}, ts=1, version=19)
    with pytest.raises(ValueError, match="not co-partitionable"):
        copartitioned_join_arrays(spark, ua, ub)
    with pytest.raises(ValueError, match="how must be"):
        copartitioned_join_arrays(spark, ua, ua, how="cross")
    with pytest.raises(ValueError, match="unknown columns_b"):
        copartitioned_join_arrays(spark, ua, ua, columns_b=["nope"])


def test_randomized_parity(spark, tmp_path):
    """Seeded fuzz: random key sets, duplicate-free per side, random
    split counts — function == Spark shuffle join, inner and left."""
    rng = random.Random(42)
    for trial in range(3):
        ua = str(tmp_path / f"ra{trial}")
        ub = str(tmp_path / f"rb{trial}")
        for uri in (ua, ub):
            create_native_array(
                uri,
                dims=[NativeDim("k", 1, 1, (0, 10**5), None)],
                attrs=[NativeAttr("v", 1, 1, False, None)],
            )
        ka = sorted(rng.sample(range(0, 3000), 500))
        kb = sorted(rng.sample(range(0, 3000), 500))
        write_native_fragment(
            ua, {"k": ka, "v": [k * 3 for k in ka]}, ts=1, version=19)
        write_native_fragment(
            ub, {"k": kb, "v": [k * 7 for k in kb]}, ts=1, version=19)
        for how in ("inner", "left"):
            got = copartitioned_join_arrays(
                spark, ua, ub, how=how,
                target_splits=rng.randint(1, 9),
            )
            a = read_array(spark, ua)
            b = read_array(spark, ub).withColumnRenamed("v", "vb")
            want = a.withColumnRenamed("v", "va").join(b, "k", how)
            assert sorted(
                (r["k"], r["v_a"], r["v_b"]) for r in got.collect()
            ) == sorted(
                (r["k"], r["va"], r["vb"]) for r in want.collect()
            ), f"trial {trial} how={how}"


def test_two_dim_join_keys(spark, tmp_path):
    """2-D arrays join on the FULL dim tuple: splits cut dim0, dim1
    rides whole — a pair equal on (x, y) still meets in one task."""
    ua = str(tmp_path / "2da")
    ub = str(tmp_path / "2db")
    dims = [
        NativeDim("x", 1, 1, (0, 100), None),
        NativeDim("y", 1, 1, (0, 100), None),
    ]
    create_native_array(
        ua, dims=dims, attrs=[NativeAttr("v", 1, 1, False, None)])
    create_native_array(
        ub, dims=dims, attrs=[NativeAttr("w", 1, 1, False, None)])
    cells_a = [(x, y) for x in range(20) for y in range(20) if (x + y) % 2 == 0]
    cells_b = [(x, y) for x in range(20) for y in range(20) if (x * y) % 3 == 0]
    write_native_fragment(
        ua,
        {"x": [c[0] for c in cells_a], "y": [c[1] for c in cells_a],
         "v": [c[0] * 100 + c[1] for c in cells_a]},
        ts=1, version=19)
    write_native_fragment(
        ub,
        {"x": [c[0] for c in cells_b], "y": [c[1] for c in cells_b],
         "w": [c[0] * 7 + c[1] for c in cells_b]},
        ts=1, version=19)
    got = copartitioned_join_arrays(spark, ua, ub, target_splits=5)
    both = sorted(set(cells_a) & set(cells_b))
    assert sorted((r["x"], r["y"]) for r in got.collect()) == both
    rows = {(r["x"], r["y"]): r for r in got.collect()}
    x, y = both[-1]
    assert rows[(x, y)]["v"] == x * 100 + y
    assert rows[(x, y)]["w"] == x * 7 + y


def _mk_star(tmp_path, n_sides=3, n=240):
    """n_sides co-dimensioned arrays with interleaved key coverage and
    a COLLIDING attr name 'v' on every side (suffix test)."""
    uris = []
    for i in range(n_sides):
        uri = str(tmp_path / f"star{i}")
        create_native_array(
            uri,
            dims=[NativeDim("k", 1, 1, (0, 10**5), None)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
        )
        ks = [k for k in range(n) if k % (i + 2) == 0]  # differing gaps
        write_native_fragment(
            uri, {"k": ks, "v": [k * (10 ** i) for k in ks]},
            ts=1, version=19)
        uris.append(uri)
    return uris


def test_triple_join_parity(spark, tmp_path):
    """mrr_triple_join.test shape: 3 co-dimensioned arrays star-join;
    parity vs chained Spark joins, inner AND left-fold."""
    uris = _mk_star(tmp_path)
    for how in ("inner", "left"):
        got = copartitioned_join_many(spark, uris, how=how,
                                      target_splits=4)
        assert got.columns == ["k", "v_1", "v_2", "v_3"]
        frames = [
            read_array(spark, u).withColumnRenamed("v", f"v_{i + 1}")
            for i, u in enumerate(uris)
        ]
        want = frames[0]
        for f in frames[1:]:
            want = want.join(f, "k", how)
        assert sorted(
            tuple(r) for r in got.select("k", "v_1", "v_2", "v_3").collect()
        ) == sorted(
            tuple(r) for r in want.select("k", "v_1", "v_2", "v_3").collect()
        ), how
    plan = copartitioned_join_many(
        spark, uris, target_splits=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_many_matches_pairwise(spark, tmp_path):
    """k=2 via the many-way entry point equals the pairwise function."""
    ua, ub = _mk_pair(tmp_path, n_a=150, n_b=150, b_offset=50)
    got = copartitioned_join_many(
        spark, [ua, ub], how="left", target_splits=3,
    )
    want = copartitioned_join_arrays(
        spark, ua, ub, how="left", target_splits=3,
    )
    cols = ["k", "cents", "tag", "qty", "note", "score"]
    assert _rows(got, cols) == _rows(want, cols)
    with pytest.raises(ValueError, match=">= 2 arrays"):
        copartitioned_join_many(spark, [ua])
    with pytest.raises(ValueError, match="match len"):
        copartitioned_join_many(spark, [ua, ub], at=[None])


def test_multivalue_embedding_join(spark, tmp_path):
    """The vector-store shape: embeddings (fixed multi-value float
    cells) in one array, doc metadata in another — zero-shuffle join
    carries the array<float> column through, NULL on unmatched."""
    ue = str(tmp_path / "emb")
    um = str(tmp_path / "meta")
    create_native_array(
        ue,
        dims=[NativeDim("doc_id", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("emb", 3, 4, False, None)],  # 4 x float64
    )
    create_native_array(
        um,
        dims=[NativeDim("doc_id", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("lang", 12, 0xFFFFFFFF, False, None)],
    )
    ks = list(range(100))
    write_native_fragment(
        ue,
        {"doc_id": ks,
         "emb": [[k * 1.0, k + 0.5, -k * 0.25, 1.0] for k in ks]},
        ts=1, version=19)
    write_native_fragment(
        um,
        {"doc_id": [k for k in ks if k % 3 == 0],
         "lang": [f"l{k % 5}" for k in ks if k % 3 == 0]},
        ts=1, version=19)
    got = copartitioned_join_arrays(spark, ue, um, how="left",
                                    target_splits=3)
    rows = {r["doc_id"]: r for r in got.collect()}
    assert len(rows) == 100
    assert list(rows[9]["emb"]) == [9.0, 9.5, -2.25, 1.0]
    assert rows[9]["lang"] == "l4"
    assert rows[10]["lang"] is None  # unmatched metadata
    assert list(rows[10]["emb"]) == [10.0, 10.5, -2.5, 1.0]
    inner = copartitioned_join_arrays(spark, ue, um, target_splits=3)
    assert inner.count() == 34


def test_string_dim_join(spark, tmp_path):
    """String-keyed arrays join via the var-NED split-key planner and
    the pandas merge fallback (no integer axis)."""
    ua = str(tmp_path / "sda")
    ub = str(tmp_path / "sdb")
    for uri in (ua, ub):
        create_native_array(
            uri,
            dims=[NativeDim("doc", 12, 0xFFFFFFFF, None, None)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
        )
    ka = [f"doc{i:04d}" for i in range(0, 300, 2)]
    kb = [f"doc{i:04d}" for i in range(0, 300, 3)]
    # two fragments per side so string split keys exist
    for uri, ks, mul in ((ua, ka, 2), (ub, kb, 5)):
        half = len(ks) // 2
        write_native_fragment(
            uri, {"doc": ks[:half], "v": [i * mul for i in range(half)]},
            ts=1, version=19)
        write_native_fragment(
            uri,
            {"doc": ks[half:],
             "v": [(half + i) * mul for i in range(len(ks) - half)]},
            ts=2, version=19)
    for how in ("inner", "left"):
        got = copartitioned_join_arrays(spark, ua, ub, how=how,
                                        target_splits=4)
        a = read_array(spark, ua).withColumnRenamed("v", "va")
        b = read_array(spark, ub).withColumnRenamed("v", "vb")
        want = a.join(b, "doc", how)
        assert sorted(
            (r["doc"], r["v_a"], r["v_b"]) for r in got.collect()
        ) == sorted(
            (r["doc"], r["va"], r["vb"]) for r in want.collect()
        ), how
    assert got.count() == len(ka)  # left keeps all A docs


def test_full_outer_parity(spark, tmp_path):
    """FULL keeps both sides' unmatched rows — including B coordinates
    entirely OUTSIDE A's non-empty domain (union-domain planning), with
    exact NULL fidelity on both sides."""
    ua, ub = _mk_pair(tmp_path, n_a=200, n_b=300, b_offset=150)
    got = copartitioned_join_arrays(spark, ua, ub, how="full",
                                    target_splits=5)
    want = _spark_join_oracle(spark, ua, ub, "full")
    cols = ["k", "cents", "tag", "qty", "note", "score"]
    assert _rows(got, cols) == _rows(want, cols)
    # 200 A-keys [0,200) + 300 B-keys [150,450): union 450 rows
    assert got.count() == 450
    rows = {r["k"]: r for r in got.collect()}
    assert rows[440]["cents"] is None  # B-only, beyond A's domain
    assert rows[440]["qty"] == BIG + 440  # exact past 2^53
    assert rows[10]["qty"] is None  # A-only


def test_skewed_side_weights_balance_splits(spark, tmp_path):
    """B holds 100x A's density in one key region: combined tile
    weights must still yield correct results with multiple busy splits
    (and exact parity with the shuffle join)."""
    ua = str(tmp_path / "ska")
    ub = str(tmp_path / "skb")
    for uri in (ua, ub):
        create_native_array(
            uri,
            dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
            capacity=100,
        )
    ka = list(range(0, 100_000, 1000))  # 100 sparse keys, whole domain
    write_native_fragment(
        ua, {"k": ka, "v": [k * 2 for k in ka]}, ts=1, version=19)
    kb = list(range(50_000, 60_000, 2))  # 5000 keys, one dense region
    write_native_fragment(
        ub, {"k": kb, "v": [k * 5 for k in kb]}, ts=1, version=19)
    got = copartitioned_join_arrays(spark, ua, ub, target_splits=8)
    a = read_array(spark, ua).withColumnRenamed("v", "va")
    b = read_array(spark, ub).withColumnRenamed("v", "vb")
    want = a.join(b, "k", "inner")
    assert sorted(
        (r["k"], r["v_a"], r["v_b"]) for r in got.collect()
    ) == sorted((r["k"], r["va"], r["vb"]) for r in want.collect())
    assert got.count() == len(set(ka) & set(kb))


def test_join_after_deletes_and_consolidation(spark, tmp_path, monkeypatch):
    """The join rides read_range, so the full lifecycle applies: a
    delete commit on one side and a maintenance pass on the other must
    leave join results identical to the shuffle-join oracle (inner AND
    left), with the tombstoned rows gone.  The maintenance pass stages
    several fragments, so join splits meet consolidation split edges."""
    from tiledb_mariadb_spark.sources import tiledb_array as ta
    from tiledb_mariadb_spark.sources.tiledb_array import maintain_array
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_delete_condition,
    )

    ua, ub = _mk_pair(tmp_path, n_a=300, n_b=300, b_offset=100,
                      n_frags=4)
    write_delete_condition(ub, [("score", ">", 80.0)], ts=99)
    with monkeypatch.context() as m:
        # 300 cells are one split's work; cut the consolidation finer
        m.setattr(ta, "CELLS_PER_SPLIT", 50)
        assert maintain_array(spark, ua)["fragments"] > 1
    for how in ("inner", "left"):
        got = copartitioned_join_arrays(spark, ua, ub, how=how,
                                        target_splits=5)
        want = _spark_join_oracle(spark, ua, ub, how)
        cols = ["k", "cents", "tag", "qty", "note", "score"]
        assert _rows(got, cols) == _rows(want, cols), how
    inner = copartitioned_join_arrays(spark, ua, ub)
    assert inner.where("score > 80.0").count() == 0  # tombstones hold
    assert inner.count() > 0


def test_lifecycle_fuzz_parity(spark, tmp_path):
    """Seeded stateful fuzz: random multi-fragment layouts with
    OVERLAPPING rewrites (newest-wins), allows_dups sides (hash-merge
    fallback), random conditions/ranges/time travel — the join must
    equal the shuffle join of read_array frames every time."""
    rng = random.Random(7)
    for trial in range(4):
        dups = trial % 2 == 1
        ua = str(tmp_path / f"fa{trial}")
        ub = str(tmp_path / f"fb{trial}")
        for uri in (ua, ub):
            create_native_array(
                uri,
                dims=[NativeDim("k", 1, 1, (0, 10**5), None)],
                attrs=[NativeAttr("v", 1, 1, False, None)],
                allows_dups=dups,
            )
        for uri, mul in ((ua, 3), (ub, 7)):
            for ts in (10, 20, 30):  # overlapping rewrites
                ks = sorted(rng.sample(range(0, 800), rng.randint(50, 200)))
                write_native_fragment(
                    uri, {"k": ks, "v": [k * mul + ts for k in ks]},
                    ts=ts, version=19)
        at = rng.choice([None, 20, 30])
        lo = rng.randrange(0, 400)
        hi = lo + rng.randrange(50, 400)
        conds = rng.choice([None, [("v", ">=", 100)]])
        how = rng.choice(["inner", "left", "full"])
        got = copartitioned_join_arrays(
            spark, ua, ub, how=how, at_a=at, at_b=at,
            dim_ranges={"k": (lo, hi)}, conditions_b=conds,
            target_splits=rng.randint(1, 7),
        )
        a = read_array(
            spark, ua, at=at, dim_ranges={"k": (lo, hi)}
        ).withColumnRenamed("v", "va")
        b = read_array(
            spark, ub, at=at, dim_ranges={"k": (lo, hi)},
            conditions=conds,
        ).withColumnRenamed("v", "vb")
        want = a.join(b, "k", "full_outer" if how == "full" else how)
        assert sorted(
            (r["k"], r["v_a"], r["v_b"]) for r in got.collect()
        ) == sorted(
            (r["k"], r["va"], r["vb"]) for r in want.collect()
        ), f"trial {trial} how={how} at={at} rng=({lo},{hi}) conds={conds}"


def test_dense_array_join(spark, tmp_path):
    """Dense-sparse and dense-dense joins: the dense side materializes
    fills through read_range, and the join sees those filled cells."""
    ud = str(tmp_path / "dns")
    us = str(tmp_path / "sprs")
    create_native_array(
        ud,
        dims=[NativeDim("k", 0, 1, (0, 99), 10)],  # int32 dim, extent 10
        attrs=[NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    create_native_array(
        us,
        dims=[NativeDim("k", 0, 1, (0, 99), 10)],
        attrs=[NativeAttr("w", 1, 1, False, None)],
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_native_fragment as wf,
    )

    wf(ud, {"v": [k * 2 for k in range(40)]}, ts=1, version=19,
       subarray=[(0, 39)])
    ks = [k for k in range(100) if k % 5 == 0]
    wf(us, {"k": ks, "w": [k * 9 for k in ks]}, ts=1, version=19)
    got = copartitioned_join_arrays(spark, ud, us, target_splits=3)
    a = read_array(spark, ud)
    b = read_array(spark, us)
    want = a.join(b, "k", "inner")
    assert sorted(
        (r["k"], r["v"], r["w"]) for r in got.collect()
    ) == sorted((r["k"], r["v"], r["w"]) for r in want.collect())
    assert got.count() == 8  # multiples of 5 in [0, 39]


def test_explicit_backends_and_time_travel(spark, tmp_path):
    """at_a/at_b travel independently; explicit backends are honored."""
    ua, ub = _mk_pair(tmp_path, n_a=60, n_b=60, b_offset=0, n_frags=3)
    be = NativeDecoderBackend()
    # at ts=1 only the first fragment of each side is visible
    got = copartitioned_join_arrays(
        spark, ua, ub, backend=be, at_a=1, at_b=1, target_splits=3,
    )
    a1 = read_array(spark, ua, at=1)
    b1 = read_array(spark, ub, at=1)
    want = a1.join(b1, "k", "inner")
    cols = ["k", "cents", "tag", "qty", "note", "score"]
    assert _rows(got, cols) == _rows(want, cols)
    assert 0 < got.count() < 60
