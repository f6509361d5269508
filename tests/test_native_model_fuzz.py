"""Stateful differential fuzz over the native tier's FULL op surface:
random interleavings of writes, deletes, every consolidation mode,
fragment-meta folds, and vacuums — then reads checked three ways:

1. ROW reader vs NP fast path on identical (ranges, conditions,
   since, at) calls — they share fragment listing but none of the
   decode/merge/skip machinery, so agreement is a real differential;
2. maintenance INVARIANCE: the full-view row set is bit-identical
   across consolidate / incremental-consolidate / fold / vacuum;
3. conditioned reads == unconditioned reads filtered after the fact
   (the planner's fragment skips must never change visibility —
   the property behind plan_condition_skips' shadow rule).

This is the net that catches cross-feature interactions single-purpose
tests can't: a fold serving a stale footer, a skip plan resurrecting a
shadowed cell after consolidation, a window read through a merged
fragment's span, a delete surviving vacuum."""

import random

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _FMETA_CACHE,
    read_native_array_range,
    read_native_array_range_np,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    consolidate_fragment_meta,
    consolidate_native_array,
    create_native_array,
    vacuum_native_array,
    write_delete_condition,
    write_native_fragment,
)


def _rows_np(res):
    if res is None:
        return None
    names, cols = res
    n = len(next(iter(cols.values()))) if cols else 0
    return sorted(
        tuple(
            v.item() if hasattr(v, "item") else v
            for v in (cols[c][i] for c in names)
        )
        for i in range(n)
    )


def _read_both(arr, ranges=None, conds=None, since=None, at=None):
    names, rows = read_native_array_range(
        arr, ranges=ranges, prune_conditions=conds, since=since, at=at
    )
    got_row = sorted(tuple(r) for r in rows)
    got_np = _rows_np(
        read_native_array_range_np(
            arr, ranges=ranges, prune_conditions=conds, since=since, at=at
        )
    )
    if got_np is not None:
        assert got_np == got_row, (
            f"np/row divergence ranges={ranges} conds={conds} "
            f"since={since} at={at}"
        )
    return got_row


def _match(row, cond):
    # row = (k, v); condition on v with SQL 3VL (v never NULL here)
    _k, v = row
    col, op, val = cond
    assert col == "v"
    return {
        "=": v == val, "!=": v != val, "<": v < val,
        "<=": v <= val, ">": v > val, ">=": v >= val,
    }[op]


@pytest.mark.parametrize("seed", range(16))
def test_native_op_sequence_fuzz(tmp_path, seed):
    rnd = random.Random(4000 + seed)
    arr = str(tmp_path / "arr")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 500), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        bloom_attrs=["v"] if seed % 2 else None,
    )
    ts = 10
    n_writes = 0
    write_ts: list[int] = []
    for _step in range(rnd.randrange(8, 15)):
        op = rnd.random()
        if op < 0.55 or n_writes == 0:
            n = rnd.randrange(2, 25)
            keys = rnd.sample(range(120), n)  # small space: overwrites
            vals = (
                [rnd.randrange(8)] * n  # constant: refutable
                if rnd.random() < 0.4
                else [rnd.randrange(8) for _ in range(n)]
            )
            write_native_fragment(
                arr, {"k": sorted(keys), "v": vals}, ts=ts,
                version=19 if rnd.random() < 0.8 else 5,
            )
            write_ts.append(ts)
            ts += rnd.randrange(1, 4)
            n_writes += 1
        elif op < 0.65:
            try:
                write_delete_condition(
                    arr, [("v", "=", rnd.randrange(8))], ts=ts
                )
                ts += 1
            except (TypeError, ValueError):
                pass
        elif op < 0.8:
            before = _read_both(arr)
            consolidate_native_array(arr)
            assert _read_both(arr) == before, "consolidation changed view"
        elif op < 0.9:
            before = _read_both(arr)
            _FMETA_CACHE.clear()
            consolidate_fragment_meta(arr)
            assert _read_both(arr) == before, "fold changed view"
        else:
            before = _read_both(arr)
            vacuum_native_array(arr)
            assert _read_both(arr) == before, "vacuum changed view"

    # final checks over random calls.  prune_conditions are PRUNE-ONLY
    # in the raw readers (the backend applies the exact residual), so
    # the soundness contract is: every MATCHING row survives the skip
    # plan, and no row outside the unconditioned view appears —
    # i.e. skips may leave residual non-matching rows but can neither
    # lose a match nor resurrect a shadowed cell.
    base = _read_both(arr)
    for _ in range(10):
        c = rnd.randrange(8)
        cond = ("v", rnd.choice(["=", "!=", "<", "<=", ">", ">="]), c)
        got = _read_both(arr, conds=[cond])
        want = [r for r in base if _match(r, cond)]
        assert set(got) <= set(base), f"condition {cond} invented rows"
        assert [r for r in got if _match(r, cond)] == want, (
            f"condition {cond} lost a matching row"
        )
        lo = rnd.randrange(0, 120)
        hi = lo + rnd.randrange(0, 60)
        got = _read_both(arr, ranges=[(lo, hi)], conds=[cond])
        inr = [r for r in base if lo <= r[0] <= hi]
        want = [r for r in inr if _match(r, cond)]
        assert set(got) <= set(inr), f"range ({lo},{hi}) invented rows"
        assert [r for r in got if _match(r, cond)] == want, (
            f"range ({lo},{hi}) + condition {cond} lost a matching row"
        )
    # time-travel to each historical write ts: np/row must agree (the
    # value set itself is layout-dependent post-consolidation, so the
    # cross-reader differential is the check, not a model)
    for t in write_ts:
        _read_both(arr, at=t)
        _read_both(arr, since=t)
        if len(write_ts) >= 2:
            _read_both(arr, since=write_ts[0], at=t)


@pytest.mark.parametrize("seed", range(3))
def test_maintenance_interleaved_fuzz(tmp_path, spark, seed, monkeypatch):
    """maintain_array (the full consolidation matrix + vacuum) lands
    between random write/delete batches; the full view is invariant
    across every maintenance call and both readers agree throughout —
    including window reads after merged fragments replace originals.
    The arrays hold tens of cells, so a lowered CELLS_PER_SPLIT keeps
    the consolidations cutting several splits (merged fragments meet at
    split edges)."""
    from tiledb_mariadb_spark.sources import tiledb_array as ta
    from tiledb_mariadb_spark.sources.tiledb_array import maintain_array

    monkeypatch.setattr(ta, "CELLS_PER_SPLIT", 4)
    staged = []

    rnd = random.Random(7000 + seed)
    arr = str(tmp_path / "arr")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 500), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        bloom_attrs=["v"],
    )
    ts = 10
    for _round in range(3):
        for _w in range(rnd.randrange(2, 5)):
            n = rnd.randrange(2, 20)
            keys = rnd.sample(range(100), n)
            write_native_fragment(
                arr,
                {"k": sorted(keys), "v": [rnd.randrange(6) for _ in range(n)]},
                ts=ts, version=19,
            )
            ts += rnd.randrange(1, 3)
        if rnd.random() < 0.5:
            write_delete_condition(arr, [("v", "=", rnd.randrange(6))], ts=ts)
            ts += 1
        before = _read_both(arr)
        _FMETA_CACHE.clear()
        out = maintain_array(spark, arr, incremental=bool(_round % 2))
        staged.append(out["fragments"])
        assert _read_both(arr) == before, "maintain_array changed the view"
        # post-maintenance conditioned reads keep the prune-only contract
        c = rnd.randrange(6)
        got = _read_both(arr, conds=[("v", "=", c)])
        want = [r for r in before if r[1] == c]
        assert [r for r in got if r[1] == c] == want
        assert set(got) <= set(before)
    # every maintenance call staged several split fragments
    assert all(n > 1 for n in staged), staged
