"""``lookup``: selective statements over an array that grew by appends.

About 200 small fragments whose key bands advance over time, plus late
update fragments that rewrite keys of older bands (newest wins), and a
Bloom-indexed attribute (``qty``).  Needles, IN lists, 0.1 % ranges,
Bloom equality needles and windowed aggregates each open a fresh reader,
so Spark orchestration and metadata planning dominate and decode is
small."""

from __future__ import annotations

import os

import numpy as np

from layerbench.common import COLORS, Cells, Stmt, dir_bytes, sparse_attrs
from layerbench.scan import fmt, tup

KINDS = ["hit", "miss", "in10", "range", "bloom", "windowed"]


class Lookup:
    name = "lookup"
    warm_count = 6  # untimed warm-up: a whole pass (each statement's first run pays codegen)
    nominal_pass_s = 12.0  # seconds one pass takes on 4 cores

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        n_frags = 20 if smoke else 200
        per_frag = 100 if smoke else 1000
        width = 2 * per_frag  # key band of one append
        self.span = n_frags * width
        rng = np.random.default_rng([seed, 0])
        self.writes: list[Cells] = []  # in timestamp order
        for i in range(n_frags):
            keys = i * width + np.sort(rng.choice(width, per_frag, replace=False))
            self.writes.append(self._cells(rng, keys))
            if i % 10 == 9 and i >= 19:
                # late update: rewrite keys from bands at least ten
                # appends old, so the new fragment overlaps old ones
                older = np.concatenate([w.k for w in self.writes[: i - 9]])
                keys = np.sort(rng.choice(older, per_frag // 5, replace=False))
                self.writes.append(self._cells(rng, keys))
        self.model = Cells.concat(self.writes).newest_wins()
        self.hot = rng.choice(self.model.k, 16, replace=False)
        self.uri = ""

    @staticmethod
    def _cells(rng, keys) -> Cells:
        c = Cells.random(rng, keys)
        # qty is the Bloom-indexed needle attribute: non-null, ~4 cells
        # per value across the array
        c.qty = rng.integers(0, 50_000, len(keys))
        c.qty_null[:] = False
        return c

    def build(self, dest: str) -> None:
        from tiledb_mariadb_spark.sources.tiledb_native import NativeDim  # noqa: PLC0415
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            create_native_array,
            write_native_fragment,
        )

        uri = os.path.join(dest, "events")
        create_native_array(
            uri, [NativeDim("k", 1, 1, (0, 1 << 40), None)],
            sparse_attrs(nullable_qty=False), enumerations={"colors": COLORS},
            compressor="zstd", bloom_attrs=["qty"])
        for i, w in enumerate(self.writes):
            write_native_fragment(uri, w.columns(), ts=1000 + i, version=19)
        self.uri = uri

    def _missing_key(self, rng) -> int:
        while True:
            k = int(rng.integers(0, self.span))
            j = np.searchsorted(self.model.k, k)
            if j == len(self.model.k) or self.model.k[j] != k:
                return k

    def _rows(self, keys) -> list[tuple]:
        idx = np.searchsorted(self.model.k, keys)
        idx = idx[(idx < len(self.model.k))]
        idx = idx[np.isin(self.model.k[idx], keys)]
        return self.model.take(idx).rows()

    def pass_statements(self, i: int) -> list[Stmt]:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from tiledb_mariadb_spark.sources import spark_datasource as sd  # noqa: PLC0415

        rng = np.random.default_rng([self.seed, 2, i])
        uri, m = self.uri, self.model
        out = []
        for kind in KINDS:
            if kind == "hit":
                key = int(rng.choice(self.hot) if rng.random() < 0.8
                          else rng.choice(m.k))
                out.append(Stmt(
                    "needle_hit",
                    lambda sp, key=key: [tup(r) for r in fmt(sp, uri)
                                         .filter(F.col("k") == key).collect()],
                    self._rows([key]), 1))
            elif kind == "miss":
                key = self._missing_key(rng)
                out.append(Stmt(
                    "needle_miss",
                    lambda sp, key=key: [tup(r) for r in fmt(sp, uri)
                                         .filter(F.col("k") == key).collect()],
                    [], 0))
            elif kind == "in10":
                keys = sorted({int(k) for k in rng.choice(m.k, 7, replace=False)}
                              | {self._missing_key(rng) for _ in range(3)})
                want = self._rows(keys)
                out.append(Stmt(
                    "in_list",
                    lambda sp, keys=keys: sorted(
                        tup(r) for r in fmt(sp, uri).filter(F.col("k").isin(keys))
                        .collect()),
                    want, len(want)))
            elif kind == "range":
                lo = int(rng.integers(0, self.span - self.span // 1000))
                hi = lo + self.span // 1000
                sel = (m.k >= lo) & (m.k <= hi)
                out.append(Stmt(
                    "range_0.1pct",
                    lambda sp, lo=lo, hi=hi: tup(
                        fmt(sp, uri).filter((F.col("k") >= lo) & (F.col("k") <= hi))
                        .agg(F.count("*"), F.sum("qty"), F.sum("price")).collect()[0]),
                    (int(sel.sum()), m.qty_sum(sel) if sel.any() else None,
                     float(m.price[sel].sum()) if sel.any() else None),
                    int(sel.sum())))
            elif kind == "bloom":
                val = int(rng.choice(m.qty))
                want = [int(k) for k in m.k[m.qty == val]]
                out.append(Stmt(
                    "bloom_needle",
                    lambda sp, val=val: sorted(
                        r[0] for r in fmt(sp, uri).filter(F.col("qty") == val)
                        .select("k").collect()),
                    want, len(want)))
            else:
                lo = int(rng.integers(0, self.span - self.span // 100))
                hi = lo + self.span // 100
                sel = (m.k >= lo) & (m.k <= hi)

                def windowed(sp, lo=lo, hi=hi):
                    sd.sql_windowed_stats_from_array(sp, "lb_window", uri,
                                                     {"k": (lo, hi)})
                    return tup(sp.table("lb_window").where("column = 'qty'")
                               .select("cnt", "sum_num").collect()[0])

                out.append(Stmt(
                    "windowed_agg", windowed,
                    (int(sel.sum()), float(m.qty[sel].sum())), int(sel.sum())))
        return out

    def pass_checks(self) -> list[Stmt]:
        return []  # every answer is checked statement by statement

    def space_amp(self) -> float:
        return dir_bytes(self.uri) / self.model.logical_bytes()

    def reuse_source(self):
        return self.uri, int(self.hot[0]), "price > 50", self.model

    def replay_probes(self) -> list[dict]:
        m = self.model
        key = int(self.hot[0])
        lo = self.span // 2
        return [
            {"uri": self.uri, "ranges": {"k": (key, key)}, "columns": None},
            {"uri": self.uri, "ranges": {"k": (lo, lo + self.span // 1000)},
             "columns": None},
            {"uri": self.uri, "conditions": [("qty", "=", int(m.qty[len(m) // 3]))],
             "columns": ["k"]},
        ]

    def shape_columns(self) -> dict:
        return {"fixed": (self.uri, "price", None),
                "var_utf8": (self.uri, "name", None),
                "enum": (self.uri, "color", None)}

    def window(self) -> tuple[str, dict]:
        lo = self.span // 2
        return self.uri, {"k": (lo, lo + self.span // 100)}
