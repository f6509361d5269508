"""``scan``: analytic statements over arrays that fit in memory.

The main array is sparse (int64 dim ``k``; float64, var-UTF-8, nullable
int64 and enum attributes) in 16 fragments whose key bands do not
overlap.  A dense 2-D array and a small AES-256-GCM encrypted array sit
beside it.  Every statement opens a fresh reader, so planning, decode
and the Python/Arrow boundary are paid each time."""

from __future__ import annotations

import os
import struct

import numpy as np

from layerbench.common import COLORS, WORDS, Cells, Stmt, dir_bytes, sparse_attrs


def fmt(spark, uri, key=None):
    reader = spark.read.format("tiledb_native").option("path", uri)
    if key is not None:
        reader = reader.option("encryption_key", key)
    return reader.load()


def tup(row) -> tuple:
    return tuple(row)


class Scan:
    name = "scan"
    warm_count = 5  # untimed warm-up: a whole pass (each statement's first run pays codegen)
    nominal_pass_s = 10.0  # seconds one pass takes on 4 cores

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.n_main = 20_000 if smoke else 600_000
        self.n_frags = 16
        self.side = 128 if smoke else 512  # dense array is side x side
        self.n_enc = 2_000 if smoke else 60_000
        rng = np.random.default_rng([seed, 0])
        self.span = 4 * self.n_main
        self.main = Cells.random(
            rng, np.sort(rng.choice(self.span, self.n_main, replace=False)))
        self.dense_v = rng.integers(0, 1000, self.side * self.side)
        self.enc = Cells.random(
            rng, np.sort(rng.choice(4 * self.n_enc, self.n_enc, replace=False)))
        self.key = rng.bytes(16).hex()  # 32 characters = an AES-256 key
        self.uris: dict[str, str] = {}

    # -- fixtures -------------------------------------------------------
    def build(self, dest: str) -> None:
        from tiledb_mariadb_spark.sources.tiledb_native import NativeAttr, NativeDim  # noqa: PLC0415
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            create_native_array,
            write_native_fragment,
        )

        main, dense, enc = (os.path.join(dest, n) for n in ("main", "dense", "enc"))
        create_native_array(
            main, [NativeDim("k", 1, 1, (0, 1 << 40), None)], sparse_attrs(),
            enumerations={"colors": COLORS}, compressor="zstd")
        for i, idx in enumerate(np.array_split(np.arange(self.n_main), self.n_frags)):
            write_native_fragment(main, self.main.take(idx).columns(),
                                  ts=1000 + i, version=19)
        s = self.side
        create_native_array(
            dense,
            [NativeDim("r", 1, 1, (0, s - 1), 64), NativeDim("c", 1, 1, (0, s - 1), 64)],
            [NativeAttr("v", 1, 1, False, struct.pack("<q", -1))],
            array_type="DENSE", compressor="zstd")
        band = s // 4
        for b in range(4):
            write_native_fragment(
                dense, {"v": self.dense_v[b * band * s:(b + 1) * band * s]},
                subarray=[(b * band, (b + 1) * band - 1), (0, s - 1)],
                ts=1000 + b, version=19)
        create_native_array(
            enc, [NativeDim("k", 1, 1, (0, 1 << 40), None)], sparse_attrs(),
            enumerations={"colors": COLORS}, compressor="zstd",
            encryption_key=self.key)
        for i, idx in enumerate(np.array_split(np.arange(self.n_enc), 4)):
            write_native_fragment(enc, self.enc.take(idx).columns(), ts=1000 + i,
                                  version=19, encryption_key=self.key)
        self.uris = {"main": main, "dense": dense, "enc": enc}

    # -- statements -----------------------------------------------------
    def pass_statements(self, i: int) -> list[Stmt]:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from tiledb_mariadb_spark.sources import tiledb_array as ta  # noqa: PLC0415

        rng = np.random.default_rng([self.seed, 1, i])
        main, dense, enc = self.uris["main"], self.uris["dense"], self.uris["enc"]
        m = self.main
        n = len(m)

        by_name = {}
        for w in np.unique(m.name):
            sel = m.name == w
            by_name[WORDS[w]] = (int(sel.sum()), m.qty_sum(sel))
        lo = int(rng.integers(0, self.span - self.span // 10))
        hi = lo + self.span // 10
        thr = int(rng.integers(20, 80))
        in_rng = (m.k >= lo) & (m.k <= hi)
        hit = in_rng & (m.price > thr)
        by_color = {COLORS[c]: (int((hit & (m.color == c)).sum()),
                                m.qty_sum(hit & (m.color == c)))
                    for c in np.unique(m.color[hit])}

        s = self.side
        r0 = int(rng.integers(0, s - s // 4))
        r1 = r0 + s // 4 - 1
        box = self.dense_v.reshape(s, s)[r0:r1 + 1]

        e = self.enc
        return [
            Stmt("count_main", lambda sp: fmt(sp, main).count(), n, n),
            Stmt("group_name",
                 lambda sp: {r[0]: (r[1], r[2]) for r in fmt(sp, main)
                             .groupBy("name").agg(F.count("*"), F.sum("qty"))
                             .collect()},
                 by_name, n),
            Stmt("slice_cond_by_color",
                 lambda sp: {r[0]: tuple(r[1:]) for r in fmt(sp, main)
                             .filter((F.col("k") >= lo) & (F.col("k") <= hi)
                                     & (F.col("price") > thr))
                             .groupBy("color").agg(F.count("*"), F.sum("qty"))
                             .collect()},
                 by_color, int(in_rng.sum())),
            Stmt("dense_box",
                 lambda sp: tup(ta.read_array(sp, dense, dim_ranges={"r": (r0, r1)})
                                .agg(F.count("*"), F.sum("v")).collect()[0]),
                 (int(box.size), int(box.sum())), int(box.size)),
            Stmt("encrypted_agg",
                 lambda sp: tup(fmt(sp, enc, self.key)
                                .agg(F.count("*"), F.sum("qty"), F.max("price"))
                                .collect()[0]),
                 (len(e), e.qty_sum(), float(e.price.max())), len(e)),
        ]

    # -- end-of-run facts ----------------------------------------------
    def pass_checks(self) -> list[Stmt]:
        return []  # every answer is checked statement by statement

    def space_amp(self) -> float:
        on_disk = sum(dir_bytes(u) for u in self.uris.values())
        logical = (self.main.logical_bytes() + self.enc.logical_bytes()
                   + 8 * self.dense_v.size)
        return on_disk / logical

    def reuse_source(self):
        """The array the reuse check copies, a key it holds, an attribute
        filter, and a maker of cells beyond its non-empty domain."""
        return self.uris["main"], int(self.main.k[len(self.main) // 2]), "price > 50", \
            self.main

    def replay_probes(self) -> list[dict]:
        lo = self.span // 3
        return [
            {"uri": self.uris["main"], "columns": None},
            {"uri": self.uris["main"], "ranges": {"k": (lo, lo + self.span // 10)},
             "conditions": [("price", ">", 50.0)], "columns": ["k", "price", "qty"]},
            {"uri": self.uris["enc"], "key": self.key, "columns": None},
            {"uri": self.uris["dense"], "ranges": {"r": (0, self.side // 4 - 1)},
             "columns": None},
        ]

    def shape_columns(self) -> dict:
        main = self.uris["main"]
        return {
            "fixed": (main, "price", None), "var_utf8": (main, "name", None),
            "nullable": (main, "qty", None), "enum": (main, "color", None),
            "dense": (self.uris["dense"], "v", None),
            "encrypted": (self.uris["enc"], "price", self.key),
        }

    def window(self) -> tuple[str, dict]:
        lo = self.span // 2
        return self.uris["main"], {"k": (lo, lo + self.span // 100)}
