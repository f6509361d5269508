"""``ingest``: a write mix that starts from an empty schema.

Each round appends a batch (``write_array``), runs one MERGE (rounds
alternate between an upsert, update/insert, and an insert-ignore,
skip/insert; half the source keys are new), a DELETE WHERE
(``write_delete_condition``) and a verify aggregate through a fresh
reader; ``consolidate_array`` + ``vacuum_native_array`` follow every
round, three cycles per pass.
Every answer is predicted by an in-memory model built from the same
seed: newest-wins upserts, insert-ignore, deletes, and consolidation
(which must change nothing visible)."""

from __future__ import annotations

import os
import shutil

import numpy as np

from layerbench.common import (
    COLORS,
    SPARK_ROW_SCHEMA,
    Cells,
    Stmt,
    dir_bytes,
    sparse_attrs,
)
from layerbench.scan import fmt, tup


class Model:
    """Live cells by key; rows are (price, name, qty, qty_null, color)."""

    def __init__(self):
        self.live: dict[int, tuple] = {}

    def put(self, cells: Cells, only_new: bool = False) -> None:
        for j, k in enumerate(cells.k.tolist()):
            if only_new and k in self.live:
                continue
            self.live[k] = (cells.price[j], cells.name[j], cells.qty[j],
                            cells.qty_null[j], cells.color[j])

    def delete(self, lo: int, hi: int, price_below: float) -> None:
        for k in [k for k, v in self.live.items()
                  if lo <= k <= hi and v[0] < price_below]:
            del self.live[k]

    def cells(self) -> Cells:
        keys = sorted(self.live)
        vals = [self.live[k] for k in keys]
        cols = list(zip(*vals)) if vals else [[]] * 5
        return Cells(keys, *cols)


class Ingest:
    name = "ingest"
    warm_count = 4  # untimed warm-up: the first round up to its verify
    nominal_pass_s = 22.0  # seconds one pass takes on 4 cores

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.batch = 200 if smoke else 4000
        self.merge = 100 if smoke else 2000
        self.rounds = 3  # one consolidate + vacuum cycle after each
        self.dest = ""
        self.uri = ""
        self.model = Model()

    def build(self, dest: str) -> None:
        # the pass itself starts from an empty schema; nothing to load
        self.dest = dest

    def _create(self, uri: str) -> None:
        from tiledb_mariadb_spark.sources.tiledb_native import NativeDim  # noqa: PLC0415
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            create_native_array,
        )

        create_native_array(
            uri, [NativeDim("k", 1, 1, (0, 1 << 40), None)], sparse_attrs(),
            enumerations={"colors": COLORS}, compressor="zstd")

    def pass_statements(self, i: int) -> list[Stmt]:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from tiledb_mariadb_spark.sources import tiledb_array as ta  # noqa: PLC0415
        from tiledb_mariadb_spark.sources import tiledb_native_write as tw  # noqa: PLC0415

        rng = np.random.default_rng([self.seed, 3, i])
        if self.uri:
            shutil.rmtree(self.uri, ignore_errors=True)
        uri = self.uri = os.path.join(self.dest, f"pass{i}")
        self._create(uri)
        model = self.model = Model()
        state = {"next": 0, "ts": 1000}

        def fresh(n):
            keys = state["next"] + np.cumsum(rng.integers(1, 4, n))
            state["next"] = int(keys[-1]) + 1
            return keys

        def tick():
            state["ts"] += 10
            return state["ts"]

        def merge_stmt(name, matched, new, when_matched):
            src = Cells.random(rng, np.sort(np.concatenate([matched, new])))
            pdf, ts = src.pandas(), tick()
            model.put(src, only_new=when_matched == "skip")

            def run(sp):
                res = ta.merge_into_array(
                    sp, uri, sp.createDataFrame(pdf, SPARK_ROW_SCHEMA),
                    when_matched=when_matched, when_not_matched="insert", ts=ts)
                return res["matched"], res["not_matched"]

            return Stmt(name, run, (len(matched), len(new)), len(src), write=True)

        out = []
        for r in range(self.rounds):
            app = Cells.random(rng, fresh(self.batch))
            app_pdf, app_ts = app.pandas(), tick()
            model.put(app)
            out.append(Stmt(
                "append",
                lambda sp, pdf=app_pdf, ts=app_ts: ta.write_array(
                    sp.createDataFrame(pdf, SPARK_ROW_SCHEMA), uri, ts=ts),
                None, len(app), write=True))

            # one MERGE a round, alternating upsert and insert-ignore (half
            # the source keys are new either way)
            half = self.merge // 2
            live = np.array(sorted(model.live), dtype=np.int64)
            kind = "update" if r % 2 == 0 else "skip"
            out.append(merge_stmt(
                "merge_upsert" if kind == "update" else "merge_insert_ignore",
                rng.choice(live, half, replace=False), fresh(self.merge - half), kind))

            width = state["next"] // 10
            lo = int(rng.integers(0, state["next"] - width))
            cond = [("k", ">=", lo), ("k", "<=", lo + width), ("price", "<", 50.0)]
            model.delete(lo, lo + width, 50.0)
            out.append(Stmt(
                "delete_where",
                lambda sp, cond=cond, ts=tick(): bool(
                    tw.write_delete_condition(uri, cond, ts=ts)),
                True))

            c = model.cells()
            out.append(Stmt(
                "verify_agg",
                lambda sp: tup(fmt(sp, uri).agg(
                    F.count("*"), F.sum("qty"), F.count("qty"), F.sum("price"),
                    F.max("k")).collect()[0]),
                (len(c), c.qty_sum(), int((~c.qty_null).sum()),
                 float(c.price.sum()), int(c.k.max())),
                len(c)))

            def maintain(sp):
                ta.consolidate_array(sp, uri)
                tw.vacuum_native_array(uri)
                return True

            out.append(Stmt("consolidate_vacuum", maintain, True))
        return out

    def pass_checks(self) -> list[Stmt]:
        """Untimed: every live cell, exactly as the model has it."""
        uri, want = self.uri, self.model.cells().rows()
        return [Stmt("full_contents",
                     lambda sp: sorted(tup(r) for r in fmt(sp, uri).collect()),
                     want)]

    def space_amp(self) -> float:
        return dir_bytes(self.uri) / self.model.cells().logical_bytes()

    def reuse_source(self):
        c = self.model.cells()
        return self.uri, int(c.k[len(c) // 2]), "price > 50", c

    def replay_probes(self) -> list[dict]:
        c = self.model.cells()
        lo = int(c.k[len(c) // 3])
        return [
            {"uri": self.uri, "columns": None},
            {"uri": self.uri, "ranges": {"k": (lo, lo + int(c.k.max()) // 10)},
             "conditions": [("price", "<", 50.0)], "columns": None},
        ]

    def shape_columns(self) -> dict:
        return {"fixed": (self.uri, "price", None),
                "var_utf8": (self.uri, "name", None),
                "nullable": (self.uri, "qty", None),
                "enum": (self.uri, "color", None)}

    def window(self) -> tuple[str, dict]:
        c = self.model.cells()
        lo = int(c.k[len(c) // 2])
        return self.uri, {"k": (lo, lo + int(c.k.max()) // 100)}
