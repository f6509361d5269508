"""Pieces shared by the layerbench workloads: statements and their
checking, latency statistics, the schema and cells the sparse arrays
share, and the on-disk / process measurements."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

VAR = 0xFFFFFFFF  # cell_val_num of a var-length field
COLORS = ["red", "green", "blue", "amber"]
# 48 labels for the var-UTF-8 attribute; a few are multi-byte so the
# decoder's UTF-8 path is exercised, not only ASCII
WORDS = [f"w{i:02d}" for i in range(40)] + [
    "grün", "青い", "émoji✓", "ß-sharp", "tab\tsep", "long-" + "y" * 40,
    "mid", "Ωmega",
]


@dataclass
class Stmt:
    """One statement of a closed loop: ``run(spark)`` returns a plain
    Python value that must equal ``expect``.  ``cells`` is the number of
    cells the statement's key ranges cover (scan) or the user cells it
    submits (ingest writes)."""

    name: str
    run: Callable[[Any], Any]
    expect: Any
    cells: int = 0
    write: bool = False


@dataclass
class Outcome:
    name: str
    seconds: float | None
    ok: bool
    detail: str = ""
    cells: int = 0
    write: bool = False


def execute(spark, stmt: Stmt) -> Outcome:
    """Run one statement, time it, and check its answer.  A statement
    that raises or answers wrongly gets no latency."""
    t0 = time.perf_counter()
    try:
        got = stmt.run(spark)
    except Exception as e:  # a failed statement is recorded, the loop goes on
        return Outcome(stmt.name, None, False, f"{type(e).__name__}: {e}"[:500])
    dt = time.perf_counter() - t0
    if got != stmt.expect:
        return Outcome(stmt.name, None, False,
                       f"expected {_short(stmt.expect)}, got {_short(got)}")
    return Outcome(stmt.name, dt, True, cells=stmt.cells, write=stmt.write)


def _short(v) -> str:
    s = repr(v)
    return s if len(s) <= 200 else s[:200] + "..."


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the tail latency: the highest
    percentile with at least ten samples beyond it, or a fifth of the
    samples when there are fewer than fifty (so a short run still
    reports a point above its median rather than below it)."""
    xs = sorted(latencies)
    n = len(xs)
    beyond = min(10, n // 5)
    idx = n - 1 - beyond
    return xs[idx], round(100.0 * (idx + 1) / n, 1), n


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def utf8_len(labels: list[str]) -> np.ndarray:
    return np.array([len(s.encode("utf-8")) for s in labels], dtype=np.int64)


def vm_hwm_mb(pid: int) -> float | None:
    """Peak resident set of a live process, from /proc/<pid>/status."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def sparse_attrs(nullable_qty: bool = True):
    """price float64, name var-UTF-8, qty nullable int64, color enum: the
    four sparse attribute shapes of the read path."""
    from tiledb_mariadb_spark.sources.tiledb_native import NativeAttr  # noqa: PLC0415

    return [
        NativeAttr("price", 3, 1, False, None),
        NativeAttr("name", 12, VAR, False, None),
        NativeAttr("qty", 1, 1, nullable_qty, None),
        NativeAttr("color", 6, 1, False, None, enumeration="colors"),
    ]


class Cells:
    """Column-oriented cells of the shared sparse schema, kept as numpy
    arrays so expected answers are vectorized.  ``price`` is a multiple
    of 1/64 below 100, so every sum of it is exact in float64 and
    answers compare by equality."""

    def __init__(self, k, price, name, qty, qty_null, color):
        self.k = np.asarray(k, dtype=np.int64)
        self.price = np.asarray(price, dtype=np.float64)
        self.name = np.asarray(name, dtype=np.int64)  # index into WORDS
        self.qty = np.asarray(qty, dtype=np.int64)
        self.qty_null = np.asarray(qty_null, dtype=bool)
        self.color = np.asarray(color, dtype=np.int64)  # index into COLORS

    @classmethod
    def random(cls, rng: np.random.Generator, keys) -> "Cells":
        n = len(keys)
        return cls(
            keys,
            rng.integers(0, 6400, n) / 64.0,
            rng.integers(0, len(WORDS), n),
            rng.integers(0, 1000, n),
            rng.random(n) < 0.1,
            rng.integers(0, len(COLORS), n),
        )

    def __len__(self) -> int:
        return len(self.k)

    def take(self, idx) -> "Cells":
        return Cells(self.k[idx], self.price[idx], self.name[idx],
                     self.qty[idx], self.qty_null[idx], self.color[idx])

    @staticmethod
    def concat(parts: list["Cells"]) -> "Cells":
        return Cells(*(np.concatenate([getattr(p, a) for p in parts])
                       for a in ("k", "price", "name", "qty", "qty_null",
                                 "color")))

    def newest_wins(self) -> "Cells":
        """Keep, per key, the last occurrence (cells are in write order),
        sorted by key."""
        rev = self.k[::-1]
        _, first = np.unique(rev, return_index=True)
        return self.take(len(self.k) - 1 - first)

    def columns(self) -> dict:
        """The writer's input: one sequence per dim/attr."""
        qty = self.qty.astype(object)
        qty[self.qty_null] = None
        words = np.array(WORDS, dtype=object)
        colors = np.array(COLORS, dtype=object)
        return {
            "k": self.k, "price": self.price,
            "name": list(words[self.name]), "qty": list(qty),
            "color": list(colors[self.color]),
        }

    def pandas(self):
        import pandas as pd  # noqa: PLC0415

        cols = self.columns()
        return pd.DataFrame({
            "k": cols["k"], "price": cols["price"], "name": cols["name"],
            "qty": pd.array(cols["qty"], dtype="Int64"),
            "color": cols["color"],
        })

    def rows(self) -> list[tuple]:
        """Sorted (k, price, name, qty, color) tuples, as Spark returns them."""
        order = np.argsort(self.k, kind="stable")
        return [
            (int(self.k[i]), float(self.price[i]), WORDS[self.name[i]],
             None if self.qty_null[i] else int(self.qty[i]),
             COLORS[self.color[i]])
            for i in order
        ]

    def logical_bytes(self) -> int:
        """User bytes of these cells: 8 (k) + 8 (price) + 8 (qty) + 1
        (color ordinal) + the UTF-8 length of name."""
        lens = utf8_len(WORDS)
        return int(25 * len(self.k) + lens[self.name].sum())

    def qty_sum(self, mask=None) -> int | None:
        live = ~self.qty_null if mask is None else (mask & ~self.qty_null)
        return int(self.qty[live].sum()) if live.any() else None


SPARK_ROW_SCHEMA = "k long, price double, name string, qty long, color string"
