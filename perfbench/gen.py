"""Seeded DMS landing-zone generator and the pandas oracle.

Everything here is pyarrow/pandas/numpy, never Spark, so input
generation adds no Spark jobs (and no Spark noise) to set-up.

Landing layout, as DMS writes it to S3 and ``sources.landing`` reads it::

    <landing>/<schema>/<table>/LOAD00000001.parquet   full load, no Op column
    <landing>/<schema>/<table>/20260101-000000001.parquet
                                                      CDC batch, Op first

CDC files hold full row images.  File names increase lexically with the
batch index, and within a file the row order is the commit order.

Each table's primary key is folded into one int64 *code* (identity for
single-column keys, ``orderkey * 8 + linenumber`` for lineitem), which
is how the generator tracks the live key set.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LINE_SLOTS = 8  # lineitem code = orderkey * LINE_SLOTS + linenumber (1..7)
MIN_ROWS = 8  # rows per CDC batch at least, so tiny tables still mix I/U/D

_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENT = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_WORDS = np.array(
    ["almond", "antique", "azure", "beige", "bisque", "black", "blanched",
     "blue", "blush", "brown", "burlywood", "chartreuse", "chiffon", "coral"]
)
_TYPES = np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])
_FLAGS = np.array(["A", "N", "R"])
_LSTATUS = np.array(["F", "O"])


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _labels(prefix: str, keys: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(keys.astype(str), 9))


def _orders(rng, codes):
    n = len(codes)
    return {
        "o_orderkey": codes,
        "o_custkey": rng.integers(1, 15_001, n),
        "o_orderstatus": rng.choice(_STATUS, n),
        "o_totalprice": _money(rng, n, 850.0, 560_000.0),
        "o_orderdays": rng.integers(8_035, 10_591, n).astype(np.int32),
        "o_orderpriority": rng.choice(_PRIORITY, n),
    }


def _customer(rng, codes):
    n = len(codes)
    return {
        "c_custkey": codes,
        "c_name": _labels("Customer#", codes),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9_999.99),
        "c_mktsegment": rng.choice(_SEGMENT, n),
    }


def _part(rng, codes):
    n = len(codes)
    name = np.char.add(np.char.add(rng.choice(_WORDS, n), " "), rng.choice(_WORDS, n))
    return {
        "p_partkey": codes,
        "p_name": name,
        "p_brand": np.char.add("Brand#", rng.integers(11, 56, n).astype(str)),
        "p_type": rng.choice(_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": _money(rng, n, 900.0, 2_100.0),
    }


def _supplier(rng, codes):
    n = len(codes)
    return {
        "s_suppkey": codes,
        "s_name": _labels("Supplier#", codes),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9_999.99),
    }


def _lineitem(rng, codes):
    n = len(codes)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": codes // LINE_SLOTS,
        "l_linenumber": (codes % LINE_SLOTS).astype(np.int32),
        "l_partkey": rng.integers(1, 20_001, n),
        "l_suppkey": rng.integers(1, 1_001, n),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, n, 900.0, 2_100.0), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(_FLAGS, n),
        "l_linestatus": rng.choice(_LSTATUS, n),
        "l_shipdays": rng.integers(8_035, 10_591, n).astype(np.int32),
    }


def _single_key_codes(start: int, n: int) -> np.ndarray:
    return np.arange(start, start + n, dtype=np.int64)


def _lineitem_codes(start: int, n: int) -> np.ndarray:
    """``n`` line codes for new orders from ``start`` on, four lines each."""
    orders = np.arange(start, start + -(-n // 4), dtype=np.int64)
    return (orders[:, None] * LINE_SLOTS + np.arange(1, 5)).ravel()[:n]


@dataclass(frozen=True)
class TableSpec:
    name: str
    pk: tuple[str, ...]
    rows: int  # initial rows at scale 1.0 (TPC-H sf0.1 row counts)
    make: Callable[[np.random.Generator, np.ndarray], dict]
    new_codes: Callable[[int, int], np.ndarray]
    next_key: Callable[[np.ndarray], int]  # first unused key after codes


def _after_max(codes: np.ndarray) -> int:
    return int(codes.max()) + 1 if len(codes) else 1


def _after_max_order(codes: np.ndarray) -> int:
    return int(codes.max()) // LINE_SLOTS + 1 if len(codes) else 1


TABLES = {
    "orders": TableSpec("orders", ("o_orderkey",), 150_000, _orders,
                        _single_key_codes, _after_max),
    "customer": TableSpec("customer", ("c_custkey",), 15_000, _customer,
                          _single_key_codes, _after_max),
    "part": TableSpec("part", ("p_partkey",), 20_000, _part,
                      _single_key_codes, _after_max),
    "supplier": TableSpec("supplier", ("s_suppkey",), 1_000, _supplier,
                          _single_key_codes, _after_max),
    "lineitem": TableSpec("lineitem", ("l_orderkey", "l_linenumber"), 600_000,
                          _lineitem, _lineitem_codes, _after_max_order),
}


def codes_of(spec: TableSpec, frame: pd.DataFrame) -> np.ndarray:
    """The int64 key code of every row of ``frame``."""
    if spec.name == "lineitem":
        return (frame["l_orderkey"].to_numpy(np.int64) * LINE_SLOTS
                + frame["l_linenumber"].to_numpy(np.int64))
    return frame[spec.pk[0]].to_numpy(np.int64)


@dataclass(frozen=True)
class ChangeMix:
    """Shape of one CDC batch.

    ``frac`` of the live rows change per batch (at least ``MIN_ROWS``).
    Of those, ``ins`` are inserts of new keys, ``dels`` deletes, the rest
    updates.  A quarter of the inserts get a later update in the same
    file (I then U of one key), and as many updated keys get a later
    delete (U then D).  ``clustered`` picks the touched keys as one
    contiguous run of the live key order; otherwise they are drawn
    uniformly, so every data file of the table is hit.
    """

    frac: float
    ins: float = 0.2
    dels: float = 0.2
    clustered: bool = True


class TableHistory:
    """One table's seeded history: an initial snapshot, then CDC batches.

    The live table is held as dense column arrays indexed by key code,
    with an ``alive`` mask.  The workloads read it for the expected
    results of their per-pass reads.  The final-state oracle does NOT
    use it: ``expected_state`` recomputes from the written files.
    """

    def __init__(self, spec: TableSpec, seed: int, scale: float = 1.0):
        self.spec = spec
        self.rng = np.random.default_rng(seed)
        n = max(16, int(spec.rows * scale))
        codes = spec.new_codes(1, n)
        first = spec.make(self.rng, codes)
        self.columns = list(first)
        self.alive = np.zeros(0, dtype=bool)
        self.cols: dict[str, np.ndarray] = {
            c: np.empty(0, dtype=object if v.dtype.kind == "U" else v.dtype)
            for c, v in first.items()
        }
        self._store(codes, first)
        self.next_key = spec.next_key(codes)

    def _store(self, codes: np.ndarray, values: dict) -> None:
        need = int(codes.max()) + 1 if len(codes) else 0
        if need > len(self.alive):
            cap = max(need, int(len(self.alive) * 1.5) + 64)
            self.alive = np.concatenate(
                [self.alive, np.zeros(cap - len(self.alive), dtype=bool)]
            )
            for c, arr in self.cols.items():
                grown = np.empty(cap, dtype=arr.dtype)
                grown[: len(arr)] = arr
                self.cols[c] = grown
        for c in self.columns:
            self.cols[c][codes] = values[c]
        self.alive[codes] = True

    def live_codes(self) -> np.ndarray:
        """Live key codes, ascending."""
        return np.flatnonzero(self.alive)

    def rows(self, codes: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({c: self.cols[c][codes] for c in self.columns})

    def initial(self) -> pd.DataFrame:
        return self.rows(self.live_codes())

    def next_batch(self, mix: ChangeMix) -> pd.DataFrame:
        """The next CDC batch (``Op`` first, rows in commit order);
        advances the live table."""
        rng, spec = self.rng, self.spec
        live = self.live_codes()
        n = max(MIN_ROWS, int(round(mix.frac * len(live))))
        n_ins = max(1, int(n * mix.ins))
        n_del = max(1, int(n * mix.dels))
        n_upd = max(1, n - n_ins - n_del)
        n_touch = min(n_upd + n_del, len(live) - 1)
        if mix.clustered:
            start = int(rng.integers(0, len(live) - n_touch + 1))
            touched = rng.permutation(live[start:start + n_touch])
        else:  # without replacement, no O(table) permutation
            picks = np.unique(rng.integers(0, len(live), 2 * n_touch))
            touched = live[rng.permutation(picks)[:n_touch]]
        upd, dele = touched[: len(touched) - n_del], touched[len(touched) - n_del:]
        ins = spec.new_codes(self.next_key, n_ins)
        self.next_key = spec.next_key(ins)
        n_pair = min(len(ins) // 4, len(upd))
        ins_then_upd, upd_then_del = ins[:n_pair], upd[:n_pair]

        first = pd.concat(
            [self._image("I", ins), self._image("U", upd), self._image("D", dele)],
            ignore_index=True,
        )
        first = first.iloc[rng.permutation(len(first))]
        second = pd.concat(
            [self._image("U", ins_then_upd), self._image("D", upd_then_del)],
            ignore_index=True,
        )
        batch = pd.concat([first, second], ignore_index=True)
        self._apply(batch)
        return batch

    def _image(self, op: str, codes: np.ndarray) -> pd.DataFrame:
        if op == "D":  # a delete carries the row's last image, as DMS does
            body = self.rows(codes)
        else:
            body = pd.DataFrame(self.spec.make(self.rng, codes))
        body.insert(0, "Op", op)
        return body

    def _apply(self, batch: pd.DataFrame) -> None:
        """Per key the batch's last row wins; a final ``D`` removes it."""
        codes = codes_of(self.spec, batch)
        last = len(codes) - 1 - np.unique(codes[::-1], return_index=True)[1]
        final = batch.iloc[np.sort(last)]
        final_codes = codes[np.sort(last)]
        is_del = (final["Op"] == "D").to_numpy()
        keep = final[~is_del]
        self._store(final_codes[~is_del], {c: keep[c].to_numpy() for c in self.columns})
        self.alive[final_codes[is_del]] = False


def arrow_table(frame: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(frame, preserve_index=False)


def write_parquet(frame: pd.DataFrame, path: str) -> None:
    """Write ``frame`` as one parquet file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(arrow_table(frame), path)


def load_name(i: int) -> str:
    return f"LOAD{i:08d}.parquet"


def cdc_name(i: int) -> str:
    return f"20260101-{i:09d}.parquet"


def split_frame(frame: pd.DataFrame, parts: int) -> list[pd.DataFrame]:
    bounds = np.linspace(0, len(frame), parts + 1).astype(int)
    return [frame.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def expected_state(
    spec: TableSpec, load_files: list[str], cdc_files: list[str]
) -> pd.DataFrame:
    """The oracle: the final table implied by the landed files alone.

    LOAD rows first, then every CDC file in name order and row order;
    the last row per key wins and a final ``D`` drops the key.  Returns
    the data columns sorted by primary key.
    """
    frames = [pq.read_table(f).to_pandas().assign(Op="I") for f in sorted(load_files)]
    frames += [pq.read_table(f).to_pandas() for f in sorted(cdc_files)]
    rows = pd.concat(frames, ignore_index=True)
    last = rows.drop_duplicates(list(spec.pk), keep="last")
    live = last[last["Op"] != "D"].drop(columns="Op")
    return normalize(live, spec.pk)


def normalize(frame: pd.DataFrame, pk) -> pd.DataFrame:
    """Sort by key and drop the index and the lake's ``op`` stamp, so two
    frames of one table compare equal exactly when their rows do."""
    frame = frame.drop(columns=[c for c in ("op", "Op") if c in frame.columns])
    return frame.sort_values(list(pk), kind="stable").reset_index(drop=True)


def mismatch(expected: pd.DataFrame, actual: pd.DataFrame) -> str:
    """"" when the frames hold the same rows, else a one-line reason."""
    if list(actual.columns) != list(expected.columns):
        actual = actual[[c for c in expected.columns if c in actual.columns]]
        if list(actual.columns) != list(expected.columns):
            return f"columns differ: {list(actual.columns)} != {list(expected.columns)}"
    if len(actual) != len(expected):
        return f"row count {len(actual)} != expected {len(expected)}"
    for col in expected.columns:
        a = actual[col].to_numpy()
        e = expected[col].to_numpy()
        if a.dtype.kind in "iuf" and e.dtype.kind in "iuf":
            equal = np.array_equal(a.astype(np.float64), e.astype(np.float64))
        else:
            equal = np.array_equal(a.astype(str), e.astype(str))
        if not equal:
            bad = int(np.argmax(a.astype(str) != e.astype(str)))
            return f"column {col} differs, first at sorted row {bad}"
    return ""
