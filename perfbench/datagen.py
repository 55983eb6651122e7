"""Seeded input generators for the benchmark.

Everything the engine sees is generated here from ``--seed``: a
TPC-H-shaped ``lineitem``, and the two entity sets the OData stub
serves. Same seed, same bytes. The stub's sizes, round trip and 503
schedule are constants here, read by both the stub and the workload.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def lineitem(seed: int, sf: float) -> pa.Table:
    """TPC-H-shaped ``lineitem`` at scale ``sf`` (sf=1 ≈ 6M rows), with
    the engine fixture's column names and Arrow types."""
    rng = np.random.default_rng(seed)
    n_ord, n_part, n_supp = int(1_500_000 * sf), int(200_000 * sf), max(int(10_000 * sf), 10)
    n = int(6_000_000 * sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = _EPOCH_1995 + 1 + rng.integers(0, 2499, n)
    return pa.table({
        "l_orderkey": rng.integers(0, n_ord, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us")),
    })


# --- employee-turnover entity set (served by the OData stub) ----------

TURNOVER_ROWS = 100_000
TURNOVER_STRUCTURES = 12
PAGE_ROWS = 1000
RTT_S = 0.005  # fixed simulated round trip per request
FAIL_SHARE = 0.03  # share of data pages that answer 503 on every odd attempt
RETRY_AFTER_S = 0.05

TURNOVER_FIELDS = [
    "TEMPLOYEE_UUID", "CEMPLOYEE_UUID", "C0DATEFROM", "C0DATETO",
    "KCLEAVERS", "COCHAR_STRUCTURE",
]
_STRUCT_ALPHABET = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def structure_codes(rng, n: int) -> list[str]:
    """``n`` distinct 25-char structure codes; one carries a ``'`` so the
    partition filter exercises OData quote escaping."""
    codes = ["".join(rng.choice(_STRUCT_ALPHABET, 25)) for _ in range(n)]
    codes[0] = codes[0][:10] + "'" + codes[0][11:]
    return codes


def turnover_columns(seed: int, n_rows: int, n_structures: int) -> dict[str, np.ndarray]:
    """The turnover entity set as columns, in wire order: ~3% exact
    duplicate rows, ~1% null and ~1% empty structures."""
    rng = np.random.default_rng(seed)
    codes = structure_codes(rng, n_structures)
    n_base = int(n_rows * 0.97)
    emp = rng.integers(1, n_rows * 4, n_base)
    struct = np.asarray(codes, dtype=object)[rng.integers(0, n_structures, n_base)]
    start = 1_577_836_800_000 + rng.integers(0, 2000, n_base) * 86_400_000
    end = start + rng.integers(1, 400, n_base) * 86_400_000
    leavers = rng.integers(0, 5, n_base)
    holes = rng.random(n_base)
    struct[holes < 0.02] = ""
    struct[holes < 0.01] = None
    pick = np.concatenate([np.arange(n_base), rng.integers(0, n_base, n_rows - n_base)])
    pick = pick[rng.permutation(n_rows)]
    return {"emp": emp[pick], "struct": struct[pick], "start": start[pick],
            "end": end[pick], "leavers": leavers[pick]}


def turnover_rows(seed: int, n_rows: int, n_structures: int) -> list[dict]:
    """Wire-form V2 rows: strings everywhere, ``/Date(ms)/`` dates."""
    c = turnover_columns(seed, n_rows, n_structures)
    return [
        {
            "__metadata": {"uri": f"Turnover('{e}')", "type": "T.Turnover"},
            "TEMPLOYEE_UUID": f"Employee {e}",
            "CEMPLOYEE_UUID": str(e),
            "C0DATEFROM": f"/Date({a})/",
            "C0DATETO": f"/Date({b})/",
            "KCLEAVERS": str(k),
            "COCHAR_STRUCTURE": s,
        }
        for e, s, a, b, k in zip(
            c["emp"].tolist(), c["struct"].tolist(), c["start"].tolist(),
            c["end"].tolist(), c["leavers"].tolist(),
        )
    ]


# --- keyed, change-tracked entity set (the delta-sync source) ---------

LIVE_FIELDS = ["ID", "NAME", "STRUCTURE", "KCLEAVERS", "AMOUNT"]
LIVE_ROWS = 2_000


def live_rows(seed: int, n: int) -> list[dict]:
    rng = np.random.default_rng([seed, 7])
    structs = rng.integers(0, 50, n)
    leavers = rng.integers(0, 5, n)
    amounts = rng.uniform(0, 1000, n)
    return [
        {"ID": str(i), "NAME": f"Row {i}", "STRUCTURE": f"S{int(structs[i])}",
         "KCLEAVERS": str(int(leavers[i])), "AMOUNT": f"{float(amounts[i]):.2f}"}
        for i in range(n)
    ]
