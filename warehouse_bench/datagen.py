"""Seeded input generator for the warehouse benchmark.

Everything the program under test reads is made here from ``seed``
alone: the TPC-H-ish star tables (one parquet file per table, with the
same names, column types and value domains as the package's testdata)
and the transaction log the streaming ETL ingests (CSV files in the
reference's six-column transactions contract). The same seed and scale
always give byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_FIRST = dt.date(1995, 1, 1)
EPOCH_LAST = dt.date(2001, 8, 1)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
NOUNS = ["ring", "bolt", "plate", "gear", "nut", "pipe", "spring", "valve"]
# products map onto this many stores in the ETL's product master
STORE_MOD = 7
# every REDELIVER_EVERY-th log file re-delivers an earlier one; each
# original file carries INVALID_PAIRS x 2 malformed lines
REDELIVER_EVERY = 8
INVALID_PAIRS = 2
TX_HEADER = (
    "order_id,order_date_raw,product_id,quantity_ordered_raw,customer_id,time_id\n"
)


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    span = (EPOCH_LAST - EPOCH_FIRST).days
    return rng.integers(0, span + 1, n)


def _ts_us(days: np.ndarray) -> pa.Array:
    base = np.datetime64(EPOCH_FIRST.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


@dataclass(frozen=True)
class StarSizes:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lines: int

    @classmethod
    def at(cls, sf: float) -> "StarSizes":
        return cls(
            customers=max(int(150_000 * sf), 50),
            suppliers=max(int(10_000 * sf), 10),
            parts=max(int(200_000 * sf), 50),
            orders=max(int(1_500_000 * sf), 100),
            lines=max(int(6_000_000 * sf), 400),
        )


@dataclass
class Star:
    """The generated tables as numpy columns (the parts the transaction
    log and the checks need) plus the directory the parquet files are in."""

    sf_dir: str
    sizes: StarSizes
    order_days: np.ndarray
    order_cust: np.ndarray
    line_order: np.ndarray
    line_part: np.ndarray
    line_qty: np.ndarray
    part_price_tenths: np.ndarray


def write_star(sf_dir: str, sf: float, seed: int) -> Star:
    """Write region nation customer supplier part orders lineitem as
    ``<sf_dir>/<table>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    n = StarSizes.at(sf)
    os.makedirs(sf_dir, exist_ok=True)

    def put(name: str, cols: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n.customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n.customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n.customers), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n.customers)),
        "c_mktsegment": _pick(rng, SEGMENTS, n.customers),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n.suppliers), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n.suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n.suppliers), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n.suppliers)),
    })
    price_tenths = rng.integers(9000, 10000, n.parts)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    put("part", {
        "p_partkey": pa.array(np.arange(n.parts), pa.int64()),
        "p_name": _pick(rng, names, n.parts),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n.parts)]
        ),
        "p_type": _pick(rng, PART_TYPES, n.parts),
        "p_size": pa.array(rng.integers(1, 51, n.parts), pa.int32()),
        "p_retailprice": pa.array(price_tenths / 10.0),
    })
    order_days = _days(rng, n.orders)
    order_cust = rng.integers(0, n.customers, n.orders)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n.orders), pa.int64()),
        "o_custkey": pa.array(order_cust, pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n.orders),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n.orders)),
        "o_orderdate": _ts_us(order_days),
        "o_orderpriority": _pick(rng, PRIORITIES, n.orders),
    })
    line_order = rng.integers(0, n.orders, n.lines)
    line_part = rng.integers(0, n.parts, n.lines)
    line_qty = rng.integers(1, 51, n.lines)
    ship_days = order_days[line_order] + rng.integers(1, 122, n.lines)
    put("lineitem", {
        "l_orderkey": pa.array(line_order, pa.int64()),
        "l_partkey": pa.array(line_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n.suppliers, n.lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n.lines), pa.int32()),
        "l_quantity": pa.array(line_qty.astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n.lines)),
        "l_discount": pa.array(rng.integers(0, 11, n.lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n.lines) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n.lines),
        "l_linestatus": _pick(rng, ["F", "O"], n.lines),
        "l_shipdate": _ts_us(ship_days),
    })
    return Star(
        sf_dir, n, order_days, order_cust, line_order, line_part, line_qty,
        price_tenths,
    )


@dataclass
class TxLog:
    """A transaction log split into CSV file payloads.

    ``files[i]`` is the text of the i-th file to deliver; a
    re-delivered file repeats the exact lines of an earlier one.
    ``rows[i]`` lists file i's valid transactions as (id, store_id,
    quarter, year, revenue in integer mills, quantity): the reference
    the warehouse's ``sales_fact`` and its maintained quarterly
    aggregate are checked against."""

    files: list[str]
    rows: list[list[tuple]]
    redelivered_files: int
    invalid_rows: int

    @property
    def input_rows(self) -> int:
        return sum(f.count("\n") - 1 for f in self.files)

    @property
    def input_bytes(self) -> int:
        return sum(len(f) for f in self.files)

    def expected_rows(self, n_files: int | None = None) -> int:
        """Distinct valid transactions in the first ``n_files`` files."""
        return len({r[0] for f in self.rows[:n_files] for r in f})

    def expected_agg(self, n_files: int | None = None) -> dict:
        """(store_id, quarter, year) -> (mills, quantity) over the
        distinct valid transactions of the first ``n_files`` files."""
        return _aggregate(self.rows[:n_files])


def _aggregate(files: list[list[tuple]]) -> dict:
    seen: set[str] = set()
    agg: dict[tuple[str, int, int], list[int]] = {}
    for rows in files:
        for tx_id, store, quarter, year, mills, qty in rows:
            if tx_id in seen:
                continue
            seen.add(tx_id)
            acc = agg.setdefault((store, quarter, year), [0, 0])
            acc[0] += mills
            acc[1] += qty
    return {k: (v[0], v[1]) for k, v in agg.items()}


def make_tx_log(star: Star, n_files: int, rows_per_file: int, seed: int) -> TxLog:
    """Transactions drawn from lineitem ⋈ orders, ``rows_per_file`` valid
    lines per file. Every ``REDELIVER_EVERY``-th file re-delivers an
    earlier file verbatim (an upstream retry), so insert-if-absent must
    admit its rows exactly once; each original file also carries
    ``2 * INVALID_PAIRS`` malformed lines the ETL's validity filter drops.
    """
    rng = np.random.default_rng([seed, 2])
    originals = n_files - n_files // REDELIVER_EVERY
    need = originals * rows_per_file
    lines = rng.choice(len(star.line_order), size=need, replace=need > len(star.line_order))
    orders = star.line_order[lines]
    days = star.order_days[orders]
    dates = (np.datetime64(EPOCH_FIRST.isoformat(), "D") + days).astype("datetime64[D]")
    years = dates.astype("datetime64[Y]").astype(int) + 1970
    months = dates.astype("datetime64[M]").astype(int) % 12 + 1
    quarters = (months + 2) // 3
    parts = star.line_part[lines]
    qty = star.line_qty[lines]
    mills = qty * star.part_price_tenths[parts] * 100
    custs = star.order_cust[orders]
    date_txt = np.datetime_as_string(dates, unit="D")

    files: list[str] = []
    per_file_rows: list[list[tuple]] = []
    invalid = 0
    o = 0
    for i in range(n_files):
        if i % REDELIVER_EVERY == REDELIVER_EVERY - 1:
            j = int(rng.integers(0, len(files)))
            files.append(files[j])
            per_file_rows.append(per_file_rows[j])
            continue
        out = [TX_HEADER]
        rows = []
        for k in range(o, o + rows_per_file):
            tx_id = f"TX{k:09d}"
            out.append(
                f"{tx_id},{date_txt[k]} 0:00:00,P{parts[k]},{qty[k]},"
                f"C{custs[k]},T{orders[k]}\n"
            )
            rows.append((
                tx_id, f"ST{parts[k] % STORE_MOD}", int(quarters[k]),
                int(years[k]), int(mills[k]), int(qty[k]),
            ))
        for b in range(INVALID_PAIRS):
            # an unparsable quantity and a blank id: both dropped
            out.append(f"TXBAD{i}-{b},{date_txt[o]} 0:00:00,P1,x{b},C1,T1\n")
            out.append(f",{date_txt[o]} 0:00:00,P1,{b + 1},C1,T1\n")
            invalid += 2
        o += rows_per_file
        files.append("".join(out))
        per_file_rows.append(rows)
    return TxLog(files, per_file_rows, n_files - originals, invalid)
