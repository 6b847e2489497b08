"""Seeded, Spark-free input generation for the ingest workload.

The corpus is a pure function of the seed: numpy draws the values,
pandas writes the CSVs, and the generator itself records what a correct
load must produce — each table's data-row count and an order-independent
content digest (see :func:`digest_rows`), plus the digest of the typed
table the post-load hook builds. Nothing here imports pyspark, so
generation stays outside both ``setup_s`` and every timed pass.

Corpora are cached on disk per (workload, seed, ``GENERATOR_VERSION``):
a second run with the same seed reuses the files and ``expected.json``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import shutil
import zipfile
from pathlib import Path

import numpy as np
import pandas as pd

# Bump when the corpus shape changes, so stale caches are never reused.
GENERATOR_VERSION = 1

MONTHS = [
    "JAN", "FEB", "MAR", "APR", "MAY", "JUN",
    "JUL", "AUG", "SEP", "OCT", "NOV", "DEC",
]

# --- ingest_copy_bulk: 8 lineitem_N CSVs + 4 orders_N CSVs in one zip ------
COPY_LINEITEM_FILES = 8
COPY_ORDERS_FILES = 4
COPY_LINEITEM_ROWS = 1_500  # per file
COPY_ORDERS_ROWS = 750  # per file

_WORDS = (
    "carefully final deposits sleep quickly ironic packages wake "
    "blithely regular requests haggle furiously express accounts "
    "boost slyly bold pinto beans nag even theodolites"
).split()


def digest_rows(rows) -> int:
    """Order-independent digest of rows of strings: the sum of the first
    56 bits of md5 over the row's fields joined by U+001F. Postgres
    computes the same value server-side (see ``pg_digest_sql``)."""
    total = 0
    for r in rows:
        h = hashlib.md5("\x1f".join(r).encode()).digest()
        total += int.from_bytes(h[:7], "big")
    return total


def pg_digest_sql(table: str, columns: list[str], schema: str = "import") -> str:
    """SQL computing ``(count, digest_rows)`` for a Postgres table whose
    columns are all non-NULL text."""
    cols = ", ".join(f'"{c}"' for c in columns)
    return (
        "SELECT count(*), coalesce(sum(('x' || substr(md5(concat_ws("
        f"chr(31), {cols})), 1, 14))::bit(56)::bigint), 0) "
        f'FROM "{schema}"."{table}"'
    )


def _oracle_date(d: np.ndarray) -> np.ndarray:
    """datetime64[D] -> Oracle dump text ``06-FEB-98``."""
    day0 = d.min()
    span = int((d.max() - day0).astype(np.int64)) + 1
    first = dt.date.fromisoformat(str(day0))
    table = np.array(
        [
            f"{x.day:02d}-{MONTHS[x.month - 1]}-{x.year % 100:02d}"
            for x in (first + dt.timedelta(days=i) for i in range(span))
        ],
        dtype=object,
    )
    return table[(d - day0).astype(np.int64)]


def _pick(rng, pool, n) -> np.ndarray:
    return np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)]


def _comment_pool(rng, with_commas: bool) -> list[str]:
    pool = []
    for _ in range(4096):
        words = rng.choice(_WORDS, size=int(rng.integers(3, 9)))
        sep = ", " if with_commas and rng.random() < 0.3 else " "
        pool.append(sep.join(words))
    return pool


def _lineitem(rng, pool, n: int, first_order: int) -> dict[str, np.ndarray]:
    orderkey = first_order + np.sort(rng.integers(0, n // 4 + 1, n))
    ship = np.datetime64("1992-01-02") + rng.integers(0, 2400, n)
    qty = rng.integers(1, 51, n)
    price = rng.integers(90_000, 10_500_000, n)
    return {
        "l_orderkey": orderkey.astype(str),
        "l_partkey": rng.integers(1, 200_000, n).astype(str),
        "l_suppkey": rng.integers(1, 10_000, n).astype(str),
        "l_linenumber": rng.integers(1, 8, n).astype(str),
        "l_quantity": qty.astype(str),
        "l_extendedprice": np.char.mod("%.2f", price / 100.0),
        "l_discount": np.char.mod("0.%02d", rng.integers(0, 11, n)),
        "l_tax": np.char.mod("0.%02d", rng.integers(0, 9, n)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _oracle_date(ship),
        "l_commitdate": _oracle_date(ship + rng.integers(-30, 60, n)),
        "l_receiptdate": _oracle_date(ship + rng.integers(1, 31, n)),
        "l_shipinstruct": _pick(
            rng, ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"], n
        ),
        "l_shipmode": _pick(
            rng, ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], n
        ),
        "l_comment": _pick(rng, pool, n),
    }


def _orders(rng, pool, n: int, first_order: int) -> dict[str, np.ndarray]:
    od = np.datetime64("1992-01-01") + rng.integers(0, 2400, n)
    cols = {
        "o_orderkey": (first_order + np.arange(n)).astype(str),
        "o_custkey": rng.integers(1, 150_000, n).astype(str),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": np.char.mod("%.2f", rng.integers(100_000, 50_000_000, n) / 100.0),
        "o_orderdate": _oracle_date(od),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
        "o_clerk": np.char.mod("Clerk#%09d", rng.integers(1, 1000, n)),
        "o_shippriority": np.full(n, "0", dtype=object),
        "o_comment": _pick(rng, pool, n),
    }
    return cols, [
        (k, str(d), p, pr)
        for k, d, p, pr in zip(
            cols["o_orderkey"], od, cols["o_totalprice"], cols["o_orderpriority"]
        )
    ]


def _write_csv(path: Path, cols: dict[str, np.ndarray]) -> tuple[int, int]:
    df = pd.DataFrame(cols)
    df.to_csv(path, index=False)
    rows = zip(*(df[c].astype(str).tolist() for c in df.columns))
    return len(df), digest_rows(rows)


def _table_entry(columns, n, digest):
    return {"columns": list(columns), "rows": n, "digest": str(digest)}


def gen_copy_bulk(out: Path, seed: int) -> dict:
    """lineitem_1..8 as plain CSVs and orders_1..4 inside ``orders.zip``
    (re-extracted on every pass), all in ``data/``."""
    rng = np.random.default_rng([seed, 1])
    pool = _comment_pool(rng, with_commas=True)
    data = out / "data"
    data.mkdir(parents=True)
    tables: dict[str, dict] = {}
    typed: list[tuple] = []
    total_n = total_d = 0
    for i in range(1, COPY_LINEITEM_FILES + 1):
        cols = _lineitem(rng, pool, COPY_LINEITEM_ROWS, first_order=i * 10_000_000)
        n, d = _write_csv(data / f"lineitem_{i}.csv", cols)
        tables[f"lineitem_{i}"] = _table_entry(cols, n, d)
        total_n, total_d = total_n + n, total_d + d
    tables["lineitem"] = _table_entry(cols, total_n, total_d)
    total_n = total_d = 0
    with zipfile.ZipFile(data / "orders.zip", "w", zipfile.ZIP_DEFLATED) as zf:
        for i in range(1, COPY_ORDERS_FILES + 1):
            cols, t = _orders(rng, pool, COPY_ORDERS_ROWS, first_order=i * 10_000_000)
            typed += t
            csv = out / f"orders_{i}.csv"
            n, d = _write_csv(csv, cols)
            zf.write(csv, csv.name)
            csv.unlink()
            tables[f"orders_{i}"] = _table_entry(cols, n, d)
            total_n, total_d = total_n + n, total_d + d
    tables["orders"] = _table_entry(cols, total_n, total_d)
    return {
        "tables": tables,
        "hook": {"rows": len(typed), "digest": str(digest_rows(typed))},
    }


def corpus(cache_root: Path, workload: str, seed: int) -> tuple[Path, dict]:
    """Return ``(corpus_dir, expected)``, generating on a cache miss."""
    d = cache_root / f"{workload}-s{seed}-v{GENERATOR_VERSION}"
    meta = d / "expected.json"
    if meta.exists():
        return d, json.loads(meta.read_text())
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    expected = gen_copy_bulk(tmp, seed)
    expected["input_bytes"] = sum(
        f.stat().st_size for f in tmp.rglob("*") if f.is_file()
    )
    (tmp / "expected.json").write_text(json.dumps(expected))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, expected
