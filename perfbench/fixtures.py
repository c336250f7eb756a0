"""Seeded input generators for the benchmark (numpy, pyarrow and the
standard library only).

Three zones, each written under a root the caller recreates per run:

* ``catalog``: the ten star-schema/event/document/embedding tables the
  query catalog reads, shaped like the fixture tables the catalog's
  tests use (same columns, types, domains and row ratios per scale
  factor).
* ``raw finance``: reference-shaped yearly CSVs (``date``, ``details``,
  ``total_amount`` and 32 category columns; 27 rows per year) under
  ``year=YYYY/`` directories, for the incremental ETL.
* ``curated long``: the unpivoted serving table (``date, details,
  category, amount`` partitioned by ``year``), written directly by
  pyarrow so ETL changes cannot move its set-up.

Every generator is a pure function of its arguments: the same seed
gives byte-identical files (``selftest.py`` checks it).
"""

from __future__ import annotations

import csv
import io
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- catalog tables --------------------------------------------------------

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64
DAY_US = 86_400 * 1_000_000


def _ts(day_offsets: np.ndarray, base: str = "1995-01-01") -> pa.Array:
    base_us = np.datetime64(base, "us").astype(np.int64)
    return pa.array(base_us + day_offsets.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The catalog's ten input tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    def pick(values, n, p=None):
        return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2400, n_ord)),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), n_line),
        "l_linestatus": pick(("F", "O"), n_line),
        "l_shipdate": _ts(rng.integers(1, 2500, n_line)),
    })
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us").astype(np.int64) + ev_us,
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # Documents: random word sequences; about 5% are near-duplicates of
    # an earlier document (one word dropped, one replaced by "dup").
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words.pop(int(rng.integers(0, len(words))))
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(pick(WORDS, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def write_catalog(root: str, sf: float, seed: int) -> int:
    """Write the catalog tables as ``{root}/{name}.parquet``; returns
    the bytes written."""
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, table in catalog_tables(sf, seed).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total


# -- finance zones ---------------------------------------------------------

CATEGORIES = (
    "general_fund_admin_wifi_grant compensation_budget expense_budget "
    "material_budget utilities grant_welfare_health grant_ms_365 "
    "education_fund_academic_computer_service_salary_staff government_staff "
    "asset_fund_academic_computer_service_equipment_budget "
    "equipment_budget_over_1m permanent_asset_fund_land_construction "
    "equipment_firewall grant_siem grant_data_center grant_wifi_satit "
    "research_fund_research_admin_personnel_research_grant "
    "reserve_fund_general_admin_other_expenses_reserve "
    "contribute_development_fund contribute_personnel_development_fund_cmu "
    "personnel_development_fund_education_management_support_special_grant "
    "art_preservation_fund_general_grant wifi_jumboplus firewall cmu_cloud "
    "siem digital_health benefit_access_request_system ups ups_rent_wifi_care "
    "uplift open_data"
).split()
WIDE_COLUMNS = ["date", "details", "total_amount", *CATEGORIES]
FIRST_YEAR = 2001


@dataclass
class FinanceYear:
    """One fiscal year of the reference's wide sheet, plus what the
    pipeline must make of it."""

    year: int
    rows: list[dict]  # wide rows, values already rounded to cents
    defective: bool = False
    files: int = 1
    # (category -> sum of amounts) over the rows the long table keeps
    long_sums: dict[str, float] = field(default_factory=dict)
    long_rows: int = 0


def _months(year: int) -> list[str]:
    """Fiscal months Oct(year-1) .. Sep(year)."""
    return [f"{year - 1}-{m:02d}" for m in (10, 11, 12)] + [
        f"{year}-{m:02d}" for m in range(1, 10)
    ]


def finance_year(rng: np.random.Generator, year: int) -> FinanceYear:
    """27 rows: the all-year budget, a spent/remaining pair per month,
    then the two summary sentinels. About 1 in 10 cells is empty."""
    budget = np.round(rng.uniform(1e4, 5e5, len(CATEGORIES)), 2)
    spent = np.round(rng.uniform(0.0, 0.12, (12, len(CATEGORIES))) * budget, 2)
    empty = rng.random((25, len(CATEGORIES))) < 0.1
    remaining = np.round(budget - np.cumsum(spent, axis=0), 2)

    def row(date: str, details: str, values: np.ndarray, mask=None) -> dict:
        vals = [None if (mask is not None and mask[i]) else float(v)
                for i, v in enumerate(values)]
        total = round(sum(v for v in vals if v is not None), 2)
        return {"date": date, "details": details, "total_amount": total,
                **dict(zip(CATEGORIES, vals))}

    rows = [row("all-year-budget", "budget", budget, empty[0])]
    for m, month in enumerate(_months(year)):
        rows.append(row(month, "spent", spent[m], empty[1 + 2 * m]))
        # the balance is never blanked: the monotonic check reads it
        rows.append(row(month, "remaining", remaining[m]))
    rows.append(row("total spent", "spent", spent.sum(axis=0)))
    rows.append(row("remaining", "remaining", remaining[-1]))
    fy = FinanceYear(year, rows)
    for r in rows[:-2]:  # the long table drops the two summary rows
        for c in CATEGORIES:
            if r[c] is not None:
                fy.long_sums[c] = fy.long_sums.get(c, 0.0) + r[c]
                fy.long_rows += 1
    return fy


def finance_years(seed: int, n_years: int, defect_every: int = 8) -> list[FinanceYear]:
    """``n_years`` consecutive fiscal years; exactly one year in each
    block of ``defect_every`` (seeded position; none when 0) carries a
    fatal DQ defect, either a null ``date`` or an unparsable month key.
    Half of the years of each block (seeded) are split over two files, so
    that seeds change values and positions but not a block's make-up."""
    rng = np.random.default_rng(seed)
    years: list[FinanceYear] = []
    block_len = defect_every if defect_every > 0 else n_years
    for block in range(0, n_years, block_len):
        bad = block + int(rng.integers(0, block_len)) if defect_every > 0 else -1
        idx = range(block, min(block + block_len, n_years))
        split = set(rng.permutation(idx)[: len(idx) // 2].tolist())
        for i in idx:
            fy = finance_year(rng, FIRST_YEAR + i)
            fy.files = 2 if i in split else 1
            if i == bad:
                fy.defective = True
                victim = fy.rows[1 + int(rng.integers(0, 24))]
                victim["date"] = None if rng.random() < 0.5 else "13/2021"
            years.append(fy)
    return years


def _csv_text(rows: list[dict]) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(WIDE_COLUMNS)
    for r in rows:
        w.writerow(["" if r[c] is None else r[c] for c in WIDE_COLUMNS])
    return buf.getvalue()


def write_raw_zone(root: str, years: list[FinanceYear]) -> int:
    """``{root}/year=YYYY/part-K.csv``; returns the CSV bytes written."""
    total = 0
    for fy in years:
        d = os.path.join(root, f"year={fy.year}")
        os.makedirs(d, exist_ok=True)
        cut = len(fy.rows) // 2 if fy.files == 2 else len(fy.rows)
        for k, chunk in enumerate((fy.rows[:cut], fy.rows[cut:])):
            if not chunk:
                continue
            data = _csv_text(chunk).encode()
            with open(os.path.join(d, f"part-{k}.csv"), "wb") as fh:
                fh.write(data)
            total += len(data)
    return total


LONG_SCHEMA = pa.schema([
    ("date", pa.string()),
    ("details", pa.string()),
    ("category", pa.string()),
    ("amount", pa.float64()),
])


def long_rows(fy: FinanceYear) -> list[tuple[str, str, str, float]]:
    """The curated long rows of one (clean) year, as the pipeline's
    unpivot produces them."""
    return [
        (r["date"], r["details"], c, r[c])
        for r in fy.rows[:-2]
        for c in CATEGORIES
        if r[c] is not None
    ]


def write_long_zone(root: str, years: list[FinanceYear]) -> None:
    """Hive-partitioned parquet ``{root}/year=YYYY/part-0.parquet``."""
    for fy in years:
        d = os.path.join(root, f"year={fy.year}")
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*long_rows(fy)))
        table = pa.Table.from_arrays(
            [pa.array(c, t.type) for c, t in zip(cols, LONG_SCHEMA)],
            schema=LONG_SCHEMA,
        )
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
