"""Seeded input generators and their expected outcomes.

Everything the program under test sees is a file written here; the
expected end state travels back to the benchmark only, so the checks
never ask the program what the right answer is.

* ``customer_backlog`` -- header-bearing customer CSV files for the
  streaming ingest, with defect lines (bad id, empty email, malformed
  line) and exact replays of earlier valid rows. Replays copy a whole
  line, so the surviving (id, email) set does not depend on which copy
  wins a tie.
* ``customer_rows`` -- clean customer rows, written as CSV: the
  service's already-uploaded history.
* ``analytics_tables`` -- the ten parquet tables the headline queries
  read, shaped like the TPC-H-style test data of TESTDATA.md (2-dp money
  columns, 64-wide float32 embeddings, a 30-word document vocabulary).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

FIRST = [
    "Hadleigh", "Constancy", "Carmen", "Valerye", "Celka", "Rosabel", "Ardis",
    "Bram", "Cyb", "Dov", "Ermin", "Fifi", "Gage", "Hedi", "Ivor", "Jodi",
]
LAST = [
    "Mahedy", "Benjafield", "Brandt", "Orrick", "Vasyutin", "Pinchon", "Ledford",
    "Castagne", "Dunkerly", "Eyckel", "Fowle", "Gasnell", "Hubner", "Iacovino",
]
DOMAINS = ["diigo.com", "icq.com", "example.org", "mail.test", "crm.invalid"]

CSV_HEADER = "id,first_name,last_name,email,phone"
DEFECTS = ("bad_id", "empty_email", "malformed_line")


def _phone(rng: random.Random) -> str:
    if rng.random() < 0.5:
        return f"{rng.randint(200, 999)} {rng.randint(200, 999)} {rng.randint(1000, 9999)}"
    return f"+{rng.randint(1, 99)} {rng.randint(100, 999)} {rng.randint(100, 999)} {rng.randint(1000, 9999)}"


def _customer(rng: random.Random, cid: int) -> tuple[int, str, str, str, str]:
    first, last = rng.choice(FIRST), rng.choice(LAST)
    # the id in the local part keeps every email unique
    email = f"{first[0]}{last}{cid}@{rng.choice(DOMAINS)}".lower()
    return cid, first, last, email, _phone(rng)


def _line(row) -> str:
    return ",".join(str(v) for v in row)


@dataclass
class Backlog:
    """Generated ingest input plus what the store must hold afterwards."""

    expected: set[tuple[int, str]]  # surviving (id, email)
    defects: dict[str, int] = field(default_factory=dict)
    replays: int = 0

    @property
    def quarantined(self) -> int:
        return sum(self.defects.values())


def customer_backlog(
    seed: int,
    out_dir: str,
    n_files: int,
    rows_per_file: int,
    defect_rate: float = 0.02,
    replay_rate: float = 0.03,
    id_base: int = 1,
) -> Backlog:
    """Write ``n_files`` customer CSVs into ``out_dir`` (names sort in
    arrival order) and return the expected end state of a store that
    ingests all of them."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    valid_lines: list[str] = []
    expected: set[tuple[int, str]] = set()
    defects = dict.fromkeys(DEFECTS, 0)
    replays = 0
    next_id = id_base
    for f in range(n_files):
        lines = [CSV_HEADER]
        for _ in range(rows_per_file):
            u = rng.random()
            if u < replay_rate and valid_lines:
                lines.append(rng.choice(valid_lines))
                replays += 1
                continue
            cid, first, last, email, phone = _customer(rng, next_id)
            next_id += 1
            if u < replay_rate + defect_rate:
                kind = DEFECTS[rng.randrange(len(DEFECTS))]
                defects[kind] += 1
                if kind == "bad_id":
                    lines.append(_line((f"{cid}l", first, last, email, phone)))
                elif kind == "empty_email":
                    lines.append(_line((cid, first, last, rng.choice(["", "  "]), phone)))
                else:  # one field too many: PERMISSIVE parsing flags it corrupt
                    lines.append(_line((cid, first, last, email, phone, "extra")))
                continue
            line = _line((cid, first, last, email, phone))
            lines.append(line)
            valid_lines.append(line)
            expected.add((cid, email))
        with open(os.path.join(out_dir, f"customers_{f:04d}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return Backlog(expected=expected, defects=defects, replays=replays)


def customer_rows(seed: int, path: str, n: int, id_base: int) -> list[str]:
    """Write ``n`` clean customers with ids from ``id_base`` as a CSV and
    return their emails in file order."""
    rng = random.Random(seed)
    rows = [_customer(rng, id_base + i) for i in range(n)]
    with open(path, "w") as fh:
        fh.write(CSV_HEADER + "\n")
        fh.write("\n".join(_line(r) for r in rows) + "\n")
    return [r[3] for r in rows]


# --------------------------------------------------------------------------
# analytics tables
# --------------------------------------------------------------------------
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PNAME = ["red", "blue", "hot", "large", "small", "green", "dark", "pale"]
_PNOUN = ["bolt", "ring", "nut", "screw", "gear", "pipe", "valve", "rod"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]


def analytics_tables(seed: int, out_dir: str, scale: float) -> None:
    """Write the ten headline-query tables as ``<out_dir>/<name>.parquet``.

    ``scale`` follows the scale factors of TESTDATA.md: 0.01 gives
    60,000 lineitem rows. Money columns are whole cents, discounts and
    taxes whole hundredths, as in the test data the oracle pairs were
    written against."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_orders = max(20, int(1_500_000 * scale))
    n_line = n_orders * 4
    n_events = max(50, int(1_000_000 * scale))
    n_users = max(10, int(150_000 * scale))
    n_docs = max(20, int(50_000 * scale))
    n_vecs = max(20, int(50_000 * scale))

    def cents(lo: float, hi: float, n: int):
        return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0

    def days(start: str, n_days: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    def write(name: str, cols: dict, schema: pa.Schema) -> None:
        table = pa.Table.from_pandas(pd.DataFrame(cols), schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    write(
        "region",
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS},
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    )
    write(
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
    )
    write(
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": cents(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        },
        pa.schema([
            ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string()),
        ]),
    )
    write(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": cents(-999.99, 9999.99, n_supp),
        },
        pa.schema([
            ("s_suppkey", pa.int64()), ("s_name", pa.string()),
            ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
        ]),
    )
    write(
        "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PNAME, n_part), rng.choice(_PNOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": cents(900.0, 999.9, n_part),
        },
        pa.schema([
            ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
            ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
        ]),
    )
    write(
        "orders",
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": cents(1000.0, 500000.0, n_orders),
            "o_orderdate": days("1995-01-01", 2404, n_orders),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        },
        pa.schema([
            ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]),
    )
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": cents(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": days("1995-01-02", 2498, n_line),
        },
        pa.schema([
            ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
            ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
        ]),
    )
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    write(
        "events",
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(_EVENTS, n_events),
            "value": np.round(rng.exponential(50.0, n_events) * 100) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
        pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
            ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
        ]),
    )
    texts = [
        " ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, n_docs)
    ]
    # a few exact and near duplicates for the dedup queries to find
    for i in rng.choice(n_docs, max(2, n_docs // 100), replace=False):
        j = int(rng.integers(0, n_docs))
        texts[i] = texts[j] if rng.random() < 0.5 else texts[j] + " dup"
    write(
        "documents",
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ]),
    )
    vecs = rng.normal(0.0, 0.125, (n_vecs, 64)).astype(np.float32)
    write(
        "embeddings",
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        },
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]),
    )
