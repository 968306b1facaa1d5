"""Property-based parity fuzz: every oracle-paired query runs on BOTH
engines over a SEEDED-RANDOM corpus — the generator randomizes row
counts, value distributions, NULL placement, text shape (unicode,
mixed case, whitespace runs, punctuation, duplicates and near-dups),
and embedding corruption (NULL/empty/wrong-width/zero vectors) on
every seed, where `test_degenerate_parity` pins ONE fixed adversarial
corpus forever.

What this adds over the fixed fixture: divergence classes that depend
on WHERE the adversarial value lands (a NULL key inside vs outside a
top-k band, a duplicate text that is/isn't the argmax, a zero vector
inside the query set) only surface under placement randomization, and
a new seed is a one-env-var rotation (SPARK_GRAFT_FUZZ_SEED) — every
future round can fuzz fresh corpora with zero code change.

False-positive discipline: prices/balances/values are generated on
BINARY-EXACT grids (multiples of 2^-1 .. 2^-2, magnitudes << 2^40), so
every product/sum a query computes in DOUBLE is exact and therefore
independent of accumulation ORDER — a cross-engine mismatch here is a
real semantics divergence, never summation-order noise. Discounts and
taxes are 2-dp like TPC-H because the queries cast them to
DECIMAL(18,4): a finer binary grid (1/32 = 0.03125) lands EXACTLY on
decimal half-way points where Spark's HALF_UP cast and DuckDB's cast
rounding legitimately differ. Embedding components live on a 1/32 grid;
scores that pass through sqrt/log are under the repo's 9-dp rounding +
DECIMAL discipline, which this suite stress-tests by design.

Generation invariants (the SANE floor the degenerate suite documents):
vec_ids 0..9 are always valid same-width vectors (the ANN query set),
>= 16 valid vectors exist (the PQ codebook fit's documented minimum;
k-means/prune need fewer), >= 2 non-NULL langs and sources exist, and
doc_ids/event_ids are dense.
"""

from __future__ import annotations

import os
import random

import pytest

import __spark_entry__ as entrymod
from tests._parity import assert_matches_oracle, duck_views

SEED = int(os.environ.get("SPARK_GRAFT_FUZZ_SEED", "20260815"))

# binary-exact value grids (k * step with step a power of two keeps
# every DOUBLE product/sum exact -> order-independent aggregation)
_Q4 = 0.25      # prices, balances
_Q32 = 0.03125  # discounts, taxes, embedding components


def _maybe_null(rng: random.Random, value, p: float):
    return None if rng.random() < p else value


# token pools: ascii base + mixed case + unicode + digits + punctuation;
# lower() and \s+ handling must agree cross-engine over all of them
_BASE_WORDS = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "data", "spark", "query", "token", "corpus", "model", "scale",
    "alpha", "beta", "gamma", "delta", "omega",
]
_SPICY_WORDS = [
    "Mixed", "CASE", "TitleCase", "café", "über", "naïve", "ß", "Ü",
    "文档", "测试", "42", "3.14", "end.", "semi;colon", "a-b", "x_y",
]
_SEPARATORS = [" ", " ", " ", " ", "  ", "\t", "\n", " \t "]


def _rand_text(rng: random.Random, lo: int = 4, hi: int = 40) -> str:
    n = rng.randint(lo, hi)
    words = []
    for _ in range(n):
        pool = _SPICY_WORDS if rng.random() < 0.2 else _BASE_WORDS
        words.append(rng.choice(pool))
    out = words[0]
    for w in words[1:]:
        out += rng.choice(_SEPARATORS) + w
    return out


def _build_fuzz_fixture(dir_: str, seed: int) -> None:
    """Land seeded-random parquet tables via pandas -> pyarrow (explicit
    schemas so types match the production fixtures exactly)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)

    def write(name: str, columns: dict, schema: pa.Schema) -> None:
        table = pa.Table.from_pandas(
            pd.DataFrame(columns), schema=schema, preserve_index=False
        )
        pq.write_table(table, f"{dir_}/{name}.parquet")

    # --- region / nation (tiny dims; one orphan nation ref) ---
    n_region = rng.randint(2, 3)
    write(
        "region",
        {
            "r_regionkey": list(range(n_region)),
            "r_name": [rng.choice(["AMERICA", "ASIA", "EUROPE", "AFRICA"]) + f"_{i}"
                       for i in range(n_region)],
        },
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    )
    n_nation = rng.randint(3, 5)
    write(
        "nation",
        {
            "n_nationkey": list(range(n_nation)),
            "n_name": [f"NATION_{i}" for i in range(n_nation)],
            # one orphan region ref exercises outer-join edges
            "n_regionkey": [
                7 if i == n_nation - 1 else rng.randrange(n_region)
                for i in range(n_nation)
            ],
        },
        pa.schema([
            ("n_nationkey", pa.int32()), ("n_name", pa.string()),
            ("n_regionkey", pa.int32()),
        ]),
    )

    # --- customer ---
    n_cust = rng.randint(8, 16)
    write(
        "customer",
        {
            "c_custkey": list(range(n_cust)),
            "c_name": [f"Customer#{i}" for i in range(n_cust)],
            "c_nationkey": [rng.randrange(n_nation) for _ in range(n_cust)],
            "c_acctbal": [
                _maybe_null(rng, (rng.randint(-8000, 40000)) * _Q4, 0.1)
                for _ in range(n_cust)
            ],
            "c_mktsegment": [
                rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY"])
                for _ in range(n_cust)
            ],
        },
        pa.schema([
            ("c_custkey", pa.int64()), ("c_name", pa.string()),
            ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]),
    )

    # --- supplier / part ---
    n_supp = rng.randint(4, 8)
    write(
        "supplier",
        {
            "s_suppkey": list(range(n_supp)),
            "s_name": [f"Supplier#{i}" for i in range(n_supp)],
            "s_nationkey": [rng.randrange(n_nation) for _ in range(n_supp)],
            "s_acctbal": [(rng.randint(-2000, 20000)) * _Q4 for _ in range(n_supp)],
        },
        pa.schema([
            ("s_suppkey", pa.int64()), ("s_name", pa.string()),
            ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
        ]),
    )
    n_part = rng.randint(8, 14)
    types = ["PROMO BRUSHED", "STANDARD POLISHED", "PROMO PLATED",
             "ECONOMY ANODIZED"]
    write(
        "part",
        {
            "p_partkey": list(range(n_part)),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{rng.randrange(3)}" for _ in range(n_part)],
            "p_type": [rng.choice(types) for _ in range(n_part)],
            "p_size": [rng.randint(1, 6) for _ in range(n_part)],
            "p_retailprice": [(rng.randint(3200, 8000)) * _Q4 for _ in range(n_part)],
        },
        pa.schema([
            ("p_partkey", pa.int64()), ("p_name", pa.string()),
            ("p_brand", pa.string()), ("p_type", pa.string()),
            ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
        ]),
    )

    # --- orders (one single-order customer by construction chance;
    #     duplicate totalprices; full status/priority coverage) ---
    n_orders = rng.randint(24, 60)
    base_dt = pd.Timestamp("2024-01-01 00:00:00")
    order_step = rng.randint(3, 13)
    write(
        "orders",
        {
            "o_orderkey": list(range(n_orders)),
            "o_custkey": [rng.randrange(n_cust) for _ in range(n_orders)],
            "o_orderstatus": [rng.choice(["F", "O", "P"]) for _ in range(n_orders)],
            "o_totalprice": [(rng.randint(400, 200000)) * _Q4 for _ in range(n_orders)],
            "o_orderdate": [
                base_dt + pd.Timedelta(hours=i * order_step + rng.choice([0, 0, 5]))
                for i in range(n_orders)
            ],
            "o_orderpriority": [
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                            "5-LOW"])
                for _ in range(n_orders)
            ],
        },
        pa.schema([
            ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
        ]),
    )

    # --- lineitem (zero quantities, zero discounts, duplicate ship
    #     dates; a couple of orphan orderkeys) ---
    n_line = rng.randint(40, 120)
    ship_base = pd.Timestamp("2024-01-03 00:00:00")
    write(
        "lineitem",
        {
            "l_orderkey": [
                n_orders + 5 if rng.random() < 0.03 else rng.randrange(n_orders)
                for _ in range(n_line)
            ],
            "l_partkey": [rng.randrange(n_part) for _ in range(n_line)],
            "l_suppkey": [rng.randrange(n_supp) for _ in range(n_line)],
            "l_linenumber": [rng.randint(1, 4) for _ in range(n_line)],
            "l_quantity": [float(rng.choice([0, 1, 1, 2, 3, 5, 8, 13, 21, 34, 50]))
                           for _ in range(n_line)],
            "l_extendedprice": [(rng.randint(40, 40000)) * _Q4 for _ in range(n_line)],
            # discounts/taxes are 2-dp like TPC-H: the queries cast them
            # to DECIMAL(18,4), and finer grids (e.g. 1/32 = 0.03125)
            # land EXACTLY on decimal half-way points where Spark's
            # HALF_UP and DuckDB's cast rounding legitimately differ —
            # a generator artifact, not an engine divergence
            "l_discount": [rng.choice([0, 1, 1, 2, 2, 5, 8]) * 0.01
                           for _ in range(n_line)],
            "l_tax": [rng.choice([0, 3, 7]) * 0.01 for _ in range(n_line)],
            "l_returnflag": [rng.choice(["A", "A", "R", "R", "N"])
                             for _ in range(n_line)],
            "l_linestatus": [rng.choice(["F", "O"]) for _ in range(n_line)],
            "l_shipdate": [
                ship_base + pd.Timedelta(hours=rng.randrange(n_line * 4))
                for _ in range(n_line)
            ],
        },
        pa.schema([
            ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()), ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]),
    )

    # --- events (NULL type/value/props, duplicate timestamps, one
    #     heavy user, value on a half-integer grid incl. negatives) ---
    n_events = rng.randint(60, 140)
    ev_base = pd.Timestamp("2024-02-01 00:00:00")
    heavy_user = rng.randrange(6)
    write(
        "events",
        {
            "event_id": list(range(n_events)),
            "ts": [
                ev_base + pd.Timedelta(minutes=(i // 2) * rng.choice([7, 11])
                                       + rng.choice([0, 0, 0, 3]))
                for i in range(n_events)
            ],
            "user_id": [
                heavy_user if rng.random() < 0.3 else rng.randrange(8)
                for _ in range(n_events)
            ],
            "event_type": [
                _maybe_null(
                    rng, rng.choice(["view", "view", "cart", "purchase", "error"]),
                    0.06,
                )
                for _ in range(n_events)
            ],
            "value": [
                _maybe_null(rng, rng.randint(-10, 400) * 0.5, 0.1)
                for _ in range(n_events)
            ],
            "props": [
                _maybe_null(
                    rng,
                    '{"k": %d}' % rng.randint(0, 99)
                    if rng.random() < 0.8
                    else '{"k": %d, "m": "s%d"}' % (rng.randint(0, 99), rng.randint(0, 9)),
                    0.08,
                )
                for _ in range(n_events)
            ],
        },
        pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ]),
    )

    # --- documents: random texts + adversarial riders at RANDOM
    #     positions + exact duplicates + a near-duplicate ---
    n_docs = rng.randint(24, 48)
    texts: list = [_rand_text(rng) for _ in range(n_docs)]
    rider_slots = rng.sample(range(n_docs), 8)
    texts[rider_slots[0]] = None
    texts[rider_slots[1]] = ""
    texts[rider_slots[2]] = "   "
    texts[rider_slots[3]] = "solo"
    texts[rider_slots[4]] = "rep rep rep rep rep rep"
    texts[rider_slots[5]] = "ctrl\x01inside token one two three four five six seven"
    # exact duplicate + near duplicate of a random clean doc
    donor = rng.choice([i for i in range(n_docs) if i not in rider_slots[:6]])
    texts[rider_slots[6]] = texts[donor]
    texts[rider_slots[7]] = (texts[donor] or "x") + " extra"
    langs = [
        _maybe_null(rng, rng.choice(["en", "en", "fr", "de", "zh"]), 0.08)
        for _ in range(n_docs)
    ]
    sources = [
        _maybe_null(rng, rng.choice(["web", "web", "wiki", "code", "news"]), 0.05)
        for _ in range(n_docs)
    ]
    # guarantee the >=2 langs / >=2 sources floor
    langs[0], langs[1] = "en", "fr"
    sources[0], sources[1] = "web", "wiki"
    write(
        "documents",
        {
            "doc_id": list(range(n_docs)),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": [len(t) if t else 0 for t in texts],
        },
        pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]),
    )

    # --- embeddings: vec_ids 0..9 always valid dim-8 (the ANN query
    #     set); >= 12 valid total; riders: NULL, empty, wrong-width,
    #     ZERO vector (0/0 cosine), exact duplicate pair ---
    n_vecs = rng.randint(24, 32)  # 6 corrupt riders; PQ fit needs >=16 valid
    dim = 8

    # FULL-PRECISION float32 components, deliberately NOT a coarse
    # binary grid: a dyadic value with <= 7 fraction bits (e.g. k/32)
    # can land a dot product EXACTLY on a 6-dp decimal half-way point
    # (m/2^s = (2k+1)/(2*10^6) is solvable only for s <= 7), where
    # Spark's HALF_UP and DuckDB's rounding legitimately differ —
    # ~23-bit mantissas make such ties impossible, like real embeddings.
    # Per-row score expressions are identical ASTs cross-engine, and
    # every embedding AGGREGATION in the repo is 9/12-dp + DECIMAL
    # disciplined, so full-precision floats cannot cause order noise.
    def _vec():
        import struct

        return [
            struct.unpack("f", struct.pack("f", rng.random() * 2.0 - 1.0))[0]
            for _ in range(dim)
        ]

    vecs: list = [_vec() for _ in range(n_vecs)]
    slots = rng.sample(range(10, n_vecs), 6)
    vecs[slots[0]] = None
    vecs[slots[1]] = []
    vecs[slots[2]] = [rng.randint(-64, 64) * _Q32 for _ in range(dim + 3)]
    vecs[slots[3]] = [0.0] * dim
    vecs[slots[4]] = list(vecs[rng.randrange(10)])  # duplicate of a query vec
    vecs[slots[5]] = _vec()
    vecs[slots[5]][rng.randrange(dim)] = None  # NULL component rider
    labels = [rng.randrange(3) for _ in range(n_vecs)]
    labels[rng.randrange(n_vecs)] = 9  # single-member label
    write(
        "embeddings",
        {
            "vec_id": list(range(n_vecs)),
            "embedding": [
                None
                if v is None
                else [None if x is None else float(x) for x in v]
                for v in vecs
            ],
            "label": labels,
        },
        pa.schema([
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
    )


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp(f"fuzz_sf_{SEED}"))
    _build_fuzz_fixture(d, SEED)
    return d


@pytest.fixture(scope="module")
def fuzz_duck(fuzz_dir):
    con = duck_views(fuzz_dir)
    yield con
    con.close()


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_fuzz_query_matches_oracle(name, spark, fuzz_dir, fuzz_duck):
    assert_matches_oracle(name, QUERIES[name](spark, fuzz_dir), fuzz_duck, ORACLES[name])


ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_fuzz_rows_only_queries_execute(name, spark, fuzz_dir):
    """Rows-only queries must survive the random corpus without a job
    abort and fully materialize (same contract as the degenerate
    smoke, under placement randomization)."""
    rows = QUERIES[name](spark, fuzz_dir).collect()
    assert isinstance(rows, list)
    assert len(rows) <= 2000, f"{name}: suspicious row count {len(rows)}"
    for r in rows[:50]:
        tuple(r)
