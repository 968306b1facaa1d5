"""Sketch-error audits (analytics/sketch_audit.py): the within-bound
contracts the oracle pair can only OBSERVE are PINNED here — on the
clean fixture every recorded estimate must actually sit inside its
published envelope, and the HLL mergeability claim (union-of-sketches
== sketch-of-union) is checked on the sketch BINARIES, which only this
side of the fence can see. Cross-engine value agreement of the audit
readouts lives in the three parity suites (the keys are oracle-paired).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from csv_crm_upload_spark.analytics import sketch_audit as sa


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_adrec1_within_bound_on_clean_fixture(spark, events, tmp_path):
    out = sa.adrec1_distinct_error_audit(
        events, str(tmp_path / "adrec1.parquet")
    ).collect()
    assert len(out) >= 3  # one row per event_type
    assert all(r["within_bound"] for r in out), out
    # the audit's exact side is really exact: recompute one group here
    first = out[0]
    exact = (
        events.filter(F.col("event_type") == first["event_type"])
        .select("user_id")
        .distinct()
        .count()
    )
    assert first["exact_users"] == exact


def test_pxrec1_within_bound_and_rank_semantics(spark, events, tmp_path):
    out = sa.pxrec1_percentile_rank_audit(
        events, str(tmp_path / "pxrec1.parquet")
    ).collect()
    assert {r["quantile"] for r in out} == {"p50", "p95", "p99"}
    assert all(r["within_bound"] for r in out), out
    # tie-interval invariants: 0 <= lo <= hi <= n, and the target rank
    # q*n must sit within eps*n + 1 of [lo, hi] (the published bound)
    for r in out:
        assert 0 <= r["lo_rank"] <= r["hi_rank"] <= r["n"]
        assert r["rank_err"] <= sa.PXREC1_EPS + 1.0 / r["n"] + 1e-12


def test_pxrec1_rank_interval_on_known_values(spark, tmp_path):
    # values 1..100 of one type: p50 must land on an element whose tie
    # interval contains rank 50 (+-1 slack); exact intervals checkable
    # by hand since every value is unique
    rows = [(i, "t", float(i)) for i in range(1, 101)]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = sa.pxrec1_percentile_rank_audit(ev, str(tmp_path / "px.parquet")).collect()
    by_q = {r["quantile"]: r for r in out}
    assert by_q["p50"]["n"] == 100
    # unique values: hi - lo == 1 always
    for r in out:
        assert r["hi_rank"] - r["lo_rank"] == 1
        assert r["within_bound"]


def test_hllrec1_within_bound_and_all_days_row(spark, events, tmp_path):
    out = sa.hllrec1_merge_error_audit(
        events, str(tmp_path / "hllrec1.parquet")
    ).collect()
    days = [r["day"] for r in out]
    assert "all_days" in days and len(days) > 1
    assert all(r["within_bound"] for r in out), out


def test_hll_union_of_sketches_is_sketch_of_union(spark, events):
    """The mergeability contract at the BINARY level: hll_union_agg over
    per-day sketches must equal the one-shot sketch of the full stream
    (HLL union merges registers losslessly), so incremental daily
    rollups serve any window exactly as a full rescan would."""
    daily = events.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est")
    ).first()["est"]
    oneshot = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long").alias("est")
    ).first()["est"]
    assert merged == oneshot


def test_mgrec1_within_bound_on_clean_fixture(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sa.mgrec1_heavy_hitter_audit(docs, str(tmp_path / "mg.parquet")).collect()
    assert len(out) > 0  # the fixture corpus has heavy tokens
    assert all(r["within_bound"] for r in out), out[:5]
    # MG lower bounds never overcount and the recount is really exact
    for r in out:
        assert 0 <= r["undercount"] <= r["n_total"] // sa.MGREC1_K


def test_mgrec1_whitespace_class_agrees_on_vertical_tab(spark, tmp_path):
    """The \\x0B fixture-rotation bomb (advice r11): Python re.ASCII \\s
    and Java \\s include vertical tab, DuckDB's RE2 \\s is [\\t\\n\\f\\r ] —
    so each engine's OWN \\s tokenizes 'a\\x0Bb' differently. The shared
    explicit class (textstats.MG_WS == sketch_audit.MGREC1_WS_SQL) must
    make all three surfaces produce the SAME token stream, pinned here
    on a corpus where \\x0B both separates tokens and leads/ends text:
    the audit's exact_n equals a DuckDB recount using MGREC1_WS_SQL,
    undercount is 0 (k=200 counters never evict on 4 distinct tokens),
    and n_total counts only non-empty fragments."""
    import duckdb

    from csv_crm_upload_spark.analytics.textstats import MG_WS

    assert MG_WS + "+" == sa.MGREC1_WS_SQL
    docs = spark.createDataFrame(
        [
            (1, "s", "alpha\x0Bbeta alpha"),
            (2, "s", "\x0Balpha\x0B\x0Bgamma\x0B"),  # leading/double/trailing VT
            (3, "s", "beta\tdelta\nalpha"),
            (4, "s", None),
        ],
        "doc_id long, source string, text string",
    )
    p = str(tmp_path / "mg_vt.parquet")
    out = {r["tok"]: r for r in sa.mgrec1_heavy_hitter_audit(docs, p).collect()}
    assert out, "4-token corpus must report heavy hitters at k=200"
    # one token stream on all surfaces: alpha x4, beta x2, gamma, delta
    expected = {"alpha": 4, "beta": 2, "gamma": 1, "delta": 1}
    n_total = sum(expected.values())
    for tok, r in out.items():
        assert r["exact_n"] == expected[tok], (tok, r)
        assert r["est_count"] == expected[tok]  # no eviction => exact
        assert r["undercount"] == 0 and r["within_bound"]
        assert r["n_total"] == n_total  # empty fragments never counted
    # the DuckDB side of the same class, on the same text
    con = duckdb.connect()
    duck = dict(
        con.execute(
            f"""
        SELECT tok, COUNT(*) FROM (
          SELECT unnest(string_split_regex(lower(text), '{sa.MGREC1_WS_SQL}')) AS tok
          FROM (VALUES ('alpha\x0Bbeta alpha'), (CHR(11) || 'alpha' || CHR(11)
                || CHR(11) || 'gamma' || CHR(11)), ('beta' || CHR(9) || 'delta'
                || CHR(10) || 'alpha')) t(text)
        ) WHERE tok <> '' GROUP BY tok
        """
        ).fetchall()
    )
    assert duck == expected


def test_empty_snapshot_stays_duckdb_readable(spark, tmp_path):
    """A degenerate corpus writes an EMPTY snapshot; the DuckDB oracle
    reads it via read_parquet('<path>/*.parquet'), which errors if the
    write produced no part files. Spark 4.1 emits a schema-only part
    for empty frames — pinned here so an engine upgrade that stops
    doing so surfaces as THIS failure, not a cryptic oracle error."""
    import glob

    import duckdb

    one_type = spark.createDataFrame(
        [(1, None, 5, "view", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    p = str(tmp_path / "hll2_one_type.parquet")
    assert sa.hll2_overlap_audit(one_type, p).count() == 0  # no pairs
    assert glob.glob(f"{p}/*.parquet"), "empty snapshot wrote no part files"
    assert duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{p}/*.parquet')"
    ).fetchall() == [(0,)]
