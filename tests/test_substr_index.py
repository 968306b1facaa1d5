"""Persisted ExactSubstr gram-count index (analytics/substr.py):
indexed probe ≡ inline operator, additive incremental ≡ rebuild, the
strict gram-format stamp and the empty-corpus build."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.dedup import xsd1_exact_substring_dedup
from csv_crm_upload_spark.analytics.substr import (
    load_substr_counts,
    save_substr_index,
    update_substr_index,
    xsd_indexed_dup_spans,
)
from csv_crm_upload_spark.sources.tables import load_table


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _counts(spark, path):
    return sorted(map(tuple, load_substr_counts(spark, path).collect()))


def test_indexed_probe_equals_inline_operator(spark, sf_dir, tmp_path):
    """Over the indexed corpus itself, the persisted-count probe must be
    value-identical to inline xsd1 (same tokenization, same windowing,
    same coverage_spans tail — the only difference is WHERE the counts
    come from)."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "substr")
    save_substr_index(docs, path)
    assert _rows(xsd_indexed_dup_spans(docs, path)) == _rows(
        xsd1_exact_substring_dedup(docs)
    )


def test_incremental_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Counts are additive: fold shards one at a time and the summed
    table — AND the duplicated-span readout — must equal a clean rebuild
    over the union. This includes the cross-epoch case: a gram whose two
    occurrences live in DIFFERENT epochs must read as duplicated."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 1)
    c = docs.filter(F.col("doc_id") % 3 == 2)

    inc = str(tmp_path / "inc")
    save_substr_index(a, inc)
    update_substr_index(b, inc)
    update_substr_index(c, inc)

    full = str(tmp_path / "full")
    save_substr_index(docs, full)

    assert _counts(spark, inc) == _counts(spark, full)
    assert _rows(xsd_indexed_dup_spans(docs, inc)) == _rows(
        xsd1_exact_substring_dedup(docs)
    )


def test_empty_corpus_build_yields_readable_empty_index(spark, tmp_path):
    """A corpus where NO document reaches min_len writes a data-file-less
    partitioned dir; the explicit read schema must make that a readable
    EMPTY index (probe yields nothing, later appends work) instead of a
    schema-inference abort on every subsequent read (review r7)."""
    short = spark.createDataFrame(
        [(1, "just three tokens", "en", "s", 17), (2, None, "en", "s", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    path = str(tmp_path / "substr_empty")
    save_substr_index(short, path)
    assert load_substr_counts(spark, path).count() == 0
    assert xsd_indexed_dup_spans(short, path).count() == 0
    # the empty index still accepts a real append
    long_doc = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(10, long_doc, "en", "s", len(long_doc)),
         (11, long_doc, "en", "s", len(long_doc))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    update_substr_index(docs, path)
    spans = xsd_indexed_dup_spans(docs, path).collect()
    assert {r["doc_id"] for r in spans} == {10, 11}


def test_gram_format_mismatch_fails_loudly(spark, tmp_path):
    """The r8 separator change (\\x01 -> ' ') changed every stored gram
    hash; the MANIFEST now carries gram_format and every probe and append
    must REFUSE a mismatched (or missing — pre-stamp vintage) format
    instead of silently matching zero grams or mixing hash spaces (r8
    advice)."""
    import json

    import pytest

    from csv_crm_upload_spark.analytics.substr import GRAM_FORMAT
    from csv_crm_upload_spark.operators.manifest import read_manifest

    long_doc = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, long_doc, "en", "s", len(long_doc)),
         (2, long_doc, "en", "s", len(long_doc))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    path = str(tmp_path / "substr_fmt")
    save_substr_index(docs, path)
    m = read_manifest(path)
    assert m["gram_format"] == GRAM_FORMAT  # stamped at build time

    # tamper: an index of a different (or unversioned) gram vintage
    for stale in ("x01-md560-v0", None):
        bad = dict(m)
        if stale is None:
            bad.pop("gram_format")
        else:
            bad["gram_format"] = stale
        with open(os.path.join(path, "MANIFEST"), "w") as f:
            json.dump(bad, f)
        with pytest.raises(ValueError, match="gram_format"):
            load_substr_counts(spark, path).collect()
        with pytest.raises(ValueError, match="gram_format"):
            xsd_indexed_dup_spans(docs, path)
        with pytest.raises(ValueError, match="gram_format"):
            update_substr_index(docs, path)

    # restore the true manifest: the index is usable again
    with open(os.path.join(path, "MANIFEST"), "w") as f:
        json.dump(m, f)
    assert xsd_indexed_dup_spans(docs, path).count() > 0
