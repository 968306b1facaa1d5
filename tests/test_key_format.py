"""Derived-key format stamps (manifest.check_key_format — the substr
gram_format lesson of r8 advice, generalized in r9): every persisted
artifact whose stored keys are hashes/strings of DERIVED text (grams,
tokens, shingles) stamps its KEY_FORMAT into the MANIFEST at build
time, and every probe and append REFUSES a mismatched index instead of
silently matching nothing or mixing key spaces. A MISSING stamp is
accepted for the three artifacts here, whose derivation never changed
— a pre-stamp manifest there is a known-compatible v1 vintage (r9
advice) — and backfilled by the next append where one exists
(winnow). The substr index — whose grams DID change in r8 — stays
strict on missing; covered in test_substr_index.py. This file pins the
other three text-keyed artifacts under one parametrized contract."""

from __future__ import annotations

import json
import os

import pytest

from csv_crm_upload_spark.analytics import dedup as dd
from csv_crm_upload_spark.analytics import retrieval as rtr
from csv_crm_upload_spark.analytics import winnow as wn
from csv_crm_upload_spark.operators.manifest import read_manifest


def _docs(spark):
    text_a = " ".join(f"tok{i}" for i in range(12))
    text_b = " ".join(f"tok{i}" for i in range(6, 18))
    return spark.createDataFrame(
        [(1, text_a, "en", "s", len(text_a)),
         (2, text_a, "en", "s", len(text_a)),
         (3, text_b, "en", "t", len(text_b))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


def _new_docs(spark):
    t = " ".join(f"tok{i}" for i in range(3, 15))
    return spark.createDataFrame(
        [(9, t, "en", "s", len(t))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


ARTIFACTS = {
    # name -> (expected format, build, probes, append or None)
    "winnow": (
        wn.KEY_FORMAT,
        lambda docs, p: wn.save_winnow_index(docs, p),
        [
            lambda spark, docs, p: wn.load_winnow_prints(spark, p).collect(),
            lambda spark, docs, p: wn.match_documents(spark, p, docs).collect(),
        ],
        lambda spark, docs, p: wn.update_winnow_index(docs, p),
    ),
    "textindex": (
        rtr.KEY_FORMAT,
        lambda docs, p: rtr.save_text_index(docs, p),
        [
            lambda spark, docs, p: rtr.bm25_search_indexed(
                spark, p, queries={0: ["tok1"]}
            ).collect(),
            lambda spark, docs, p: rtr.tfidf_indexed_top_terms(spark, p).collect(),
        ],
        None,
    ),
    "dedup_pairs": (
        dd.DEDUP_KEY_FORMAT,
        lambda docs, p: dd.save_dedup_index(docs, p),
        [
            lambda spark, docs, p: dd.load_dedup_index(spark, p).collect(),
        ],
        None,
    ),
}


@pytest.mark.parametrize("name", sorted(ARTIFACTS))
def test_key_format_stamped_and_enforced(name, spark, tmp_path):
    expected, build, probes, append = ARTIFACTS[name]
    path = str(tmp_path / name)
    docs = _docs(spark)
    build(docs, path)
    m = read_manifest(path)
    assert m["key_format"] == expected  # stamped at build time

    # tamper: a DIFFERENT key vintage must fail LOUDLY everywhere
    bad = {**m, "key_format": "some-older-format-v0"}
    with open(os.path.join(path, "MANIFEST"), "w") as f:
        json.dump(bad, f)
    for probe in probes:
        with pytest.raises(ValueError, match="key_format"):
            probe(spark, docs, path)
    if append is not None:
        with pytest.raises(ValueError, match="key_format"):
            append(spark, _new_docs(spark), path)

    # restore: the artifact is usable again
    with open(os.path.join(path, "MANIFEST"), "w") as f:
        json.dump(m, f)
    for probe in probes:
        probe(spark, docs, path)
    if append is not None:
        append(spark, _new_docs(spark), path)


@pytest.mark.parametrize("name", sorted(ARTIFACTS))
def test_missing_stamp_accepted_and_backfilled(name, spark, tmp_path):
    """These three artifacts' key derivation has NEVER changed, so a
    pre-stamp manifest (no key_format field) is a known-compatible v1
    vintage: probes must keep working (r9 advice — the stamp must not
    brick older-but-identical indexes), and where an append exists its
    manifest commit must BACKFILL the stamp. Substr — whose derivation
    DID change in r8 — stays strict; pinned in test_substr_index.py."""
    expected, build, probes, append = ARTIFACTS[name]
    path = str(tmp_path / name)
    docs = _docs(spark)
    build(docs, path)
    m = read_manifest(path)

    pre_stamp = {k: v for k, v in m.items() if k != "key_format"}
    with open(os.path.join(path, "MANIFEST"), "w") as f:
        json.dump(pre_stamp, f)
    for probe in probes:
        probe(spark, docs, path)  # accepted, no rebuild forced
    if append is not None:
        append(spark, _new_docs(spark), path)
        assert read_manifest(path)["key_format"] == expected  # backfilled
