"""CLI surface tests — both store backends behind the same subcommands
(reference conn-string plumbing, X5)."""

from __future__ import annotations

from csv_crm_upload_spark.cli import main


def _write_csv(tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text("1,jon,doe,jon@x.com,1\n2,jane,doe,jane@x.com,2\n")
    return str(csv)


def test_cli_ingest_pending_parquet(spark, tmp_path, capsys):
    csv = _write_csv(tmp_path)
    assert main(["ingest", "--csv", csv, "--store", str(tmp_path / "s"), "--noheader"]) == 0
    assert "inserted=2" in capsys.readouterr().out
    assert main(["pending", "--store", str(tmp_path / "s")]) == 0
    assert "pending=2" in capsys.readouterr().out


def test_cli_ingest_pending_jdbc(spark, tmp_path, capsys):
    csv = _write_csv(tmp_path)
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    assert main(["ingest", "--csv", csv, "--jdbc-url", url, "--noheader"]) == 0
    assert "inserted=2" in capsys.readouterr().out
    # re-ingest: both unique keys collide, nothing inserted
    assert main(["ingest", "--csv", csv, "--jdbc-url", url, "--noheader"]) == 0
    assert "inserted=0" in capsys.readouterr().out


def test_cli_serve_rejects_maintenance_flags_on_jdbc(spark, tmp_path):
    """--auto-compact / --vacuum-keep need the versioned parquet store;
    on the JDBC store serve refuses them instead of ignoring them."""
    import pytest

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    for flag in ("--auto-compact", "--vacuum-keep"):
        with pytest.raises(SystemExit, match=f"{flag} requires the versioned parquet store"):
            main(["serve", "--jdbc-url", url, "--cycles", "1", flag, "2"])


def test_cli_merge_upserts(spark, tmp_path, capsys):
    csv = _write_csv(tmp_path)
    store_dir = str(tmp_path / "s")
    assert main(["ingest", "--csv", csv, "--store", store_dir, "--noheader"]) == 0
    capsys.readouterr()
    upsert = tmp_path / "up.csv"
    upsert.write_text("1,jonathan,doe,jon@x.com,11\n3,ann,lee,ann@x.com,3\n")
    assert main(["merge", "--csv", str(upsert), "--store", store_dir, "--noheader"]) == 0
    assert "updated=1 inserted=1 skipped=0" in capsys.readouterr().out


def test_cli_requires_some_store(spark, tmp_path, monkeypatch):
    import pytest

    monkeypatch.delenv("DATABASE_URL", raising=False)
    with pytest.raises(SystemExit):
        main(["pending"])


def test_cli_index_and_search(spark, tmp_path, capsys, sf_dir):
    docs = f"{sf_dir}/documents.parquet"
    idx = str(tmp_path / "idx")
    assert main(["index", "--docs", docs, "--out", idx, "--buckets", "16"]) == 0
    assert f"indexed={idx}" in capsys.readouterr().out

    assert main(["search", "--terms", "spark join window", "--index", idx, "-k", "3"]) == 0
    indexed_out = capsys.readouterr().out.strip().splitlines()
    assert len(indexed_out) == 3 and indexed_out[0].startswith("1\t")

    assert main(["search", "--terms", "spark join window", "--docs", docs, "-k", "3"]) == 0
    inline_out = capsys.readouterr().out.strip().splitlines()
    assert indexed_out == inline_out, "indexed and inline CLI search must agree"


def test_cli_prep_writes_manifest(spark, tmp_path, capsys, sf_dir):
    docs = f"{sf_dir}/documents.parquet"
    out = str(tmp_path / "manifest")
    assert main(["prep", "--docs", docs, "--out", out]) == 0
    printed = capsys.readouterr().out
    assert f"manifest={out}" in printed and "train" in printed
    got = spark.read.parquet(out)
    assert set(got.columns) == {
        "doc_id", "split", "source", "quality_score",
        "n_tokens", "stream_offset", "bin_id",
    }
    assert got.count() > 0

    # index-fed run agrees with inline
    from csv_crm_upload_spark.analytics.dedup import save_dedup_index

    idx = str(tmp_path / "pidx")
    save_dedup_index(spark.read.parquet(docs), idx)
    out2 = str(tmp_path / "manifest2")
    assert main(["prep", "--docs", docs, "--out", out2, "--pairs-index", idx]) == 0
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_cli_prep_materialize_writes_corpus(spark, tmp_path, capsys, sf_dir):
    """--materialize lands the trainer-readable artifact: manifest under
    <out>/manifest plus packed rows WITH text partitioned by (split,
    source); manifest rows agree with the manifest-only run."""
    import os

    docs = f"{sf_dir}/documents.parquet"
    out = str(tmp_path / "artifact")
    assert main(["prep", "--docs", docs, "--out", out, "--materialize"]) == 0
    printed = capsys.readouterr().out
    assert "corpus=written" in printed
    splits = {d for d in os.listdir(f"{out}/corpus") if d.startswith("split=")}
    assert splits == {"split=train", "split=val", "split=test"}
    corpus = spark.read.parquet(f"{out}/corpus")
    manifest = spark.read.parquet(f"{out}/manifest")
    assert corpus.count() == manifest.count() > 0
    assert "text" in corpus.columns


def test_cli_nb_train_append_classify(spark, tmp_path, capsys, sf_dir):
    """nb-train builds the model, --append folds a second shard (epoch
    advances), nb-classify prints predictions against it."""
    import os

    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half_a = str(tmp_path / "docs_a.parquet")
    half_b = str(tmp_path / "docs_b.parquet")
    docs.filter("doc_id % 2 = 0").write.parquet(half_a)
    docs.filter("doc_id % 2 = 1").write.parquet(half_b)
    model = str(tmp_path / "nb_model")

    assert main(["nb-train", "--docs", half_a, "--out", model, "--buckets", "8"]) == 0
    e0 = read_manifest(model)["epoch"]
    assert main(["nb-train", "--docs", half_b, "--out", model, "--append"]) == 0
    assert read_manifest(model)["epoch"] == e0 + 1

    assert main(["nb-classify", "--docs", half_b, "--model", model, "--limit", "5"]) == 0
    printed = [l for l in capsys.readouterr().out.splitlines() if "\t" in l]
    assert len(printed) == 5
    assert all(len(l.split("\t")) == 3 for l in printed)


def test_cli_bpe_train_append_apply(spark, tmp_path, capsys, sf_dir):
    """bpe-train builds the tokenizer, --append folds a second shard
    (epoch advances), bpe-apply prints segmentation stats against it."""
    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half_a = str(tmp_path / "docs_a.parquet")
    half_b = str(tmp_path / "docs_b.parquet")
    docs.filter("doc_id % 2 = 0").write.parquet(half_a)
    docs.filter("doc_id % 2 = 1").write.parquet(half_b)
    model = str(tmp_path / "bpe_model")

    assert main(["bpe-train", "--docs", half_a, "--out", model, "--steps", "2"]) == 0
    e0 = read_manifest(model)["epoch"]
    assert main(["bpe-train", "--docs", half_b, "--out", model, "--append"]) == 0
    assert read_manifest(model)["epoch"] == e0 + 1

    assert main(["bpe-apply", "--docs", half_b, "--model", model, "--limit", "5"]) == 0
    printed = [l for l in capsys.readouterr().out.splitlines() if "\t" in l]
    assert len(printed) == 5
    assert all(len(l.split("\t")) == 4 for l in printed)


def test_cli_export_roundtrip(spark, tmp_path, capsys):
    """ingest a CSV, export as ORC and CSV, read both back — the
    egress half of the source/sink matrix (same rows, any format)."""
    csv_src = tmp_path / "in.csv"
    csv_src.write_text(
        "id,first_name,last_name,email,phone\n"
        "1,jon,doe,jon@x.com,111\n2,jane,roe,jane@x.com,222\n"
    )
    store = str(tmp_path / "store")
    assert main(["ingest", "--csv", str(csv_src), "--store", store]) == 0

    orc_out = str(tmp_path / "out_orc")
    assert main(["export", "--store", store, "--out", orc_out, "--format", "orc"]) == 0
    assert "exported=" in capsys.readouterr().out
    back = spark.read.orc(orc_out)
    assert sorted(r["id"] for r in back.collect()) == [1, 2]
    assert "uploaded" in back.columns

    csv_out = str(tmp_path / "out_csv")
    assert main(["export", "--store", store, "--out", csv_out]) == 0
    back_csv = spark.read.option("header", "true").csv(csv_out)
    assert sorted(r["email"] for r in back_csv.collect()) == ["jane@x.com", "jon@x.com"]


def test_cli_winnow_build_append_match(spark, tmp_path, capsys, sf_dir):
    """winnow-build builds the fingerprint index, --append folds a second
    shard (epoch advances), winnow-match ranks indexed docs for a probe."""
    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half_a = str(tmp_path / "docs_a.parquet")
    half_b = str(tmp_path / "docs_b.parquet")
    docs.filter("doc_id % 2 = 0").write.parquet(half_a)
    docs.filter("doc_id % 2 = 1").write.parquet(half_b)
    idx = str(tmp_path / "wn_idx")

    assert main(["winnow-build", "--docs", half_a, "--out", idx]) == 0
    e0 = read_manifest(idx)["epoch"]
    assert main(["winnow-build", "--docs", half_b, "--out", idx, "--append"]) == 0
    assert read_manifest(idx)["epoch"] == e0 + 1

    # probe with the half_b shard itself: every doc's own prints are in
    # the index under other ids only if shared — just check the command
    # runs and prints well-formed rows
    assert main(["winnow-match", "--docs", half_b, "--index", idx, "--limit", "5"]) == 0
    printed = [l for l in capsys.readouterr().out.splitlines() if "\t" in l]
    assert printed and all(len(l.split("\t")) == 3 for l in printed)


def test_cli_substr_build_append_spans(spark, tmp_path, capsys, sf_dir):
    """substr-build builds the gram-count index, --append folds a second
    shard (epoch advances), substr-spans prints the duplicated-span
    report for a probe — equal to inline xsd1 over the full corpus."""
    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half_a = str(tmp_path / "docs_a.parquet")
    half_b = str(tmp_path / "docs_b.parquet")
    docs.filter("doc_id % 2 = 0").write.parquet(half_a)
    docs.filter("doc_id % 2 = 1").write.parquet(half_b)
    idx = str(tmp_path / "sx_idx")

    assert main(["substr-build", "--docs", half_a, "--out", idx]) == 0
    e0 = read_manifest(idx)["epoch"]
    assert main(["substr-build", "--docs", half_b, "--out", idx, "--append"]) == 0
    assert read_manifest(idx)["epoch"] == e0 + 1

    assert main(["substr-spans", "--docs", half_b, "--index", idx, "--limit", "5"]) == 0
    printed = [l for l in capsys.readouterr().out.splitlines() if "\t" in l]
    assert printed and all(len(l.split("\t")) == 4 for l in printed)
