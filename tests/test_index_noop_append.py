"""The append no-op rule, fault-injected across every persisted artifact
that appends (the four CLI `--append` builds and the audit log): an
append that stages nothing must touch no directory and commit nothing.
Each case builds the artifact, plants an orphan `<sub>/epoch=<e+1>/`
dir holding a truncated part file (what a writer that crashed before
its manifest commit leaves behind), appends an EMPTY frame, and checks
that the manifest is unchanged and the orphan survives — deleting it
could destroy a concurrent writer's in-flight epoch. A real append
afterwards must remove the orphan before it reads the stored tree and
commit epoch e+1."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest
from pyspark.sql import functions as F

import csv_crm_upload_spark
from csv_crm_upload_spark.analytics import auditlog, bpe, nbayes, substr, winnow
from csv_crm_upload_spark.operators.manifest import read_manifest
from csv_crm_upload_spark.sources.tables import load_table

# kind -> (layout, input table, key column, save(frame, path),
#          appender, extra appender args after (frame, path))
CASES = {
    "nb_model": (
        nbayes.LAYOUT,
        "documents",
        "doc_id",
        lambda df, p: nbayes.save_nb_model(df, p, n_buckets=4),
        nbayes.update_nb_model,
        (),
    ),
    "winnow_index": (
        winnow.LAYOUT,
        "documents",
        "doc_id",
        lambda df, p: winnow.save_winnow_index(df, p, n_buckets=4),
        winnow.update_winnow_index,
        (),
    ),
    "bpe_model": (
        bpe.LAYOUT,
        "documents",
        "doc_id",
        lambda df, p: bpe.save_bpe_model(df, p, steps=2),
        bpe.update_bpe_model,
        (),
    ),
    "substr_index": (
        substr.LAYOUT,
        "documents",
        "doc_id",
        lambda df, p: substr.save_substr_index(df, p, min_len=4, n_buckets=4),
        substr.update_substr_index,
        (),
    ),
    # the log starts empty: its build takes no corpus
    "audit_log": (
        auditlog.LAYOUT,
        "events",
        "event_id",
        lambda df, p: auditlog.save_audit_log(df.sparkSession, p),
        auditlog.append_batch_audit,
        ("noop",),
    ),
}


def _package_appenders() -> set[str]:
    """`module.function` of every package function that calls
    manifest.append."""
    root = pathlib.Path(csv_crm_upload_spark.__file__).parent
    found = set()
    for src in root.rglob("*.py"):
        for fn in ast.walk(ast.parse(src.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "append"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "manifest"
                ):
                    found.add(f"{src.stem}.{fn.name}")
    return found


def test_every_registered_artifact_is_covered():
    """A new appender must join the no-op contract: every package
    function that calls manifest.append has a CASES row."""
    covered = {
        f"{c[4].__module__.rsplit('.', 1)[1]}.{c[4].__name__}" for c in CASES.values()
    }
    assert _package_appenders() == covered


def _epoch_dirs(path: str, sub: str) -> list[str]:
    return sorted(d for d in os.listdir(os.path.join(path, sub)) if d.startswith("epoch="))


@pytest.mark.parametrize("kind", sorted(CASES))
def test_empty_append_touches_nothing(kind, spark, sf_dir, tmp_path):
    layout, table, key, save, appender, args = CASES[kind]
    frame = load_table(spark, sf_dir, table)
    path = str(tmp_path / kind)
    save(frame.filter(F.col(key) % 2 == 0), path)

    # the layout declaration is the whole on-disk shape
    appended = [*layout.ranged, *layout.snapshots]
    assert sorted(os.listdir(path)) == sorted(["MANIFEST", *appended, *layout.pinned])
    before = read_manifest(path)
    e = before["epoch"]
    for sub in appended:
        assert _epoch_dirs(path, sub) == [f"epoch={e}"], sub
        orphan = os.path.join(path, sub, f"epoch={e + 1}")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "part-00000-orphan.parquet"), "w") as f:
            f.write("truncated")

    appender(frame.limit(0), path, *args)
    assert read_manifest(path) == before
    for sub in appended:
        assert os.path.exists(
            os.path.join(path, sub, f"epoch={e + 1}", "part-00000-orphan.parquet")
        ), f"{kind}: a no-op append deleted {sub}/epoch={e + 1}"

    appender(frame.filter(F.col(key) % 2 == 1), path, *args)
    assert read_manifest(path)["epoch"] == e + 1
    for sub in appended:
        assert not os.path.exists(
            os.path.join(path, sub, f"epoch={e + 1}", "part-00000-orphan.parquet")
        ), f"{kind}: the orphan in {sub} survived a real append"
        assert _epoch_dirs(path, sub) == [f"epoch={e}", f"epoch={e + 1}"], sub
