from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small local runs: fast startup

from csv_crm_upload_spark.session import get_spark  # noqa: E402

#: Deep (opt-in) test files — round-13 verdict ask #1: the default suite
#: had grown past the driver's pytest budget (1,347 tests / ~72 min;
#: VERIFY_r12 recorded a TRUNCATED run), so the long integration /
#: soak / model-loop suites are marked `deep` here and excluded by
#: pytest.ini's addopts. The default suite keeps the full
#: oracle+degenerate parity core, every fast unit/contract file and
#: the store + upload service contract (test_store_upload.py), its
#: JDBC backend (test_jdbc_store.py) and the CLI that fronts both
#: services (test_cli.py) —
#: ≈15-25 min. Run everything with `-m "not sf01"`;
#: the close-out ledger must still show the full suite green.
#: Classification source: one full-suite `--durations=0` run
#: (2026-08-18); every file here cost ≥ ~0.8 min, together ~48 of the
#: 76 total minutes.
_DEEP_FILES = {
    "test_plan_quality.py",      # 14.2 min — builds all 283 plans
    "test_property_parity.py",   # 5.9 — seeded-fuzz oracle sweep
    "test_index_service.py",     # 5.6 — multi-index soak
    "test_training_ops.py",      # 3.0
    "test_ngramlm_model.py",     # 2.4
    "test_ivfpq.py",             # 2.1
    "test_index_compaction.py",  # 1.8
    "test_retrieval.py",         # 1.7
    "test_nb_model.py",          # 1.5
    "test_index_concurrency.py", # 1.1
    "test_key_format.py",        # 1.1
    "test_corpus_prep.py",       # 0.9
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if os.path.basename(str(item.fspath)) in _DEEP_FILES:
            item.add_marker(pytest.mark.deep)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


GOOD_CSV = """id,first_name,last_name,email,phone
1,jon,doe,jon.doe@mail.com,+1 212 555 1234
2,jane,doe,jane.doe@mail.com,840 586 9744
3,sam,smith,sam@ex.com,
"""

# Mirrors assets/MOCK_BAD_DATA.csv dispositions (FIXTURES.md §2): bad id,
# two clean rows, empty email, duplicate email of line 2 — no header.
BAD_CSV = """500l,Rosabel,Tuckie,rtuckie@x.com,111
5002,Constancy,Benjafield,cbenjafield1@icq.com,222
5003,Carmen,Diaz,cdiaz@x.com,333
5004,Valerye,Brandt,,+221 555
5005,Celka,Dupe,cbenjafield1@icq.com,444
"""


@pytest.fixture()
def good_csv(tmp_path):
    p = tmp_path / "good.csv"
    p.write_text(GOOD_CSV)
    return str(p)


@pytest.fixture()
def bad_csv(tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text(BAD_CSV)
    return str(p)
