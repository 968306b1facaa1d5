"""Process-scoped memo for expensive DETERMINISTIC artifacts — the one
memo in the package. Within one process (a parity sweep, the bench, a
long session) the self-contained ANN/PCA/kmeans queries and the MinHash
dedup family would otherwise re-run identical distributed fits and
signature derivations dozens of times. Every artifact memoized here is
bit-deterministic given its inputs (fixed init, fixed iteration count,
order-free decimal sums; MinHash is a pure function of the text), so a
hit returns EXACTLY what a re-run would compute — oracle semantics are
untouched.

Keying: (tag, params, sorted inputFiles, plan semantics, session). The
sameSemantics check is exact canonicalized-plan equality (no collision
risk). Plan equality alone cannot see files replaced under the SAME
path, so the inputFiles fingerprint rides the key: Spark part files
carry a per-write UUID, so rewritten data lists different files and
misses. An entry whose plan matches but whose files do not is stale and
is dropped (unpersisted) before the re-fit — otherwise Spark's cache
manager, which matches cached plans by path, would serve the old
corpus to the new persist. Entries are bound to the SparkSession that
built them; another session misses and drops them.

Values may be driver-side objects (numpy codebooks, collected rows) or
persisted DataFrames (MinHash signature tables, the PCA
sufficient-statistics pair) — eviction unpersists DataFrame values.
Storage is FIFO-bounded, with a tighter bound for corpus-scale values.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

#: At most this many fit artifacts live at once (FIFO eviction). Each
#: entry is tiny — a (n_cells, d) centroid matrix, an (m, k, d/m)
#: codebook tensor, d² covariance rows, two d²-bounded persisted
#: frames — so a dozen entries cover a full parity sweep's alternation
#: across corpora at negligible memory.
_FIT_MEMO_MAX = 12

#: Tags whose values are CORPUS-SCALE materializations (localCheckpointed
#: code tables and persisted signature tables — one row per corpus
#: vector or document), not tiny driver artifacts: letting those ride
#: the 12-deep FIFO would pin up to 12 corpus-scale tables in executor
#: storage, and a truncated localCheckpoint is irrecoverable on executor
#: loss, so each pinned entry has a larger blast radius too. They get
#: their own small FIFO — one slot per artifact family that alternates
#: within a bench/sweep — so cross-query reuse inside one run survives
#: while storage stays bounded.
_CORPUS_SCALE_TAGS = frozenset({"pq_codes", "ivfpq_codes", "ivf_cells", "minhash_sig"})
_CORPUS_SCALE_MAX = len(_CORPUS_SCALE_TAGS)

_FIT_MEMO: list[dict[str, Any]] = []

#: observability for the hit-rate pin (tests) and bench diagnostics
_STATS = {"hit": 0, "miss": 0}


def _files_key(df: DataFrame) -> tuple[str, ...]:
    try:
        return tuple(sorted(df.inputFiles()))
    except Exception:  # pragma: no cover - exotic relations without files
        return ()


def memo_fit(
    tag: str,
    df: DataFrame,
    params: tuple,
    fit: Callable[[], Any],
    validate: Callable[[Any], bool] | None = None,
) -> Any:
    """Return the memoized fit artifact for (tag, params, df) or compute
    it via `fit()` and remember it. `validate` (optional) re-checks a
    hit before serving it — e.g. "the artifact directory still exists"
    for memos that stand for side effects; a failing validate drops the
    entry and re-fits."""
    key_files = _files_key(df)
    for i, e in enumerate(_FIT_MEMO):
        if e["tag"] != tag or e["params"] != params:
            continue
        # a memoized value may hold persisted DataFrames or rows of a
        # stopped SparkSession — serving them (or even probing
        # sameSemantics against a dead session's plan) raises deep in
        # py4j, so another session misses and drops the entry
        if e["session"] is not df.sparkSession:
            _FIT_MEMO.pop(i)
            _unpersist_value(e["value"])
            break
        try:
            same = df.sameSemantics(e["df"])
        except Exception:
            _FIT_MEMO.pop(i)
            break
        if not same:
            continue
        # same plan over different files (data replaced at the same
        # path), or a failed validate: the entry is stale — drop and
        # unpersist it so the re-fit cannot be served the old cache
        if e["files"] != key_files or (validate is not None and not validate(e["value"])):
            _FIT_MEMO.pop(i)
            _unpersist_value(e["value"])
            break
        _STATS["hit"] += 1
        return e["value"]
    value = fit()
    _STATS["miss"] += 1
    _freeze_arrays(value)
    _FIT_MEMO.append(
        {
            "tag": tag,
            "params": params,
            "files": key_files,
            "df": df,
            "session": df.sparkSession,
            "value": value,
        }
    )
    while len(_FIT_MEMO) > _FIT_MEMO_MAX:
        _unpersist_value(_FIT_MEMO.pop(0)["value"])
    corpus_scale = [
        i for i, e in enumerate(_FIT_MEMO) if e["tag"] in _CORPUS_SCALE_TAGS
    ]
    while len(corpus_scale) > _CORPUS_SCALE_MAX:
        _unpersist_value(_FIT_MEMO.pop(corpus_scale.pop(0))["value"])
        corpus_scale = [i - 1 for i in corpus_scale]
    return value


def _freeze_arrays(value: Any) -> None:
    """Mark memoized numpy arrays read-only (advice r11): memo hits
    serve the SAME object to every caller (`a is b` is test-pinned), so
    an in-place mutation by any future caller would silently poison all
    later hits with no key change to catch it — freezing makes the
    mutation raise at the mutation site instead."""
    import numpy as np

    vals = value if isinstance(value, (tuple, list)) else (value,)
    for v in vals:
        if isinstance(v, np.ndarray):
            v.setflags(write=False)


def _unpersist_value(value: Any) -> None:
    vals = value if isinstance(value, (tuple, list)) else (value,)
    for v in vals:
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Exception:  # pragma: no cover - session already stopped
                pass


def clear_fit_memo() -> None:
    """Unpersist and drop every memoized artifact — fits, code tables and
    MinHash signature tables alike. Call when underlying tables mutate
    in place in ways the part-file fingerprint cannot see, or to return
    the session's cache to empty."""
    while _FIT_MEMO:
        _unpersist_value(_FIT_MEMO.pop(0)["value"])


def memo_stats() -> dict[str, int]:
    """{'hit': n, 'miss': n} since process start (or last reset)."""
    return dict(_STATS)


def reset_memo_stats() -> None:
    _STATS["hit"] = 0
    _STATS["miss"] = 0
