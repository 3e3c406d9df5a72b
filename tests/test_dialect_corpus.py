"""Translation corpus: every recorded ``translate_mysql`` /
``parse_statement`` input must still give byte-identical output.

``tests/data/dialect_corpus.jsonl.gz`` holds one JSON object per line:
``f`` (``t`` = translate_mysql, ``p`` = parse_statement), ``sql``, the
keyword arguments ``kw``, and ``d`` — the sha256 of the output's
``repr`` or, when the call raised, of ``"<ErrorClass>: <message>"``.
The inputs are every call a full tier-1 run made plus the MySQL text
constants of the TPC-H, reference-perf and dialect plan modules.  No
Spark is needed; a rewrite refactor that changes any translation shows
up here as a digest mismatch.

Re-record (runs pytest with both functions wrapped to collect their
inputs, then rewrites the corpus from the current code; do it only when
a translation change is intended):

    python tests/test_dialect_corpus.py record tests/ -q -p no:cacheprovider

(this module itself is left out of the recording run).
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from infinidb_spark import dialect  # noqa: E402

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "dialect_corpus.jsonl.gz")
_FUNCS = {"t": "translate_mysql", "p": "parse_statement"}
_PLAN_MODULES = ("dialect", "tpch", "ref_perf")


def _digest(fn, sql: str, kw: dict) -> str:
    try:
        out = repr(fn(sql, **kw))
    except Exception as e:  # noqa: BLE001 — the error IS the recorded output
        out = f"{type(e).__name__}: {e}"
    return hashlib.sha256(out.encode()).hexdigest()


def _load() -> list[dict]:
    with gzip.open(CORPUS, "rt", encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def test_corpus_byte_identical():
    rows = _load()
    assert len(rows) > 900
    bad = [
        (r["f"], r["sql"][:120], r["kw"])
        for r in rows
        if _digest(getattr(dialect, _FUNCS[r["f"]]), r["sql"], r["kw"]) != r["d"]
    ]
    assert not bad, f"{len(bad)} of {len(rows)} translations changed: {bad[:5]}"


def test_nested_calls_rewritten_once(monkeypatch):
    """A call without a special case is rewritten in place, once: the
    number of ``_rewrite`` invocations grows at most linearly with the
    nesting depth (each level used to be rewritten eagerly and then
    again in place, doubling the work per level)."""
    inner = dialect._rewrite
    calls = 0

    def counted(toks):
        nonlocal calls
        calls += 1
        if calls > 1000:
            raise RecursionError("_rewrite call budget exceeded")
        return inner(toks)

    monkeypatch.setattr(dialect, "_rewrite", counted)
    counts = {}
    for depth in (5, 25):
        calls = 0
        sql = "SELECT " + "abs(" * depth + "x" + ")" * depth + " FROM t"
        assert dialect.translate_mysql(sql) == sql
        counts[depth] = calls
    assert counts[25] <= 5 * counts[5]


# ------------------------------------------------------------ recording


def _plan_texts() -> set[str]:
    """Module-level MySQL text constants of the plan modules."""
    import importlib

    texts = set()
    for name in _PLAN_MODULES:
        mod = importlib.import_module(f"infinidb_spark.plans.{name}")
        for attr, val in vars(mod).items():
            if (re.fullmatch(r"_?[A-Z][A-Z0-9_]*", attr) and isinstance(val, str)
                    and re.search(r"\bselect\b", val, re.I)):
                texts.add(val)
    return texts


def record(pytest_args: list[str]) -> int:
    """Run pytest with ``translate_mysql``/``parse_statement`` wrapped to
    collect their inputs, add the plan-module texts, and write the
    corpus with the current code's digests."""
    import pytest

    seen: set[tuple[str, str, str]] = set()
    originals = {f: getattr(dialect, name) for f, name in _FUNCS.items()}

    def wrap(f):
        def recorded(sql, **kw):
            if isinstance(sql, str):
                seen.add((f, sql, json.dumps(kw, sort_keys=True)))
            return originals[f](sql, **kw)

        return recorded

    for f, name in _FUNCS.items():
        setattr(dialect, name, wrap(f))
    try:
        rc = pytest.main([*pytest_args, f"--ignore={os.path.abspath(__file__)}"])
    finally:
        for f, name in _FUNCS.items():
            setattr(dialect, name, originals[f])
    seen |= {("t", sql, "{}") for sql in _plan_texts()}
    os.makedirs(os.path.dirname(CORPUS), exist_ok=True)
    with gzip.open(CORPUS, "wt", encoding="utf-8") as out:
        for f, sql, kw in sorted(seen):
            kwd = json.loads(kw)
            out.write(json.dumps({"f": f, "sql": sql, "kw": kwd,
                                  "d": _digest(originals[f], sql, kwd)}) + "\n")
    print(f"recorded {len(seen)} calls to {CORPUS} (pytest exit {rc})")
    return int(rc)


if __name__ == "__main__":
    if sys.argv[1:2] != ["record"]:
        sys.exit(__doc__)
    sys.exit(record(sys.argv[2:]))
