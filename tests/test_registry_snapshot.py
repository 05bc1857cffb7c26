"""Snapshot of the query registry: the ordered ``queries()`` keys and the
sha256 of every ``oracle_sql()`` string.

A refactor of how queries are registered must leave both unchanged: the
correctness gate checks the first 50 keys in registration order, and an
oracle string that changes by one byte is a different contract. The oracles
that inline centroids or codebooks re-derived from the embeddings
parquet are hashed over a fixed synthetic matrix instead, so the
snapshot pins the code, not the test data.

After a deliberate registry change, rewrite the fixture with

    python tests/test_registry_snapshot.py
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from project_cortex_spark import oracle  # noqa: E402

FIXTURE = os.path.join(ROOT, "tests", "data", "registry_snapshot.json")


def _fixed_embeddings(sf_dir=None):
    return np.random.default_rng(11).standard_normal((500, 64))


def _snapshot() -> dict:
    real = oracle._load_embeddings_ordered
    oracle._load_embeddings_ordered = _fixed_embeddings
    try:
        oracles = entry.oracle_sql()
    finally:
        oracle._load_embeddings_ordered = real
    return {
        "keys": list(entry.queries()),
        "oracle_sha256": {
            name: hashlib.sha256(sql.encode()).hexdigest()
            for name, sql in sorted(oracles.items())
        },
    }


def _fixture() -> dict:
    with open(FIXTURE) as f:
        return json.load(f)


def test_registered_keys_and_order_are_unchanged():
    assert list(entry.queries()) == _fixture()["keys"]


def test_oracle_strings_are_byte_identical():
    want = _fixture()["oracle_sha256"]
    got = _snapshot()["oracle_sha256"]
    assert sorted(got) == sorted(want)
    changed = sorted(k for k in want if got[k] != want[k])
    assert not changed, f"oracle strings changed: {changed}"



def test_each_query_is_registered_once():
    names = [q.name for q in entry._QUERIES]
    assert len(names) == len(set(names))


def test_selection_lists_name_registered_queries():
    """bench.py and scripts/gen_plans.py select queries by name; a typo
    there would otherwise surface only as a KeyError when they run."""
    import bench

    spec = importlib.util.spec_from_file_location(
        "gen_plans", os.path.join(ROOT, "scripts", "gen_plans.py")
    )
    gen_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_plans)

    names = set(entry.queries())
    for label, picks in (
        ("bench.HEADLINE", bench.HEADLINE),
        ("bench.EXTENDED", bench.EXTENDED),
        ("gen_plans.PICKS", gen_plans.PICKS),
    ):
        assert set(picks) <= names, (label, sorted(set(picks) - names))


def test_failed_trainer_replay_drops_only_its_own_keys(monkeypatch, capsys):
    """When the embeddings parquet cannot be read, every oracle that
    replays a trainer from it is dropped, by name on stderr; the other
    oracles are still built."""

    def unreadable(sf_dir=None):
        raise OSError("embeddings parquet unreadable")

    monkeypatch.setattr(oracle, "_load_embeddings_ordered", unreadable)
    got = entry.oracle_sql()
    replayed = {q.name for q in entry._QUERIES if isinstance(q.oracle, entry._Replayed)}
    with_oracle = {q.name for q in entry._QUERIES if q.oracle is not None}
    assert replayed and set(got) == with_oracle - replayed
    err = capsys.readouterr().err
    assert all(f"dropped {name}:" in err for name in replayed)


if __name__ == "__main__":
    with open(FIXTURE, "w") as f:
        json.dump(_snapshot(), f, indent=1)
        f.write("\n")
