"""``registry.driver_window()`` derives the 50-query driver window from the
committed records alone: rewritten oracles first, then oldest latest
adjudication, then registration order. These tests point the records
directory at synthetic records and the registry at synthetic queries."""

from __future__ import annotations

import json

import pytest

from sales_data_pipeline_gcp_spark.plans import registry
from sales_data_pipeline_gcp_spark.plans.registry import Query, oracle_hash


@pytest.fixture
def records(tmp_path, monkeypatch):
    """A synthetic records directory; returns a registry installer."""
    registry._load_all_modules()  # so no later import registers into the fake
    monkeypatch.setattr(registry, "_RECORDS_DIR", tmp_path)
    registry.driver_window.cache_clear()

    def install(names: list[str], rows_only: tuple[str, ...] = ()) -> None:
        fake = {
            n: Query(name=n, fn=None, oracle=None if n in rows_only else f"SELECT '{n}'")
            for n in names
        }
        monkeypatch.setattr(registry, "_REGISTRY", fake)

    yield install
    registry.driver_window.cache_clear()


def _write_round(root, rnd: int, names: list[str]) -> None:
    row = {"rows_match": True, "schema_match": True, "hash_match": True}
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps({n: row for n in names}))


def _write_hashes(root, hashes: dict[str, str]) -> None:
    (root / "ORACLE_HASHES.json").write_text(json.dumps(hashes))


def test_rewritten_oracles_first_then_oldest(records, tmp_path):
    names = ["q_e", "q_d", "q_c", "q_b", "q_a"]
    records(names)
    _write_round(tmp_path, 1, names)
    _write_round(tmp_path, 2, ["q_e", "q_d", "q_a"])
    _write_round(tmp_path, 3, ["q_c"])
    hashes = {n: oracle_hash(f"SELECT '{n}'") for n in names}
    hashes["q_c"] = "0" * 16  # q_c's oracle changed after its last snapshot
    _write_hashes(tmp_path, hashes)
    # q_c (rewritten, although adjudicated most recently), q_b (round 1),
    # then the round-2 tie in registration order
    assert registry.driver_window() == ("q_c", "q_b", "q_e", "q_d", "q_a")


def test_ties_follow_registration_order(records, tmp_path):
    names = ["q_z", "q_m", "q_a", "q_k"]
    records(names, rows_only=("q_m",))
    _write_round(tmp_path, 4, names)
    _write_hashes(tmp_path, {n: oracle_hash(f"SELECT '{n}'") for n in names if n != "q_m"})
    assert registry.driver_window() == tuple(names)


def test_no_records_gives_registration_order(records):
    names = [f"q_{i:03d}" for i in range(60, 0, -1)]
    records(names)
    assert registry.driver_window() == tuple(names[:50])


def test_unregistered_names_ignored(records, tmp_path):
    names = ["q_b", "q_a"]
    records(names)
    _write_round(tmp_path, 1, ["q_retired", "q_b", "q_a"])
    _write_round(tmp_path, 2, ["q_b"])
    _write_hashes(tmp_path, {"q_retired": "0" * 16, "q_a": "0" * 16, "q_b": oracle_hash("SELECT 'q_b'")})
    assert registry.driver_window() == ("q_a", "q_b")


@pytest.mark.parametrize("n", [1, 49, 50, 51, 120])
def test_window_holds_min_of_50_and_registry(records, tmp_path, n):
    names = [f"q_{i:03d}" for i in range(n)]
    records(names)
    _write_round(tmp_path, 1, names[::2])
    window = registry.driver_window()
    assert len(window) == len(set(window)) == min(registry.DRIVER_SLOTS, n) == min(50, n)
    assert set(window) <= set(names)


def test_committed_records_fill_the_window():
    window = registry.driver_window()
    assert len(window) == len(set(window)) == 50
    assert list(registry.all_queries())[:50] == list(window)
