"""The query registry's scaffolding: the shared-table memo and the driver
order derived from the checked-in CORRECTNESS_rNN.json files."""

import json
from pathlib import Path

import pytest

pytest.importorskip("pyspark")

from py_pdf_parser_spark import queries as Q  # noqa: E402

REPO = Path(Q.__file__).resolve().parent.parent


def _registration_order():
    """Registry names in source order of their builders — the order the
    ``@q`` decorators ran in, independent of the registry's own list."""
    return sorted(Q.REGISTRY, key=lambda n: Q.REGISTRY[n][0].__code__.co_firstlineno)


def test_driver_round_keys_are_registry_names():
    assert Q._DRIVER_ROW_ROUND
    assert set(Q._DRIVER_ROW_ROUND) <= set(Q.REGISTRY)
    assert Q._RETOUCHED <= set(Q.REGISTRY)
    # the driver samples only the first 50 registry entries
    assert len(Q._RETOUCHED) <= 50


def test_green_r05_queries_map_to_round_5():
    rows = json.loads((REPO / "CORRECTNESS_r05.json").read_text())
    green = [
        name for name, r in rows.items()
        if r["rows_match"] and r["schema_match"] and r["hash_match"]
        and r["err"] is None
    ]
    assert green
    assert {n: Q._DRIVER_ROW_ROUND[n] for n in green} == dict.fromkeys(green, 5)


def test_registry_iterates_by_effective_round_then_registration():
    assert Q._REGISTERED == _registration_order()
    position = {name: i for i, name in enumerate(Q._REGISTERED)}

    def effective(name):
        return 0 if name in Q._RETOUCHED else Q._DRIVER_ROW_ROUND.get(name, 0)

    keys = [(effective(n), position[n]) for n in Q.REGISTRY]
    assert keys == sorted(keys)
    assert all(isinstance(v, tuple) and len(v) == 2 for v in Q.REGISTRY.values())


def test_retouched_queries_sort_at_round_zero(monkeypatch):
    latest = max(Q._REGISTERED, key=lambda n: Q._DRIVER_ROW_ROUND.get(n, 0))
    assert Q._DRIVER_ROW_ROUND[latest] > 0
    monkeypatch.setattr(Q, "_RETOUCHED", {latest})
    order = Q._driver_order(Q._DRIVER_ROW_ROUND)
    round_zero = [
        n for n in Q._REGISTERED if n == latest or n not in Q._DRIVER_ROW_ROUND
    ]
    assert order[: len(round_zero)] == round_zero


def test_latest_green_round_ignores_red_rows_and_unknown_names(tmp_path):
    a, b = Q._REGISTERED[:2]
    green = dict(rows_match=True, schema_match=True, hash_match=True,
                 err=None)
    rounds = {
        1: {a: green, b: green, "no_such_query": green},
        2: {a: dict(green, hash_match=False), b: green},
        3: {b: dict(green, err="boom")},
    }
    for n, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))
    assert Q._latest_green_rounds(tmp_path) == {a: 1, b: 2}


def test_no_correctness_files_gives_registration_order(tmp_path):
    rounds = Q._latest_green_rounds(tmp_path)
    assert rounds == {}
    assert Q._driver_order(rounds) == _registration_order()


@pytest.fixture(scope="module")
def spark():
    from py_pdf_parser_spark.session import get_spark

    return get_spark(cores=2)


def test_shared_table_is_memoized_until_clear_caches(spark):
    # Any sf-named dir selects the synthetic oracle corpus at that scale.
    first = Q._ora_docs(spark, "sf0.001")
    assert Q._ora_docs(spark, "sf0.001") is first
    assert first.is_cached
    Q.clear_caches()
    assert Q._TABLE_CACHE == {}
    assert not first.is_cached
