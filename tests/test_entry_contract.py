"""Driver-contract invariants for __spark_entry__: every query has an
oracle or a documented rows-only status, oracle column aliasing is
consistent, and the coverage rotation (which decides what the driver's
truncated gate sees each round) behaves as documented."""

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as ent  # noqa: E402


def test_rotation_puts_ungated_queries_first(tmp_path, monkeypatch):
    """The driver gates only the first N dict entries; queries NEVER
    gated in any round must sort first (they'd otherwise starve behind
    last-round leftovers), then stale-covered ones, then the latest
    run's set — registry order preserved within each tier."""
    (tmp_path / "CORRECTNESS_r1.json").write_text(json.dumps({"b": {}}))
    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({"a": {}, "c": {}})
    )
    monkeypatch.setattr(ent, "_REPO_DIR", str(tmp_path))
    # d never gated -> first; b gated only in r1 -> stale tier; a,c latest
    assert ent._coverage_rotation(["a", "b", "c", "d"]) == ["d", "b", "a", "c"]
    # r10 sorts numerically after r2 (not lexicographically).
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"d": {}}))
    assert ent._coverage_rotation(["a", "b", "c", "d"]) == ["a", "b", "c", "d"]


def test_rotation_without_history_is_identity(tmp_path, monkeypatch):
    monkeypatch.setattr(ent, "_REPO_DIR", str(tmp_path))
    assert ent._coverage_rotation(["x", "y"]) == ["x", "y"]


def test_rotation_survives_corrupt_file(tmp_path, monkeypatch):
    (tmp_path / "CORRECTNESS_r1.json").write_text("{not json")
    monkeypatch.setattr(ent, "_REPO_DIR", str(tmp_path))
    assert ent._coverage_rotation(["x", "y"]) == ["x", "y"]


def test_every_query_name_is_rotated_not_dropped():
    """Rotation must be a permutation — a dropped name would silently
    remove a query from the driver gate forever."""
    from node_gedcom_graph_spark.operators import all_queries

    names = list(all_queries())
    assert sorted(ent.queries().keys()) == sorted(names)


def test_oracles_reference_registered_queries_only():
    from node_gedcom_graph_spark.operators import all_oracles, all_queries

    q, o = set(all_queries()), set(all_oracles())
    assert o <= q, f"orphan oracles: {o - q}"


def test_rotation_fronts_longest_starving_queries():
    """With more never-gated queries than gate slots, the round-2
    registry members that were never gated (they register LAST, after
    the operator modules) must lead the rotation — otherwise they'd be
    crowded out a third consecutive round."""
    import glob
    import json
    import os

    import __spark_entry__ as ent

    names = list(ent.queries())
    ever = set()
    for p in sorted(glob.glob(os.path.join(os.path.dirname(ent.__file__), "CORRECTNESS_r*.json"))):
        ever |= set(json.load(open(p)))
    senior = set(
        json.load(
            open(
                os.path.join(
                    os.path.dirname(ent.__file__), "tools", "registry_r2.json"
                )
            )
        )["queries"]
    )
    starving = [n for n in names if n not in ever and n in senior]
    # every starving senior query appears before every other
    # never-gated query
    first_other = min(
        (
            names.index(n)
            for n in names
            if n not in ever and n not in senior
        ),
        default=len(names),
    )
    for n in starving:
        assert names.index(n) < first_other, n


def test_every_query_declares_a_vacuity_floor():
    """Round-6 verdict item 1: the registry must carry a per-query
    expected-row floor so the gate can reject agree-on-empty results
    (the decontaminate_ngram_overlap lesson — vacuously green for five
    rounds). Every registered query has a floor; every 0 floor has a
    non-trivial stated reason."""
    from node_gedcom_graph_spark.operators import (
        all_empty_reasons,
        all_min_rows,
        all_queries,
    )

    names = set(all_queries())
    floors = all_min_rows()
    reasons = all_empty_reasons()
    assert set(floors) == names, (
        f"floor coverage != registry: missing={names - set(floors)}"
    )
    zero = {n for n, f in floors.items() if f == 0}
    assert zero == set(reasons), (
        f"0-floor queries without a reason: {zero - set(reasons)}; "
        f"reasons for non-0 floors: {set(reasons) - zero}"
    )
    for n, r in reasons.items():
        assert len(r) >= 40, f"{n}: empty_reason too thin to audit: {r!r}"
    assert all(f >= 0 for f in floors.values())


def test_entry_exposes_expected_rows_metadata():
    floors = ent.expected_rows()
    assert set(floors) == set(ent.queries())
    reasons = ent.empty_reasons()
    assert set(reasons) == {n for n, f in floors.items() if f == 0}


def test_register_rejects_unreasoned_zero_floor():
    import pytest

    from node_gedcom_graph_spark.operators import register

    with pytest.raises(ValueError, match="empty_reason"):
        register("___vacuity_probe", min_rows=0)(lambda s, d: None)
    with pytest.raises(ValueError, match="min_rows"):
        register("___vacuity_probe2", min_rows=-1)(lambda s, d: None)
    with pytest.raises(ValueError, match="empty_reason only"):
        register("___vacuity_probe3", min_rows=2, empty_reason="x")(
            lambda s, d: None
        )


def test_env_knob_census():
    """The package reads exactly these environment variables, each by a
    literal name. A new knob must be added here on purpose."""
    import re

    read = re.compile(
        r"os\.(?:environ(?:\.get)?\s*[\[(]|getenv\s*\()\s*['\"](\w+)['\"]"
    )
    names, n_reads, n_mentions = set(), 0, 0
    for path in (REPO / "node_gedcom_graph_spark").rglob("*.py"):
        src = path.read_text()
        found = read.findall(src)
        names.update(found)
        n_reads += len(found)
        n_mentions += len(re.findall(r"\b(?:environ|getenv)\b", src))
    assert n_reads == n_mentions, "env read by a non-literal name"
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "NGG_EDGE_CACHE",
        "NGG_EDGE_CACHE_DIR",
        "DEDUP_MEMBER_PAIR_CAP",
        "FUZZY_MEMBER_PAIR_CAP",
        "FUZZY_BROADCAST_CAP_ROWS",
    }


def test_engine_confs_are_known_sql_confs(spark):
    """Spark accepts any string as a conf key, so a misspelled
    ENGINE_CONFS key would silently do nothing. isModifiable is true only
    for a known dynamic SQL conf."""
    from node_gedcom_graph_spark.session import ENGINE_CONFS

    assert not spark.conf.isModifiable(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitionin"
    )
    unknown = [k for k in ENGINE_CONFS if not spark.conf.isModifiable(k)]
    assert unknown == []
