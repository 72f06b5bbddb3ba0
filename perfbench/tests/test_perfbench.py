"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/tests -q

The two Spark tests run a real pass on tiny inputs (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def test_same_seed_same_input():
    a, b = gen.gedcom(5, 200, 3), gen.gedcom(5, 200, 3)
    assert a.text == b.text and a.groups == b.groups
    assert gen.gedcom(6, 200, 3).text != a.text
    d1, e1 = gen.documents(5, 50, 20)
    d2, e2 = gen.documents(5, 50, 20)
    assert d1.equals(d2) and e1.equals(e2)
    assert not gen.documents(6, 50, 20)[0].equals(d1)


def test_documents_come_from_the_fixture():
    import pyarrow.parquet as pq

    src = {d["doc_id"]: d for d in
           pq.read_table(os.path.join(gen.FIXTURE, "documents.parquet")).to_pylist()}
    docs, emb = gen.documents(3, 40, 30, copies=2)
    assert (docs.num_rows, emb.num_rows) == (80, 60)
    rows = docs.to_pylist()
    for first, copy in zip(rows[:40], rows[40:]):
        assert first == src[first["doc_id"]]
        assert copy["doc_id"] == first["doc_id"] + len(src)
        a, b = first["text"].split(), copy["text"].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 3
        assert copy["n_chars"] == len(copy["text"])
    assert any(r["text"] != src[r["doc_id"] - len(src)]["text"] for r in rows[40:])


def test_generator_states_its_audits_and_lineage():
    g = gen.gedcom(3, 400, 4)
    assert g.unused_tags <= set(gen.UNKNOWN_TAGS) and g.unused_tags
    assert g.missing_temple_codes <= set(gen.MISSING_TEMPLES)
    assert g.ancestor_pairs > 0 and g.components >= 1
    assert g.n_edges == sum(len(rows) for name, (_h, rows) in g.groups.items()
                            if name.startswith("relationships-"))


def test_build_once_builds_once_and_never_touches_foreign_dirs(tmp_path):
    calls = []

    def build(tmp):
        calls.append(tmp)
        with open(os.path.join(tmp, "x"), "w") as fh:
            fh.write("1")

    target = str(tmp_path / "tier")
    assert run.build_once(target, build) == target
    assert run.build_once(target, build) == target
    assert len(calls) == 1 and os.path.exists(os.path.join(target, "_COMPLETE"))

    def broken(tmp):
        with open(os.path.join(tmp, "partial"), "w"):
            pass
        raise OSError("disk full")

    with pytest.raises(OSError):
        run.build_once(str(tmp_path / "broken"), broken)
    assert sorted(os.listdir(tmp_path)) == [".lock", "tier"]

    foreign = tmp_path / "users"
    foreign.mkdir()
    (foreign / "keep.txt").write_text("mine")
    with pytest.raises(RuntimeError):
        run.build_once(str(foreign), build)
    assert (foreign / "keep.txt").read_text() == "mine"


def test_eventlog_fold_on_recorded_log():
    """A trimmed log of two job groups: a mapInPandas aggregate (grpA,
    three jobs) and a plain count (grpB, two jobs)."""
    events = eventlog.read_events(os.path.join(HERE, "data", "events_1_tiny"))
    spans = {
        "grpA": [(1792207921000, 1792207926400)],
        "grpB": [(1792207926600, 1792207927000)],
        "idle": [(0, 1000)],
    }
    out, failed = eventlog.fold(events, spans)
    assert failed == 0
    a, b = out["grpA"], out["grpB"]
    assert a["wall_s"] == pytest.approx(5.4)
    # jobs ran 918 + 3644 + 107 ms of grpA's 5400 ms
    assert a["driver_s"] == pytest.approx(0.731)
    assert (a["jobs"], a["tasks"]) == (3, 6)
    assert a["executor_cpu_s"] == pytest.approx(1.619060431)
    assert a["shuffle_mb"] == pytest.approx(0.10802)
    assert a["python_mb"] == pytest.approx(0.1636)
    assert (b["jobs"], b["tasks"], b["python_mb"]) == (2, 3, 0)
    assert b["driver_s"] == pytest.approx(0.24)
    assert out["idle"]["driver_s"] == pytest.approx(1.0) and out["idle"]["jobs"] == 0


def test_a_missing_span_fails_the_traced_run():
    spans = {s: [(0.0, 1.0)] for s in run.SPANS["ged_import"]}
    run.check_spans("ged_import", spans)
    spans["extract.build"] = []
    with pytest.raises(run.PassFailed, match="extract.build"):
        run.check_spans("ged_import", spans)

    wanted = [{"name": n} for n in ("parser.read.wall_s", "graph.ancestors.wall_s",
                                    "trace.wall_s")]
    got = run.layer_values("ged_import", wanted,
                           {"parser.read.wall_s": 2.0, "trace.wall_s": 9.0})
    assert got == {"parser.read.wall_s": 2.0, "graph.ancestors.wall_s": 0.0,
                   "trace.wall_s": 9.0}
    for missing in ("parser.read.wall_s", "trace.wall_s"):
        with pytest.raises(run.PassFailed, match=missing):
            run.layer_values("ged_import", wanted,
                             {k: 1.0 for k in ("parser.read.wall_s", "trace.wall_s")
                              if k != missing})


def test_gate_summary_ignores_order_and_float_noise():
    x = check.gate_summary(["b", "a"], [(1.0000001, "x"), (2.0, "y")])
    y = check.gate_summary(["a", "b"], [("y", 2.0), ("x", 1.0)])
    assert x == y
    assert check.query(x, y) == []
    assert check.query({"min_rows": 3}, x) == ["2 rows < floor 3"]


def test_run_refuses_a_directory_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ged_import",
                        "--seed", "1", "--seconds", "1"], cwd=tmp_path,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _pass(workload, inputs, tmp_path, trace=False):
    pass_dir = tmp_path / f"pass-{int(trace)}"
    pass_dir.mkdir()
    return run.run_pass(workload, str(inputs), str(pass_dir), 2, trace,
                        time.monotonic() + 600)


def test_tiny_import_matches_generator_and_corruption_fails(tmp_path):
    forest = gen.gedcom(7, 60, 3)
    inputs = tmp_path / "inputs"
    inputs.mkdir()
    (inputs / "input.ged").write_text(forest.text)
    rec = _pass("ged_import", inputs, tmp_path)
    assert run.check_pass("ged_import", rec, forest, None) == []
    assert rec["ops"][0]["ok"]

    dest = rec["dest"]
    shutil.rmtree(os.path.join(dest, "nodes-FAM"))
    assert run.check_pass("ged_import", rec, forest, None)
    assert not rec["ops"][0]["ok"]  # counted as a failed operation

    sour = os.path.join(dest, "nodes-SOUR")
    for part in sorted(p for p in os.listdir(sour) if p.endswith(".csv")):
        path = os.path.join(sour, part)
        with open(path) as fh:
            lines = fh.read().splitlines()
        if len(lines) > 1:
            break
    lines[1] = lines[1].replace("Parish", "Parrish")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    problems = check.ged_import(forest, dest, rec["ops"][0]["result"]["stderr"])
    assert any("nodes-SOUR" in p for p in problems)


def test_tiny_lineage_and_queries_match_oracles_with_trace(tmp_path):
    import pyarrow.parquet as pq

    forest = gen.gedcom(8, 40, 3)
    inputs = tmp_path / "inputs"
    (inputs / "docs").mkdir(parents=True)
    pq.write_table(gen.edges_table(forest), str(inputs / "edges.parquet"))
    docs, emb = gen.documents(8, 60, 30)
    pq.write_table(docs, str(inputs / "docs" / "documents.parquet"))
    pq.write_table(emb, str(inputs / "docs" / "embeddings.parquet"))
    oracle = run.oracle_expectations(str(inputs / "docs"))

    rec = _pass("lineage_llm_prep", inputs, tmp_path, trace=True)
    assert run.check_pass("lineage_llm_prep", rec, forest, oracle) == []
    assert len(rec["ops"]) == 4 + len(run.QUERIES) and all(op["ok"] for op in rec["ops"])

    spans = rec["per_span"]
    assert spans["graph.ancestors"]["jobs"] > 0
    assert spans["operators.dedup_substring_clean"]["tasks"] > 0
    layers = run.layer_metrics(rec, rec["wall_s"])
    assert layers["trace.overhead_s"] == 0
    assert 0 <= layers["trace.remainder_s"] < 0.1 * rec["wall_s"]
    json.dumps(layers)
