"""Benchmark harness for the GEDCOM import engine.

    python3 perfbench/run.py --workload ged_import --seed 1 --seconds 20 --trace 0

Workloads (why each was chosen is recorded in BENCHMARK.json):

- ``ged_import``: the CLI (``node_gedcom_graph_spark.__main__.main``) on a
  seeded GEDCOM forest, publishing into a directory of this run.
- ``lineage_llm_prep``: the three traversals of ``graph/queries.py`` over
  the edges of a seeded family forest, then the LLM-prep queries in
  ``QUERIES`` on documents and embeddings drawn by the seed from the sf0.01
  fixture in ``perfbench/data``.

Each pass is a fresh process on ``local[<cores>]`` that pays session
start, JIT and code generation, as a CLI user does; passes repeat in a
closed loop with one client until ``--seconds`` have gone by, and every
metric is the median over passes. Only the repository is put on
``PYTHONPATH``; every engine setting (``SPARK_GRAFT_*``, ``NGG_*``) is
left at its default, and only the places the program writes to are
pointed inside this run's directory.

Inputs are generated once per seed under ``.perfbench/inputs`` and
checked after each pass, outside the timed section. Every operation
whose result is wrong counts as failed. The last line of output is one
JSON object; with ``--trace 1`` it carries the per-layer metrics from a
traced pass (job groups per span plus Spark's event log) instead of the
end-to-end ones. A traced run first makes one untraced pass of the same
input, whose wall ``trace.overhead_s`` is measured against, and fails if
a span its workload must record has no interval.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import check
import eventlog
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170  # a run must end within 180 s
PAPER_MB_PER_S = 145 / 6  # ~145 MB imported in ~6 s
SIZES = {
    # 3 generations keep whole trees small, so input size varies little by seed
    "ged_import": {"people": 400, "generations": 3},
    # docs/vecs are drawn from the sf0.01 fixture and doubled by ``copies``
    "lineage_llm_prep": {"people": 300, "generations": 2, "docs": 150, "vecs": 100,
                         "copies": 2},
}
QUERIES = (
    "dedup_substring_clean",
    "dsir_importance_weights",
    "decontaminate_ngram_overlap",
    "dedup_embedding_cosine",
    "text_quality_score",
)
# The spans each workload's traced pass must record, and the prefixes of
# the per-layer metrics it owns; a metric owned only by the other
# workload reads 0.
SPANS = {
    "ged_import": ("session.start", "parser.read", "extract.build", "extract.materialize",
                   "publish.export", "publish.counts", "publish.audits", "publish.swap"),
    "lineage_llm_prep": ("session.start", "graph.edges", "graph.ancestors",
                         "graph.descendants", "graph.components",
                         *(f"operators.{q}" for q in QUERIES)),
}
OWNED = {
    "ged_import": ("session.", "parser.", "extract.", "publish."),
    "lineage_llm_prep": ("session.", "graph.", "operators."),
}


class PassFailed(RuntimeError):
    pass


def build_once(path: str, build) -> str:
    """Return ``path``, first building it with ``build(tmp_dir)`` if needed.

    The build runs in a fresh temp directory beside ``path`` while holding
    a lock; a sentinel is written last and the directory renamed into
    place, so a half-built input is never seen as complete. A directory
    at ``path`` without the sentinel was not made here and is left alone.
    """
    sentinel = os.path.join(path, "_COMPLETE")
    if os.path.exists(sentinel):
        return path
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    with open(os.path.join(parent, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(sentinel):
            return path
        if os.path.exists(path):
            raise RuntimeError(f"{path} exists but is not a complete build; not touching it")
        tmp = tempfile.mkdtemp(prefix=os.path.basename(path) + ".build-", dir=parent)
        try:
            build(tmp)
            with open(os.path.join(tmp, "_COMPLETE"), "w"):
                pass
            os.rename(tmp, path)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    return path


def oracle_expectations(docs_dir: str) -> dict:
    """Each query's expected result summary, from the DuckDB oracle SQL."""
    import duckdb

    sys.path.insert(0, ROOT)
    from node_gedcom_graph_spark.operators import all_min_rows, all_oracles

    oracles, floors = all_oracles(), all_min_rows()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{docs_dir}/{t}.parquet')")
    out = {}
    for q in QUERIES:
        if q in oracles:
            res = con.execute(oracles[q])
            out[q] = check.gate_summary([d[0] for d in res.description], res.fetchall())
        else:
            out[q] = {"min_rows": floors[q]}
    con.close()
    return out


def _size_key(workload: str) -> str:
    return "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload].items()))


def expected_forest(workload: str, seed: int) -> gen.Gedcom:
    size = SIZES[workload]
    return gen.gedcom(seed, size["people"], size["generations"])


def prepare(workload: str, seed: int) -> str:
    """The directory holding this workload's inputs for ``seed``."""
    size = SIZES[workload]

    def build(tmp: str) -> None:
        forest = expected_forest(workload, seed)
        if workload == "ged_import":
            with open(os.path.join(tmp, "input.ged"), "w", encoding="utf-8") as fh:
                fh.write(forest.text)
        else:
            import pyarrow.parquet as pq

            pq.write_table(gen.edges_table(forest), os.path.join(tmp, "edges.parquet"))
            docs_dir = os.path.join(tmp, "docs")
            os.makedirs(docs_dir)
            docs, emb = gen.documents(seed, size["docs"], size["vecs"], size["copies"])
            pq.write_table(docs, os.path.join(docs_dir, "documents.parquet"))
            pq.write_table(emb, os.path.join(docs_dir, "embeddings.parquet"))
            with open(os.path.join(tmp, "oracle.json"), "w", encoding="utf-8") as fh:
                json.dump(oracle_expectations(docs_dir), fh)

    return build_once(
        os.path.join(WORK, "inputs", f"{workload}-{_size_key(workload)}-seed{seed}"), build)


def dir_mb(path: str, suffixes: tuple[str, ...] = ("",)) -> float:
    """Size of the files under ``path`` whose names end with ``suffixes``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files
               if f.endswith(suffixes)) / 1e6


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        if int(f[2]) == pgid and f[0] != "Z":
            return True
    return False


def _stop_group(pgid: int, grace_s: float) -> None:
    """Give a worker's process group ``grace_s`` to exit (the JVM runs its
    shutdown hooks then), kill what is left, and wait until it is gone."""
    end = time.monotonic() + grace_s
    while _group_alive(pgid) and time.monotonic() < end:
        time.sleep(0.05)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while _group_alive(pgid):
        time.sleep(0.05)


def check_spans(workload: str, spans: dict[str, list]) -> None:
    """Fail a traced pass in which a span of its workload never ran, e.g.
    because a wrapped function was bound before the harness wrapped it."""
    missing = [s for s in SPANS[workload] if not spans.get(s)]
    if missing:
        raise PassFailed(f"traced pass recorded no interval for {missing}")


def run_pass(workload: str, inputs: str, pass_dir: str, cores: int, trace: bool,
             deadline: float) -> dict:
    """One worker process; returns its record (with per-span metrics if traced)."""
    tmp = os.path.join(pass_dir, "tmp")
    event_dir = os.path.join(pass_dir, "events")
    os.makedirs(tmp)
    os.makedirs(event_dir)
    spec = {
        "workload": workload,
        "ged": os.path.join(inputs, "input.ged"),
        "edges": os.path.join(inputs, "edges.parquet"),
        "docs_dir": os.path.join(inputs, "docs"),
        "dest": os.path.join(pass_dir, "published"),
        "master": f"local[{cores}]",
        "trace": trace,
        "event_dir": event_dir,
        "record": os.path.join(pass_dir, "record.json"),
    }
    spec_path = os.path.join(pass_dir, "spec.json")
    with open(spec_path, "w", encoding="utf-8") as fh:
        json.dump(spec, fh)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "NGG_", "PYSPARK_"))}
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        NGG_EDGE_CACHE_DIR=os.path.join(tmp, "edge-cache"),
    )
    log_path = os.path.join(pass_dir, "worker.log")
    with open(log_path, "w") as log:
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), spec_path, repr(time.time())]
        proc = subprocess.Popen(cmd, cwd=pass_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        grace_s = 10.0
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            rc, grace_s = "timeout", 0.0
        finally:
            _stop_group(proc.pid, grace_s)
            proc.wait()
    if rc != 0:
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise PassFailed(f"worker exited with {rc}:\n{tail}")
    with open(spec["record"], encoding="utf-8") as fh:
        record = json.load(fh)
    record["dest"] = spec["dest"]
    if trace:
        check_spans(workload, record["spans"])
        events = eventlog.read_events(eventlog.find_log(event_dir))
        record["per_span"], record["failed_tasks"] = eventlog.fold(events, record["spans"])
    return record


def check_pass(workload: str, record: dict, expected: gen.Gedcom,
               oracle: dict | None) -> list[str]:
    """Mark each operation of a pass ok or failed; return the problems."""
    problems = []
    for op in record["ops"]:
        if not op["ok"]:
            found = [op["error"]]
        elif workload == "ged_import":
            found = check.ged_import(expected, record["dest"], op["result"]["stderr"])
        elif op["name"].startswith("graph."):
            found = check.lineage(expected, op["name"], op.get("result"))
        else:
            q = op["name"].split(".", 1)[1]
            found = check.query(oracle[q], op.get("result"))
        op["ok"] = not found
        problems += [f"{op['name']}: {p}" for p in found]
    return problems


def layer_metrics(record: dict, untraced_wall_s: float) -> dict[str, float]:
    """Every per-layer value of one traced pass, by metric name."""
    out = {}
    for span, row in record["per_span"].items():
        for field, value in row.items():
            out[f"{span}.{field}"] = value
    timed = sum(row["wall_s"] for span, row in record["per_span"].items()
                if span != "session.start")
    if "extract.materialize" in record["per_span"]:
        out["extract.cache_mb"] = record["extra"]["extract.cache_mb"]
        out["publish.csv_mb"] = record["csv_mb"]
    out["trace.failed_tasks"] = float(record["failed_tasks"])
    out["trace.wall_s"] = record["wall_s"]
    out["trace.span_sum_s"] = timed
    out["trace.remainder_s"] = record["wall_s"] - timed
    out["trace.overhead_s"] = record["wall_s"] - untraced_wall_s
    out["peak_rss_mb"] = record["peak_rss_mb"]
    return out


def layer_values(workload: str, wanted: list[dict], values: dict[str, float]) -> dict:
    """The value of every per-layer metric in ``wanted`` for ``workload``.

    A metric this workload owns must have been measured; one that only
    the other workload owns reads 0.
    """
    out = {}
    for m in wanted:
        name = m["name"]
        if name in values:
            out[name] = values[name]
        elif name.startswith(OWNED[workload]) or not any(
                name.startswith(OWNED[w]) for w in OWNED if w != workload):
            raise PassFailed(f"traced pass measured no {name}")
        else:
            out[name] = 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count(),
                    help="local[N] master (default: all cores of this host)")
    args = ap.parse_args(argv)
    # A terminated run still removes its directory and stops its worker.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.monotonic()
    deadline = start + RUN_LIMIT_S

    if not os.path.isdir(os.path.join(ROOT, "node_gedcom_graph_spark")):
        print(f"perfbench: no node_gedcom_graph_spark package in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    t_inputs = time.monotonic()
    inputs = prepare(args.workload, args.seed)
    t_inputs = time.monotonic() - t_inputs
    expected = expected_forest(args.workload, args.seed)
    oracle = None
    if args.workload == "lineage_llm_prep":
        with open(os.path.join(inputs, "oracle.json"), encoding="utf-8") as fh:
            oracle = json.load(fh)
    mb = dir_mb(inputs, (".ged", ".parquet"))

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(WORK, "runs"))
    passes, problems = [], []
    ops = {"attempted": 0, "failed": 0}
    untraced = None
    try:
        def one_pass(trace: bool) -> dict:
            pass_dir = os.path.join(run_dir, f"pass-{len(passes)}-{int(trace)}")
            os.makedirs(pass_dir)
            try:
                rec = run_pass(args.workload, inputs, pass_dir, args.cores, trace, deadline)
                problems.extend(check_pass(args.workload, rec, expected, oracle))
                ops["attempted"] += len(rec["ops"])
                ops["failed"] += sum(not op["ok"] for op in rec["ops"])
                rec["csv_mb"] = dir_mb(rec["dest"])
            finally:
                shutil.rmtree(pass_dir)
            return rec

        if args.trace:  # the untraced wall of this seed and code, for trace.overhead_s
            untraced = one_pass(False)["wall_s"]
        loop_start = time.monotonic()
        while True:
            passes.append(one_pass(bool(args.trace)))
            elapsed = time.monotonic() - loop_start
            per_pass = elapsed / len(passes)
            if elapsed >= args.seconds or time.monotonic() + 1.5 * per_pass > deadline:
                break
        if args.trace:
            values = {}
            for p in passes:
                for k, v in layer_metrics(p, untraced).items():
                    values.setdefault(k, []).append(v)
            values = layer_values(args.workload, spec["per_layer"],
                                  {k: statistics.median(v) for k, v in values.items()})
    except PassFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = ops["attempted"], ops["failed"]
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)

    def median(key: str) -> float:
        return statistics.median(p[key] for p in passes)

    wall = median("wall_s")
    print(f"{args.workload} seed={args.seed} local[{args.cores}]: {len(passes)} cold "
          f"pass(es), input {mb:.3f} MB made or found in {t_inputs:.2f} s, "
          f"error_rate {failed}/{attempted}, host steal {median('steal_s'):.2f} s")
    if args.trace:
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": median("setup_s"),
            "wall_s": wall,
            "input_mb_per_s": mb / wall,
            "cpu_s": median("cpu_s"),
        }
        wanted = spec["end_to_end"]
        if args.workload == "ged_import":
            print(f"  input_mb_per_s {mb / wall:.4f} MB/s beside the paper's "
                  f"~{PAPER_MB_PER_S:.1f} MB/s ({mb / wall / PAPER_MB_PER_S:.5f}x)")
    metrics = {}
    for m in wanted:
        value = values[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"  {m['name']} = {value:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
