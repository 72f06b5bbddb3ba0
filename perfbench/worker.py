"""One cold pass of a benchmark workload, in a fresh process.

Run by ``run.py`` as ``python3 perfbench/worker.py <spec.json> <spawn_epoch_s>``.
The spec names the workload, its generated inputs, the master URL, the
run's private directory and whether to trace. The pass writes one JSON
record: set-up time, timed wall and CPU of the process tree (and its peak
memory, when tracing), and each operation with what its check needs. Checks run afterwards, in
``run.py``, outside the timed section.

Tracing wraps each call into a layer in a span that sets a Spark job
group of the same name; the event log, written only when tracing, is
folded per span by ``eventlog.py``.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import threading
import time

from check import gate_summary
from run import QUERIES

class Tracer:
    """Spans around calls into the program; inert when not tracing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: dict[str, list[tuple[float, float]]] = {}
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        start = time.time() * 1e3
        try:
            yield
        finally:
            self.spans.setdefault(name, []).append((start, time.time() * 1e3))
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs inside span ``name``."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


class _TracedCollect:
    """A DataFrame whose ``collect`` runs inside a span."""

    def __init__(self, df, tracer: Tracer, name: str):
        self._df, self._tracer, self._name = df, tracer, name

    def collect(self):
        with self._tracer.span(self._name):
            return self._df.collect()

    def __getattr__(self, attr):
        return getattr(self._df, attr)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of a process tree, reaped children included."""
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the resident memory of a process tree until stopped."""

    INTERVAL_S = 0.25

    def __init__(self, root: int):
        self.root, self.peak_kb = root, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> int:
        total = 0
        for pid in _tree_pids(self.root):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1])
            except OSError:
                continue
        return total * os.sysconf("SC_PAGE_SIZE") // 1024

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.INTERVAL_S)

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        return max(self.peak_kb, self._sample()) / 1e3


def host_steal_s() -> float:
    """CPU time the hypervisor took from this host's CPUs (all of them)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def timed_op(ops: list, name: str, fn, tracer: Tracer | None = None) -> None:
    """Run one timed operation; an exception marks it failed."""
    rec = {"name": name, "ok": True, "error": None, "result": None}
    try:
        with tracer.span(name) if tracer else contextlib.nullcontext():
            rec["result"] = fn()
    except Exception as e:  # a failed call is a failed operation
        rec.update(ok=False, error=repr(e)[:500])
    ops.append(rec)


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def ged_import(spark, spec: dict, tracer: Tracer, ops: list, extra: dict) -> None:
    """The CLI import, as a user runs it, into a directory of this run."""
    from node_gedcom_graph_spark.__main__ import main

    if tracer.enabled:
        import node_gedcom_graph_spark.gedcom.extract as extract
        import node_gedcom_graph_spark.gedcom.parser as parser
        import node_gedcom_graph_spark.publish.neo4j_csv as publish

        tracer.wrap(parser, "read_gedcom_lines", "parser.read")
        tracer.wrap(parser, "assign_records", "parser.read")
        build = extract.extract_graph

        def extract_graph(*args, **kwargs):
            with tracer.span("extract.build"):
                graph = build(*args, **kwargs)
            _materialize(spark, graph, tracer, extra)
            for audit in ("unused_tags", "missing_temple_codes", "skipped_records"):
                setattr(graph, audit, _TracedCollect(getattr(graph, audit), tracer,
                                                     "publish.audits"))
            return graph

        extract.extract_graph = extract_graph
        tracer.wrap(publish, "export_neo4j_csvs", "publish.export")
        tracer.wrap(publish, "observed_counts", "publish.counts")
        tracer.wrap(publish, "atomic_publish", "publish.swap")

    argv = ["--src", spec["ged"], "--dest", spec["dest"], "--master", spec["master"]]

    def cli():
        err = io.StringIO()
        with contextlib.redirect_stderr(err), contextlib.redirect_stdout(io.StringIO()):
            rc = main(argv)
        if rc != 0:
            raise RuntimeError(f"exit code {rc}: {err.getvalue()[-300:]}")
        return {"stderr": err.getvalue()}

    timed_op(ops, "ged_import", cli)


def _materialize(spark, graph, tracer: Tracer, extra: dict) -> None:
    """Build the extraction cache in a span of its own (traced runs only)."""
    with tracer.span("extract.materialize"):
        graph.frame.count()
    extra["extract.cache_mb"] = _cached_mb(spark)


def lineage_llm_prep(spark, spec: dict, tracer: Tracer, ops: list, extra: dict) -> None:
    """Traverse a family forest's edges, then run the LLM-prep queries."""
    from pyspark.sql import functions as F

    from node_gedcom_graph_spark.graph.queries import (
        ancestors,
        connected_components,
        descendants,
    )
    from node_gedcom_graph_spark.operators import all_queries

    def op(name, fn):
        timed_op(ops, name, fn, tracer)

    state = {}

    def edges():
        state["edges"] = spark.read.parquet(spec["edges"]).localCheckpoint(eager=True)
        return {"edges": state["edges"].count()}

    def components():
        row = connected_components(state["edges"]).agg(
            F.count(F.lit(1)).alias("nodes"),
            F.countDistinct("component").alias("components"),
        ).first()
        return {"nodes": row["nodes"], "components": row["components"]}

    op("graph.edges", edges)
    op("graph.ancestors", lambda: {"pairs": ancestors(state["edges"]).count()})
    op("graph.descendants", lambda: {"pairs": descendants(state["edges"]).count()})
    op("graph.components", components)

    queries = all_queries()
    for name in QUERIES:
        def run(name=name):
            df = queries[name](spark, spec["docs_dir"])
            return {"cols": df.columns, "rows": [tuple(r) for r in df.collect()]}

        op(f"operators.{name}", run)


WORKLOADS = {"ged_import": ged_import, "lineage_llm_prep": lineage_llm_prep}


def main() -> int:
    spawned = float(sys.argv[2])
    with open(sys.argv[1], encoding="utf-8") as fh:
        spec = json.load(fh)
    tracer = Tracer(spec["trace"])
    extra_conf = {}
    if spec["trace"]:
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + spec["event_dir"],
        }
    with tracer.span("session.start"):
        from node_gedcom_graph_spark.session import get_spark

        spark = get_spark(app_name="gedcom-import", master=spec["master"],
                          extra_conf=extra_conf)
    tracer.sc = spark.sparkContext
    setup_s = time.time() - spawned

    me = os.getpid()
    ops: list = []
    extra: dict = {}
    rss = PeakRss(me) if spec["trace"] else None  # peak_rss_mb is a per-layer metric
    cpu0, steal0 = tree_cpu_s(me), host_steal_s()
    t0 = time.perf_counter()
    WORKLOADS[spec["workload"]](spark, spec, tracer, ops, extra)
    wall_s = time.perf_counter() - t0
    cpu_s = tree_cpu_s(me) - cpu0
    steal_s = host_steal_s() - steal0
    peak_rss_mb = rss.stop_mb() if rss else None
    spark.stop()

    for rec in ops:  # reduce query results to what the oracle check needs
        res = rec.get("result")
        if rec["ok"] and res and "rows" in res:
            rec["result"] = gate_summary(res["cols"], res["rows"])
    record = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "cpu_s": cpu_s,
        "steal_s": steal_s,
        "peak_rss_mb": peak_rss_mb,
        "ops": ops,
        "spans": tracer.spans,
        "extra": extra,
    }
    with open(spec["record"], "w", encoding="utf-8") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
