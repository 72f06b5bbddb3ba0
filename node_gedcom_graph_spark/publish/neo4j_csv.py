"""Neo4j bulk-import CSV export with atomic staging-dir publish.

Re-expresses the reference's sink + publish machinery:
- per-(family, tag) CSV fan-out (csv_writer.js:85-113 / SURVEY op 18)
  -> one header'd CSV dataset per nodes-<TAG> / relationships-<TAG>,
  with the Neo4j bulk header columns ('Gedcom Id:ID', ':LABEL',
  ':START_ID', ':END_ID', ':TYPE' — csv_writer.js:126,140-144,183).
  Spark writes headers from the schema, fixing the reference's
  first-record-wins header quirk (documented divergence, SURVEY §7.3).
- neo4j-import argv construction (index.js:80-84, neo4j.js:79).
- atomic publish: stage -> swap live to backup -> staging to live,
  rollback on failure (neo4j.js:20-51,84-95 / ops 21-23).
- optional full lifecycle (`run_import_publish` / CLI --run-import):
  spawn `neo4j-admin database import` + DB stop/start, with the
  swap/restore driven by real exit codes — the reference's
  import->stop->swap->start state machine (neo4j.js:84-109 / op 20).

Scale: each per-tag dataset is written partitioned (many part files) —
that IS the scalable layout; neo4j-admin import accepts multiple files
per group. No coalesce anywhere: AQE sizes the partitions of the graph's
caches from their bytes (``spark.sql.optimizer.
canChangeCachedPlanOutputPartitioning``, session.py), so a large group
is not capped at one partition per core.

Why one cached per-record map, not a pivot per tag: the earlier export
ran a distinct collect for the node tags, then per tag a key collect
plus a pivot aggregate, then a distinct for the edge tags and one write
per edge tag — each job re-running the EVEN join, the pass-2 window, the
explode and the max_by aggregate over the extraction cache, at
``spark.sql.shuffle.partitions`` (32) partitions that AQE may not
coalesce for a cached plan. A/B on the perfbench ``ged_import`` workload
(a 0.093 MB seeded GEDCOM forest, local[4], 4-vCPU host):

- traced, seed 12: export span 48 jobs / 978 tasks / 30.4 s wall /
  18.7 executor CPU-s -> 18 jobs / 98 tasks / 7.7 s / 3.6 CPU-s; traced
  end-to-end wall 50.9 s -> 27.6 s.
- untraced, 10 alternating pairs, seeds 901-910: end-to-end wall median
  48.2 s (IQR 44.9-50.6) -> 27.2 s (25.2-28.3), faster in 10/10 pairs;
  process CPU median 154.3 s -> 81.0 s.

Why the caches belong to the graph (``extract_graph(persist=True)``),
not to the export: the export, the counts and the audits then read one
extraction. Before, ``observed_counts`` re-ran the EVEN join, the pass-2
window, the explode and the max_by aggregate in two noop writes, and the
audits and the depth probe each re-ran the scan and the Python record
pass. A/B on the same workload and host, parent -> graph-owned caches
plus the cached-plan conf, with the export's coalesce gone:

- traced, seed 12: the Python record pass ran in 1 span instead of 3;
  tasks to build the extraction cache 66 -> 3, export 98 -> 19, counts
  97 -> 2, audits 67 -> 5.
- untraced, 10 alternating pairs, seeds 1101-1110: end-to-end wall
  median 32.3 s (IQR 29.7-34.4) -> 24.7 s (22.9-27.2), faster in 10/10
  pairs; process CPU median 91.1 s -> 61.6 s.
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from node_gedcom_graph_spark.gedcom.extract import GedcomGraph, prop_columns


def csv_groups(graph: GedcomGraph) -> dict[str, DataFrame]:
    """The export's frames, one per nodes-<TAG> / relationships-<TAG>
    group: each a narrow filter + select over ``graph.records`` or
    ``graph.edges``. The export schema (each node tag's key set and the
    edge tags) is one collect."""
    records, edges = graph.records, graph.edges
    schema = (
        records.select(
            F.lit("nodes").alias("family"),
            F.col("root_tag").alias("tag"),
            F.explode(F.map_keys("props")).alias("key"),
        )
        .unionByName(
            edges.select(
                F.lit("relationships").alias("family"),
                F.col("edge_tag").alias("tag"),
                F.lit(None).cast("string").alias("key"),
            )
        )
        .groupBy("family", "tag")
        .agg(F.collect_set("key").alias("keys"))
        .collect()
    )
    groups: dict[str, DataFrame] = {}
    for family, tag, keys in schema:
        if family == "nodes":
            # 'Gedcom Id:ID' first, like the reference's header.
            keys = sorted(keys, key=lambda c: (c != "Gedcom Id:ID", c))
            groups[f"nodes-{tag}"] = records.filter(F.col("root_tag") == tag).select(
                *prop_columns(keys), F.col("label").alias(":LABEL")
            )
        else:
            groups[f"relationships-{tag}"] = edges.filter(
                F.col("edge_tag") == tag
            ).select(
                F.col("src").alias(":START_ID"),
                F.col("dst").alias(":END_ID"),
                F.col("rel_type").alias(":TYPE"),
            )
    return groups


def export_neo4j_csvs(graph: GedcomGraph, out_dir: str) -> dict[str, str]:
    """Write nodes-<TAG>/ and relationships-<TAG>/ CSV datasets under
    ``out_dir``; returns {group_name: path}. Deterministic layout, one
    directory per (family, tag) — the reference's fan-out, lifted to
    partitioned datasets.

    The groups are ``csv_groups(graph)``; build the graph with
    ``persist=True`` so the props map and the edges they read are caches
    (an unpersisted graph recomputes them per group). The group writes
    run concurrently, each on a thread that inherits the caller's job
    group.
    """
    os.makedirs(out_dir, exist_ok=True)
    spark = graph.nodes_long.sparkSession
    groups = csv_groups(graph)
    outputs = {g: os.path.join(out_dir, g) for g in sorted(groups)}

    def write(group: str) -> None:
        # Spark's CSV writer trims values by default; the extractor
        # keeps raw pieces such as Given Name 'John '.
        (
            groups[group].write.mode("overwrite")
            .option("header", True)
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(outputs[group])
        )

    workers = max(1, min(spark.sparkContext.defaultParallelism, len(groups)))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        # One wrap per task: each thread gets its own copy of the
        # caller's local properties (job group included).
        futures = [
            pool.submit(inheritable_thread_target(spark)(write), g) for g in outputs
        ]
        for f in futures:
            f.result()
    return outputs


def build_import_args(outputs: dict[str, str], into: str) -> list[str]:
    """neo4j-import argv (index.js:80-84 + neo4j.js:79): --into first,
    then one --nodes/--relationships per generated group."""
    args = ["--into", into]
    for group in sorted(outputs):
        flag = "--nodes" if group.startswith("nodes-") else "--relationships"
        args.extend([flag, outputs[group]])
    return args


def atomic_publish(staging_dir: str, live_dir: str) -> str:
    """Swap ``staging_dir`` into place at ``live_dir`` atomically:
    live -> live.bak, staging -> live; on a failed swap the backup is
    restored (neo4j.js:31-51). Returns the backup path (caller may
    delete it after verifying the new live dir)."""
    backup = live_dir + ".bak-" + uuid.uuid4().hex[:8]
    had_live = os.path.exists(live_dir)
    if had_live:
        os.rename(live_dir, backup)
    try:
        os.rename(staging_dir, live_dir)
    except Exception:
        if had_live:
            # restore: remove any partial live dir, put the backup back
            if os.path.exists(live_dir):
                shutil.rmtree(live_dir)
            os.rename(backup, live_dir)
        raise
    return backup if had_live else ""


def run_import_publish(
    outputs: dict[str, str],
    db_path: str,
    bindir: str = "/usr/bin",
    runner=None,
) -> str:
    """Execute the reference's full import lifecycle (ops 20-23,
    neo4j.js:84-109): bulk-import into ``db_path + '.tmp'``; on import
    success stop the DB, swap (live -> .bak, .tmp -> live), start the
    DB; a failed start restores the backup and aborts; a failed import
    aborts with the live DB untouched. Returns the backup path ('' if
    there was no live dir — first publish, which the reference assumes
    never happens; handled gracefully here).

    ``runner``: callable(argv: list[str]) -> int exit code. Defaults to
    a real subprocess call; injectable so tests drive every exit-code
    branch without Neo4j installed. The stop exit code is ignored, as
    in the reference (its stopProcess handler never checks ``code``).
    """
    import subprocess

    if runner is None:
        runner = lambda argv: subprocess.call(argv)  # noqa: E731

    temp = db_path + ".tmp"
    backup = db_path + ".bak"
    neo4j_bin = os.path.join(bindir, "neo4j")
    import_bin = os.path.join(bindir, "neo4j-admin")

    # _setupTempDir (neo4j.js:20-29): fresh temp target for the import.
    if os.path.exists(temp):
        shutil.rmtree(temp)
    os.makedirs(temp)

    import_argv = (
        [import_bin, "database", "import", "full"]
        + build_import_args(outputs, into=temp)
    )
    code = runner(import_argv)
    if code != 0:
        # neo4j.js:103-106 — abort; live dir untouched.
        raise RuntimeError(f"Import failed. Exited {code}. Abort.")

    runner([neo4j_bin, "stop"])

    # _swapDirs (neo4j.js:31-44): drop the previous backup, then
    # real -> backup, temp -> real.
    if os.path.exists(backup):
        shutil.rmtree(backup)
    had_live = os.path.exists(db_path)
    if had_live:
        os.rename(db_path, backup)
    os.rename(temp, db_path)

    code = runner([neo4j_bin, "start"])
    if code != 0:
        # _restoreDirs (neo4j.js:46-51): drop the new live dir, put the
        # backup back, then abort.
        if had_live:
            shutil.rmtree(db_path)
            os.rename(backup, db_path)
        raise RuntimeError("Starting neo4j failed.  Abort.")
    return backup if had_live else ""


def observed_counts(graph: GedcomGraph) -> dict[str, int]:
    """Row-level pipeline metrics (SURVEY op 26: the reference's
    read/write/skip event counters) as two small aggregates over the
    graph's caches — the per-record props map and the edges the export
    just wrote from, so on a ``persist=True`` graph nothing upstream of
    them is recomputed:

    - ``n_property_rows``: rows of ``nodes_long``, i.e. the sum of the
      props map sizes (one entry per (record, flat_key));
    - ``n_records_approx``: ``approx_count_distinct(record_id)``;
    - ``n_edges``: rows of ``edges``.
    """
    nodes = graph.records.agg(
        F.coalesce(F.sum(F.size("props")), F.lit(0)).alias("n_property_rows"),
        F.approx_count_distinct("record_id").alias("n_records_approx"),
    ).first()
    return {**nodes.asDict(), "n_edges": graph.edges.count()}
