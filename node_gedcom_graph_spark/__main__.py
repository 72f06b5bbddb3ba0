"""CLI entry — the reference's `node index.js -s file.ged -d <db>`
surface (/root/reference/index.js:13-45) on Spark:

    python -m node_gedcom_graph_spark --src tree.ged --dest /var/lib/neo4j/data
    python -m node_gedcom_graph_spark --src inbox/ --dest out/ --dry-run

Pipeline (mirrors index.js wiring, re-expressed as jobs, not events):
read GEDCOM -> extract property graph -> export Neo4j bulk CSVs to a
staging dir -> print the `neo4j-admin database import` argv (the
subprocess itself is the operator's to run, as in the reference it
shells out) -> atomically publish staging to the destination with
backup, mirroring neo4j.js:20-51. Audit sets (unused tags, missing
temple codes, skipped records — the reference's `missing`/`skip`
events, index.js:85-90) print to stderr, as does one
`stage=<read|extract|export|counts|audits|publish> wall_s=<x.xxx>` line
per stage (the reference's timer.js role). The extraction is computed
once: the export, the counts and the audits all read the caches of one
`extract_graph(persist=True)` graph, released when the CLI returns or
fails. A failure before publish deletes the staging dir the CLI
created; a `--tmpdir` is never deleted.

Differences from the reference, on purpose: stdin arrives via an
explicit `--src -` spool-to-temp-file shim rather than a true streaming
source (Spark sources are path-based; SURVEY §2 op 2), schema-first CSV
headers (fixes the first-record-wins quirk, SURVEY §7.3), and
`--master` to aim the same command at a cluster.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import sys
import tempfile
import time


@contextlib.contextmanager
def _stage(name: str):
    """Log one structured stderr line with the wall time of a CLI stage."""
    start = time.perf_counter()
    try:
        yield
    finally:
        print(f"stage={name} wall_s={time.perf_counter() - start:.3f}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m node_gedcom_graph_spark",
        description="GEDCOM -> property-graph CSVs with atomic publish",
    )
    ap.add_argument(
        "--src", "-s", required=True,
        help="GEDCOM file or directory; '-' reads STDIN (index.js:122-125)",
    )
    ap.add_argument("--dest", "-d", required=True, help="publish directory (live)")
    ap.add_argument("--tmpdir", "-t", default=None, help="staging dir (default: mkdtemp)")
    ap.add_argument("--bindir", "-b", default="/usr/bin", help="neo4j-admin location (argv print only)")
    ap.add_argument("--master", default="local[*]", help="Spark master")
    ap.add_argument("--dry-run", action="store_true", help="export + print argv, skip the publish swap")
    ap.add_argument(
        "--run-import",
        action="store_true",
        help="spawn `neo4j-admin database import` + DB stop/start with "
        "exit-code-driven swap/rollback (reference neo4j.js lifecycle); "
        "--dest is then the DB directory, not a CSV publish dir",
    )
    args = ap.parse_args(argv)

    from node_gedcom_graph_spark.gedcom.extract import extract_graph
    from node_gedcom_graph_spark.gedcom.parser import assign_records, read_gedcom_lines
    from node_gedcom_graph_spark.publish.neo4j_csv import (
        atomic_publish,
        build_import_args,
        export_neo4j_csvs,
        observed_counts,
        run_import_publish,
    )
    from node_gedcom_graph_spark.session import get_spark

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="gedcom-import", master=args.master)
    stdin_tmp = created_staging = graph = None
    try:
        src = args.src
        if src == "-":
            # STDIN parity with the reference (index.js:122-125): Spark
            # sources are path-based, so spool stdin to a driver-local
            # temp file first. Driver-side by necessity — fine, because
            # stdin is single-machine by definition; the spooled file
            # then fans out through the normal splittable read.
            fd, stdin_tmp = tempfile.mkstemp(prefix="ged-stdin-", suffix=".ged")
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                fh.write(sys.stdin.read())
            src = stdin_tmp
            print(f"reading STDIN -> {stdin_tmp}", file=sys.stderr)
        with _stage("read"):
            lines, depth = assign_records(read_gedcom_lines(spark, src), with_depth=True)
        with _stage("extract"):
            # Runs no job: the export, the counts and the audits below
            # all read the graph's caches, which fill on first use.
            graph = extract_graph(lines, max_depth=depth, persist=True)

        # Stage on the SAME filesystem as dest: atomic_publish swaps
        # with os.rename, which cannot cross devices — a /tmp default
        # would export everything and then die with EXDEV when dest
        # lives on another mount.
        dest_parent = os.path.dirname(os.path.abspath(args.dest)) or "."
        os.makedirs(dest_parent, exist_ok=True)
        if args.tmpdir:
            staging = args.tmpdir
        else:
            staging = created_staging = tempfile.mkdtemp(
                prefix="ged2neo-csvs-", dir=dest_parent
            )
        try:
            with _stage("export"):
                outputs = export_neo4j_csvs(graph, staging)
            with _stage("counts"):
                counts = observed_counts(graph)

            for name, rows in sorted(counts.items()):
                print(f"{name}: {rows}", file=sys.stderr)
            audits = {
                "unused tags": graph.unused_tags,
                "missing temple codes": graph.missing_temple_codes,
                "skipped records": graph.skipped_records,
            }
            with _stage("audits"):
                for label, df in audits.items():
                    vals = [tuple(r) for r in df.collect()]
                    if vals:
                        print(f"{label}: {vals}", file=sys.stderr)

            with _stage("publish"):
                if args.run_import and not args.dry_run:
                    backup = run_import_publish(outputs, args.dest, bindir=args.bindir)
                    print(
                        f"imported + published -> {args.dest}"
                        + (f" (backup: {backup})" if backup else ""),
                        file=sys.stderr,
                    )
                elif not args.dry_run:
                    backup = atomic_publish(staging, args.dest)
                    print(f"published {staging} -> {args.dest}"
                          + (f" (backup: {backup})" if backup else ""), file=sys.stderr)
        except BaseException:
            # A failed import must not leave a half-built staging dir
            # beside --dest; a user-supplied --tmpdir is never deleted.
            if created_staging is not None:
                shutil.rmtree(created_staging, ignore_errors=True)
            raise

        if args.run_import and not args.dry_run:
            return 0
        if args.dry_run:
            final_outputs = outputs
        else:
            # The CSVs now live under dest — the argv must point there.
            # (Group name == directory basename by construction in
            # export_neo4j_csvs; joining avoids trailing-slash breakage
            # a prefix-strip rewrite would hit.)
            final_outputs = {g: os.path.join(args.dest, g) for g in outputs}
        print(" ".join([f"{args.bindir}/neo4j-admin", "database", "import", "full"]
                       + build_import_args(final_outputs,
                                           into=args.dest if not args.dry_run else staging)))
        return 0
    finally:
        if graph is not None:
            graph.unpersist()
        if stdin_tmp is not None and os.path.exists(stdin_tmp):
            os.remove(stdin_tmp)
        if owns_session:  # embedded callers (tests) keep their session
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
