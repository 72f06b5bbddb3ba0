"""GEDCOM line parser + scalable record-boundary assignment.

Input model (reference: the `gedcom-stream` dependency consumed at
/root/reference/index.js:70,77): GEDCOM's line format
``LEVEL [@XREF@] TAG [VALUE]``, one record tree rooted at each level-0
line. Spark has no recursive struct type, so the engine's IR is a flat
*lines* DataFrame ``(line_no, level, xref, tag, value)`` plus a record
assignment ``record_seq`` (running count of level-0 lines).

Scale design (SURVEY.md §4 hazard): a naive
``sum(level==0) over (order by line_no)`` is a single-partition window.
Instead we compute per-partition running counts (parallel window keyed by
``spark_partition_id``) and add per-partition offsets computed from a
tiny driver-side aggregate (one row per partition) — the classic
prefix-sum pattern, O(partitions) driver state at any data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# LEVEL [@XREF@] TAG [VALUE] — value = everything after one separator
# space (trailing spaces are significant in GEDCOM values). Real-world
# files often open with a UTF-8 BOM before "0 HEAD"; tolerate it so the
# header record survives (it would otherwise fail the match and drop,
# reassigning the HEAD children to no record).
_LINE_RE = "^\ufeff?" + r"\s*(\d+)(?:\s+@([^@]*)@)?\s+(\S+)(?: (.*))?$"


def parse_lines(raw: DataFrame, text_col: str = "value", line_no_col: str = "line_no") -> DataFrame:
    """Parse raw text lines into (line_no, level, xref, tag, value).

    ``raw`` must carry a file-order ``line_no`` column; blank lines are
    dropped. Pure regexp_extract — whole-stage codegen, no UDF.
    """
    txt = F.col(text_col)
    parsed = raw.select(
        F.col(line_no_col).cast("long").alias("line_no"),
        F.regexp_extract(txt, _LINE_RE, 1).cast("int").alias("level"),
        F.nullif(F.regexp_extract(txt, _LINE_RE, 2), F.lit("")).alias("xref"),
        F.regexp_extract(txt, _LINE_RE, 3).alias("tag"),
        F.coalesce(F.regexp_extract(txt, _LINE_RE, 4), F.lit("")).alias("value"),
    )
    return parsed.filter(F.col("tag") != "")


def read_gedcom_lines(spark: SparkSession, path: str) -> DataFrame:
    """Scan a GEDCOM file (or directory of files) into the lines IR.

    ``monotonically_increasing_id`` is file-order monotonic for a text
    scan (partition index in the high bits, in-split row order in the
    low bits), which is all record assignment needs.
    """
    raw = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("line_no"), "value"
    )
    return parse_lines(raw)


def lines_from_string(spark: SparkSession, text: str, n_partitions: int = 2) -> DataFrame:
    """Build the lines IR from an in-memory GEDCOM string (tests/demos)."""
    rows = [(i, ln) for i, ln in enumerate(text.splitlines()) if ln.strip()]
    raw = spark.createDataFrame(rows, "line_no long, value string").repartitionByRange(
        n_partitions, "line_no"
    )
    return parse_lines(raw)


def assign_records(
    lines: DataFrame, with_depth: bool = False
) -> DataFrame | tuple[DataFrame, int]:
    """Add ``record_seq`` (1-based running count of level-0 lines).

    ``with_depth``: return ``(records, max_level)`` instead, where
    ``max_level`` is the deepest level in ``lines``, read from the same
    per-partition collect. Handing it to ``extract.extract_graph`` spares
    that function a ``max(level)`` job of its own, which would re-run the
    scan and this function's Python pass.

    The classic prefix-sum pattern, with ZERO shuffles of the lines
    table:

    1. a tiny per-partition aggregate (one row per partition, collected
       to the driver) yields each partition's record count, from which
       prefix offsets are computed — O(partitions) driver state;
    2. a stateful ``mapInPandas`` pass computes the partition-local
       running count, carrying it across Arrow batches, and adds the
       broadcast offset.

    A window over ``spark_partition_id()`` would express step 2
    declaratively but physically inserts an Exchange on _pid — a full
    shuffle of every line, which is exactly what this function exists to
    avoid at the 100 TB tier. The partition-local sequential scan is the
    one semantic Catalyst cannot express shuffle-free, so this is a
    justified Python (Arrow-batched) escape hatch; both jobs read the
    same deterministic scan lineage, so partition ids agree.
    """
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    stats = (
        lines.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(
            F.sum(F.when(F.col("level") == 0, 1).otherwise(0)).alias("n_recs"),
            F.min("line_no").alias("first_line"),
            F.max("level").alias("max_level"),
        )
        .collect()
    )
    offsets: dict[int, int] = {}
    running = 0
    for row in sorted(stats, key=lambda r: r["first_line"]):
        offsets[row["_pid"]] = running
        running += row["n_recs"] or 0
    bc = lines.sparkSession.sparkContext.broadcast(offsets)
    # Fresh StructType — StructType.add would MUTATE the frame's cached
    # schema and corrupt mapInPandas' input-column resolution.
    out_schema = StructType(
        list(lines.schema.fields) + [StructField("record_seq", LongType())]
    )

    def assign(batches):
        base = bc.value.get(TaskContext.get().partitionId(), 0)
        count = 0
        for pdf in batches:
            if not len(pdf):
                continue
            local = (pdf["level"] == 0).to_numpy().cumsum() + count
            count = int(local[-1])
            pdf = pdf.copy()
            pdf["record_seq"] = local + base
            yield pdf

    records = lines.mapInPandas(assign, out_schema).filter(F.col("record_seq") > 0)
    if with_depth:
        return records, max((row["max_level"] or 0 for row in stats), default=0)
    return records
