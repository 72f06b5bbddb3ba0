"""Output checks: each returns a list of problems, empty when correct.

Query results are compared by the repository's oracle-gate rule: row
count, sorted column names, and a hash of the rows sorted by all columns
with floats rounded to 6 decimals. A query without an oracle must return
at least its declared minimum number of rows (the gate's rows-only rule).
"""

from __future__ import annotations

import ast
import csv
import hashlib
import math
import os
import re
from collections import Counter
from datetime import date, datetime
from decimal import Decimal


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def gate_summary(cols: list[str], rows: list[tuple]) -> dict:
    """Row count, sorted columns and order-insensitive hash of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in sorted("\x01".join(_cell(row[i]) for i in order) for row in rows):
        h.update(r.encode("utf-8"))
        h.update(b"\x02")
    return {"rows": len(rows), "cols": sorted(cols), "hash": h.hexdigest()}


def query(expected: dict, got: dict | None) -> list[str]:
    """Compare one query result summary with its oracle entry."""
    if got is None:
        return ["no result"]
    if "min_rows" in expected:
        n = got["rows"]
        return [] if n >= expected["min_rows"] else [
            f"{n} rows < floor {expected['min_rows']}"]
    return [f"{k}: got {got[k]!r}, expected {expected[k]!r}"
            for k in ("rows", "cols", "hash") if got[k] != expected[k]]


def read_groups(dest: str) -> dict[str, tuple[list[str] | None, list[tuple[str, ...]]]]:
    """Every CSV group under ``dest``: (header, rows), values stripped.

    Spark's CSV writer trims leading and trailing spaces by default, so
    values are compared trimmed on both sides.
    """
    out = {}
    for group in sorted(os.listdir(dest)):
        path = os.path.join(dest, group)
        if not os.path.isdir(path):
            continue
        header, rows = None, []
        for part in sorted(os.listdir(path)):
            if part.startswith((".", "_")):
                continue
            with open(os.path.join(path, part), newline="", encoding="utf-8") as fh:
                for i, row in enumerate(csv.reader(fh)):
                    if i == 0:
                        header = row if header in (None, row) else [
                            "<headers differ between part files>"]
                    else:
                        rows.append(tuple(v.strip() for v in row))
        out[group] = (header, rows)
    return out


def _cli_value(stderr: str, label: str):
    m = re.search(rf"^{re.escape(label)}: (.*)$", stderr, re.M)
    return None if m is None else m.group(1)


def ged_import(expected, dest: str, stderr: str) -> list[str]:
    """Compare a published import with what the generator says it holds."""
    problems = []
    if not os.path.isdir(dest):
        return [f"nothing published at {dest}"]
    groups = read_groups(dest)
    if set(groups) != set(expected.groups):
        problems.append(f"groups: got {sorted(groups)}, expected {sorted(expected.groups)}")
    for name, (header, rows) in expected.groups.items():
        if name not in groups:
            continue
        got_header, got_rows = groups[name]
        if got_header != header:
            problems.append(f"{name} header: got {got_header}, expected {header}")
            continue
        want = Counter(tuple(v.strip() for v in r) for r in rows)
        got = Counter(got_rows)
        if got != want:
            missing = next(iter(want - got), None)
            extra = next(iter(got - want), None)
            problems.append(f"{name}: {sum(got.values())} rows, expected "
                            f"{sum(want.values())}; missing {missing}, unexpected {extra}")
    for label, want in (("unused tags", expected.unused_tags),
                        ("missing temple codes", expected.missing_temple_codes),
                        ("skipped records", set())):
        raw = _cli_value(stderr, label)
        got = {t[0] for t in ast.literal_eval(raw)} if raw else set()
        if got != want:
            problems.append(f"{label}: got {sorted(got)}, expected {sorted(want)}")
    for label, want in (("n_edges", expected.n_edges),
                        ("n_property_rows", expected.n_property_rows)):
        raw = _cli_value(stderr, label)
        if raw is None or int(raw) != want:
            problems.append(f"{label}: got {raw}, expected {want}")
    return problems


def lineage(expected, name: str, got: dict | None) -> list[str]:
    """Compare one traversal's counts with the generator's."""
    want = {
        "graph.edges": {"edges": expected.n_edges},
        "graph.ancestors": {"pairs": expected.ancestor_pairs},
        "graph.descendants": {"pairs": expected.ancestor_pairs},
        "graph.components": {"nodes": expected.edge_nodes,
                             "components": expected.components},
    }[name]
    return [] if got == want else [f"got {got}, expected {want}"]
