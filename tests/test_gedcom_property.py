"""Property-based differential test for the GEDCOM extraction.

Hypothesis generates random record trees over a mixed known/unknown tag
vocabulary; a ~60-line pure-Python oracle re-implements the reference
semantics (/root/reference/lib/csv_writer.js:123-186 — dictionary gate,
emission guards, pointer hoisting, EVEN promotion, per-tag transforms,
last-wins flattening) independently of the Spark plan, and the two are
compared exactly. This is SURVEY.md §5.3: invariants like "every edge
anchors at a level-0 xref" fall out of full-output equality.
"""

from collections import Counter

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from node_gedcom_graph_spark.functions.dictionaries import (
    BOOLEAN_TAGS,
    GEDCOM_TAGS,
    TEMPLE_CODES,
)
from node_gedcom_graph_spark.gedcom.extract import extract_graph
from node_gedcom_graph_spark.gedcom.parser import assign_records, lines_from_string

TEMPLE_HIT = sorted(TEMPLE_CODES)[0]

TOP_TAGS = ["INDI", "FAM", "SOUR", "ZZZZ"]  # ZZZZ unknown -> record skipped
CHILD_TAGS = ["NAME", "SEX", "BIRT", "DATE", "PLAC", "TEMP", "EVEN", "TYPE",
              "NOTE", "_PRIM", "FOO", "_QZ"]  # FOO/_QZ unknown -> dropped
VALUES = ["", "x", "y z", "@P1@", "@Q2@", "John /Smith/ Jr", "/Only/",
          TEMPLE_HIT, "nope", "Hello/World/Again", "John "]


@st.composite
def record_tree(draw, depth=0):
    tag = draw(st.sampled_from(TOP_TAGS if depth == 0 else CHILD_TAGS))
    value = "" if depth == 0 else draw(st.sampled_from(VALUES))
    if tag == "TYPE":
        value = draw(st.sampled_from(["Graduation", "Census"]))  # non-empty
    n_children = draw(
        st.integers(0, 0 if depth >= 3 else 3 if depth else 4)
    )
    children = [draw(record_tree(depth=depth + 1)) for _ in range(n_children)]
    xref = None
    if depth == 0:
        xref = draw(st.one_of(st.none(), st.sampled_from(["R1", "R2", "R3"])))
    elif children and draw(st.booleans()) and draw(st.booleans()):
        xref = "N9"  # rare nested subtree id
    return {"tag": tag, "value": value, "xref": xref, "children": children}


def render(records):
    out = []
    def emit(node, level):
        xref = f" @{node['xref']}@" if node["xref"] else ""
        val = f" {node['value']}" if node["value"] else ""
        out.append(f"{level}{xref} {node['tag']}{val}")
        for ch in node["children"]:
            emit(ch, level + 1)
    for r in records:
        emit(r, 0)
    return "\n".join(out)


# ------------------------------------------------------------- oracle


def oracle(records):
    """Independent re-implementation of the extraction semantics."""
    nodes = []  # (record_seq, record_id, label, root_tag, flat_key, value)
    edges = Counter()  # (src, dst, rel_type, edge_tag) -> count
    seq = 0
    for rec in records:
        seq += 1  # record_seq counts ALL level-0 records, skipped or not
        label = GEDCOM_TAGS.get(rec["tag"])
        if label is None:
            continue
        root_id = rec["xref"]
        props = {}  # flat_key -> value (last wins, document order)

        def walk(node, prefix):
            for ch in node["children"]:
                friendly = GEDCOM_TAGS.get(ch["tag"])
                if friendly is None:
                    continue  # unknown tag: subtree dropped
                v = ch["value"]
                guard = (v != "") or not ch["children"]
                is_ptr = v.startswith("@")
                if guard and is_ptr:
                    if root_id is not None:
                        edges[(root_id, v.replace("@", ""), friendly, ch["tag"])] += 1
                elif guard and not (
                    ch["tag"] == "TYPE" and node["tag"] == "EVEN"
                ):
                    if ch["tag"] == "NAME":
                        pieces = v.split("/")
                        has_slash = "/" in v
                        given = (
                            v if not has_slash
                            else pieces[0] if pieces[0].strip() else None
                        )
                        surname = (
                            pieces[1]
                            if has_slash and len(pieces) >= 2 and pieces[1].strip()
                            else None
                        )
                        if given is not None:
                            props[" ".join(prefix + ["Given Name"])] = given
                        if surname is not None:
                            props[" ".join(prefix + ["Surname"])] = surname
                        props[" ".join(prefix + [friendly])] = v
                    else:
                        if ch["tag"] in BOOLEAN_TAGS:
                            out = "True" if v else "False"
                        elif ch["tag"] == "TEMP":
                            out = TEMPLE_CODES.get(v, v)
                        elif ch["tag"] == "PLAC" and v in TEMPLE_CODES:
                            out = TEMPLE_CODES[v] + " Temple"
                        else:
                            out = v
                        props[" ".join(prefix + [friendly])] = out
                if ch["children"]:
                    segment = friendly
                    if ch["tag"] == "EVEN":
                        types = [
                            g["value"] for g in ch["children"] if g["tag"] == "TYPE"
                        ]
                        if types:
                            segment = types[-1]
                    if ch["xref"] is not None:
                        props[" ".join(prefix + [segment, "Gedcom Id:ID"])] = ch["xref"]
                    walk(ch, prefix + [segment])

        if root_id is not None:
            props["Gedcom Id:ID"] = root_id
        walk(rec, [])
        for k, v in props.items():
            nodes.append((seq, root_id, label, rec["tag"], k, v))
    return sorted(nodes), edges


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(st.lists(record_tree(), min_size=1, max_size=6))
def test_extraction_matches_python_oracle(spark, records):
    text = render(records)
    lines = assign_records(lines_from_string(spark, text))
    g = extract_graph(lines)
    got_nodes = sorted(
        (r.record_seq, r.record_id, r.label, r.root_tag, r.flat_key, r.value)
        for r in g.nodes_long.collect()
    )
    got_edges = Counter(
        (r.src, r.dst, r.rel_type, r.edge_tag) for r in g.edges.collect()
    )
    want_nodes, want_edges = oracle(records)
    assert got_nodes == want_nodes
    assert got_edges == want_edges

