"""Seeded input generators, each with the exact answers its output must give.

The GEDCOM generator writes a forest of family trees (one founding couple
per tree, at most ``MAX_GENERATIONS`` generations, spouses always married
in from outside the tree) and states, independently of the program, what
the import must produce:

- every Neo4j CSV group with its header and its rows,
- the two audit sets (injected unknown tags, missing temple codes),
- the ancestor-pair and connected-component counts of the edges.

The expected values follow the extraction rules that the repository's
golden tests pin: composite keys joined by spaces, the NAME split, the
boolean re-encoding of vendor flags, temple decoding with its
``<name> Temple`` place rewrite, EVEN/TYPE promotion, pointers hoisted to
the record as edges, last assignment wins, and level-0 values ignored.

The document generator draws the ``documents`` and ``embeddings`` tables
that the LLM-prep queries read from the repository's sf0.01 fixture, with
exact and near duplicates chosen by the seed; their answers come from the
DuckDB oracle SQL (``run.oracle_expectations``).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

# The tree depth is capped: an 8-generation tree makes the ancestor
# result grow past what a short run can hold.
MAX_GENERATIONS = 6

GIVEN = ("Ada Anna Carl Clara Edith Emil Frida Hans Ida Johan Karl Lena "
         "Maria Nils Olga Oskar Paul Rosa Sven Tilda").split()
SURNAMES = ("Berg Dahl Ek Falk Holm Lind Lund Moberg Nyberg Sandberg "
            "Strand Wall").split()
PLACES = ("Springfield Ohio|Riverton Utah|Lakeside Idaho|Fairview Iowa|"
          "Oakdale Texas|Millbrook Kansas|Hillcrest Oregon").split("|")
MONTHS = "JAN FEB MAR APR MAY JUN JUL AUG SEP OCT NOV DEC".split()
EVENT_TYPES = ("Graduation", "Emigration", "Military Service")
# Temple codes in the engine's dictionary, with their decoded names.
TEMPLES = {
    "SLAKE": "Salt Lake City Utah",
    "LOGAN": "Logan Utah",
    "MANTI": "Manti Utah",
    "PROVO": "Provo Utah",
    "OGDEN": "Ogden Utah",
    "NAUVO": "Nauvoo Illinois",
}
# Codes that are in no temple dictionary: each use must be audited.
MISSING_TEMPLES = ("QZQZQ", "XXXXX", "NOPE1", "ZZ9")
# Tags in no GEDCOM dictionary: each use must be audited as unused.
UNKNOWN_TAGS = ("_ZZBENCH", "_ZZCUSTOM", "_ZZFLAG", "_ZZBLOCK")
# The repository's sf0.01 ``documents`` and ``embeddings`` tables, copied
# here so that the benchmark reads nothing outside its checkout.
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


@dataclass
class Gedcom:
    """A generated GEDCOM text and everything its import must produce."""

    text: str
    # group name -> (header, rows); rows hold the values as written.
    groups: dict[str, tuple[list[str], list[tuple[str, ...]]]]
    unused_tags: set[str]
    missing_temple_codes: set[str]
    n_property_rows: int
    n_edges: int
    ancestor_pairs: int
    edge_nodes: int
    components: int


@dataclass
class _Record:
    tag: str
    xref: str | None
    lines: list[tuple[int, str, str]] = field(default_factory=list)
    props: dict[str, str] = field(default_factory=dict)
    edges: list[tuple[str, str, str]] = field(default_factory=list)

    def add(self, level: int, tag: str, value: str = "") -> None:
        self.lines.append((level, tag, value))


class _Forest:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.records: list[_Record] = []
        self.n_indi = self.n_fam = self.n_sour = self.n_note = 0
        self.parents: dict[str, tuple[str, str]] = {}
        self.unused: set[str] = set()
        self.missing: set[str] = set()

    def _date(self, year: int) -> str:
        return f"{self.rng.randint(1, 28)} {self.rng.choice(MONTHS)} {year}"

    def _temple(self, rec: _Record, key: str) -> None:
        """An LDS ordinance with a temple code that decodes or misses."""
        rec.add(2, "TEMP", code := self._temple_code())
        rec.props[f"{key} Temple"] = TEMPLES.get(code, code)
        rec.add(2, "PLAC", code)
        rec.props[f"{key} Place"] = (
            TEMPLES[code] + " Temple" if code in TEMPLES else code
        )

    def _temple_code(self) -> str:
        if self.rng.random() < 0.25:
            code = self.rng.choice(MISSING_TEMPLES)
            self.missing.add(code)
            return code
        return self.rng.choice(sorted(TEMPLES))

    def _unknown(self, rec: _Record) -> None:
        tag = self.rng.choice(UNKNOWN_TAGS)
        self.unused.add(tag)
        if tag == "_ZZBLOCK":  # a known child under an unknown tag is dropped
            rec.add(1, tag)
            rec.add(2, "DATE", "1 JAN 1900")
        else:
            rec.add(1, tag, "vendor data")

    def person(self, sex: str, surname: str, year: int, sources: list[str],
               famc: str | None) -> _Record:
        rng = self.rng
        self.n_indi += 1
        xref = f"I{self.n_indi}"
        rec = _Record("INDI", xref, props={"Gedcom Id:ID": xref})
        given = rng.choice(GIVEN)
        rec.add(1, "NAME", name := f"{given} /{surname}/")
        rec.props.update({"Name": name, "Given Name": given, "Surname": surname})
        rec.add(1, "SEX", sex)
        rec.props["Sex"] = sex
        rec.add(1, "BIRT")
        rec.add(2, "DATE", d := self._date(year))
        rec.add(2, "PLAC", p := rng.choice(PLACES))
        rec.props.update({"Birth Date": d, "Birth Place": p})
        if rng.random() < 0.5:  # nested pointer: hoisted to the person
            rec.add(2, "SOUR", f"@{(s := rng.choice(sources))}@")
            rec.edges.append((s, "Source", "SOUR"))
        if rng.random() < 0.3:
            rec.add(1, "DEAT")
            rec.add(2, "DATE", d := self._date(year + rng.randint(40, 90)))
            rec.props["Death Date"] = d
        if rng.random() < 0.3:
            rec.add(1, "BAPL")
            rec.add(2, "DATE", d := self._date(year + 8))
            rec.props["LDS Baptism Date"] = d
            self._temple(rec, "LDS Baptism")
        if rng.random() < 0.3:
            rec.add(1, "EVEN")
            rec.add(2, "TYPE", kind := rng.choice(EVENT_TYPES))
            rec.add(2, "DATE", d := self._date(year + 20))
            rec.props[f"{kind} Date"] = d
        if rng.random() < 0.3:
            flag = rng.choice(("Y", "N", ""))
            rec.add(1, "_PRIMARY", flag)
            rec.props["Primary"] = "True" if flag else "False"
        if rng.random() < 0.05:
            self._unknown(rec)
        if rng.random() < 0.15:
            rec.add(1, "NOTE", f"@{self.note()}@")
            rec.edges.append((f"N{self.n_note}", "Note", "NOTE"))
        if famc is not None:
            rec.add(1, "FAMC", f"@{famc}@")
            rec.edges.append((famc, "Child in Family", "FAMC"))
        self.records.append(rec)
        return rec

    def note(self) -> str:
        self.n_note += 1
        xref = f"N{self.n_note}"
        rec = _Record("NOTE", xref, props={"Gedcom Id:ID": xref})
        rec.lines.append((0, "NOTE", "first line, not a property"))
        for i in range(self.rng.randint(1, 3)):
            rec.add(1, "CONT", text := f"continued line {i + 1} of {xref}")
        rec.props["Continued"] = text  # the last CONT wins
        self.records.append(rec)
        return xref

    def source(self) -> str:
        self.n_sour += 1
        xref = f"S{self.n_sour}"
        rec = _Record("SOUR", xref, props={"Gedcom Id:ID": xref})
        rec.add(1, "TITL", t := f"Parish register {self.n_sour}")
        rec.add(1, "AUTH", a := f"Clerk {self.rng.choice(SURNAMES)}")
        rec.props.update({"Title": t, "Author": a})
        if self.rng.random() < 0.5:
            rec.add(1, "_MASTER", "Y")
            rec.props["In Master Listing"] = "True"
        self.records.append(rec)
        return xref

    def family(self, husb: _Record, wife: _Record, year: int, generation: int,
               sources: list[str], generations: int) -> None:
        rng = self.rng
        self.n_fam += 1
        xref = f"F{self.n_fam}"
        fam = _Record("FAM", xref, props={"Gedcom Id:ID": xref})
        self.records.append(fam)
        for role, tag, spouse in (("Husband", "HUSB", husb), ("Wife", "WIFE", wife)):
            fam.add(1, tag, f"@{spouse.xref}@")
            fam.edges.append((spouse.xref, role, tag))
            spouse.add(1, "FAMS", f"@{xref}@")
            spouse.edges.append((xref, "Spouse in Family", "FAMS"))
        fam.add(1, "MARR")
        fam.add(2, "DATE", d := self._date(year))
        fam.add(2, "PLAC", p := rng.choice(PLACES))
        fam.props.update({"Marriage Date": d, "Marriage Place": p})
        if rng.random() < 0.2:
            fam.add(1, "SLGS")
            self._temple(fam, "Sealing to Spouse")
        if rng.random() < 0.05:
            self._unknown(fam)
        surname = husb.props["Surname"]
        for _ in range(rng.randint(1, 4)):
            sex = rng.choice("MF")
            child = self.person(sex, surname, year + rng.randint(1, 15), sources, xref)
            fam.add(1, "CHIL", f"@{child.xref}@")
            fam.edges.append((child.xref, "Child", "CHIL"))
            self.parents[child.xref] = (husb.xref, wife.xref)
            if generation + 1 < generations and rng.random() < 0.8:
                other = self.person("F" if sex == "M" else "M", rng.choice(SURNAMES),
                                    year + rng.randint(1, 15), sources, None)
                h, w = (child, other) if sex == "M" else (other, child)
                self.family(h, w, year + 25, generation + 1, sources, generations)


def gedcom(seed: int, people: int, generations: int) -> Gedcom:
    """Family trees of ``generations`` generations until ``people`` are born.

    Trees are added whole, so the input size stays within one tree of
    ``people`` individuals whatever the seed.
    """
    if not 1 <= generations <= MAX_GENERATIONS:
        raise ValueError(f"generations must be in 1..{MAX_GENERATIONS}")
    rng = random.Random(seed)
    forest = _Forest(rng)
    head = _Record("HEAD", None, props={"Character": "UTF-8", "Gedcom Version": "5.5.1"})
    head.add(1, "CHAR", "UTF-8")
    head.add(1, "GEDC")
    head.add(2, "VERS", "5.5.1")
    forest.records.append(head)
    while forest.n_indi < people:
        sources = [forest.source() for _ in range(3)]
        year = rng.randint(1700, 1750)
        surname = rng.choice(SURNAMES)
        husb = forest.person("M", surname, year, sources, None)
        wife = forest.person("F", rng.choice(SURNAMES), year + 2, sources, None)
        forest.family(husb, wife, year + 22, 0, sources, generations)
    forest.records.append(_Record("TRLR", None))
    return _expect(forest)


def _expect(forest: _Forest) -> Gedcom:
    out: list[str] = []
    keys: dict[str, set[str]] = {}
    node_rows: dict[str, list[dict[str, str]]] = {}
    edges: dict[str, list[tuple[str, str, str]]] = {}
    for rec in forest.records:
        out.append(f"0 @{rec.xref}@ {rec.tag}" if rec.xref else f"0 {rec.tag}")
        if rec.lines and rec.lines[0][0] == 0:
            out[-1] += f" {rec.lines[0][2]}"
        for level, tag, value in rec.lines:
            if level:
                out.append(f"{level} {tag} {value}" if value else f"{level} {tag}")
        if rec.props:
            keys.setdefault(rec.tag, set()).update(rec.props)
            node_rows.setdefault(rec.tag, []).append(rec.props)
        for dst, rel, tag in rec.edges:
            edges.setdefault(tag, []).append((rec.xref, dst, rel))
    labels = {"HEAD": "Header", "INDI": "Individual", "FAM": "Family",
              "SOUR": "Source", "NOTE": "Note"}
    groups: dict[str, tuple[list[str], list[tuple[str, ...]]]] = {}
    for tag, ks in keys.items():
        cols = sorted(ks, key=lambda c: (c != "Gedcom Id:ID", c))
        rows = [tuple(p.get(c, "") for c in cols) + (labels[tag],) for p in node_rows[tag]]
        groups[f"nodes-{tag}"] = (cols + [":LABEL"], rows)
    for tag, rows in edges.items():
        groups[f"relationships-{tag}"] = ([":START_ID", ":END_ID", ":TYPE"], rows)

    all_edges = [(s, d) for rows in edges.values() for s, d, _ in rows]
    return Gedcom(
        text="\n".join(out) + "\n",
        groups=groups,
        unused_tags=forest.unused,
        missing_temple_codes=forest.missing,
        n_property_rows=sum(len(p) for rows in node_rows.values() for p in rows),
        n_edges=len(all_edges),
        ancestor_pairs=_ancestor_pairs(forest.parents),
        edge_nodes=len({n for e in all_edges for n in e}),
        components=_components(all_edges),
    )


def _ancestor_pairs(parents: dict[str, tuple[str, str]]) -> int:
    memo: dict[str, frozenset[str]] = {}

    def up(person: str) -> frozenset[str]:
        if person not in memo:
            found: set[str] = set()
            for p in parents.get(person, ()):
                found.add(p)
                found |= up(p)
            memo[person] = frozenset(found)
        return memo[person]

    return sum(len(up(p)) for p in parents)


def _components(edges: list[tuple[str, str]]) -> int:
    root: dict[str, str] = {}

    def find(x: str) -> str:
        root.setdefault(x, x)
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in edges:
        root[find(a)] = find(b)
    return len({find(x) for x in list(root)})


def documents(seed: int, n_docs: int, n_vecs: int, copies: int = 2,
              fixture: str = FIXTURE):
    """(documents, embeddings) as pyarrow tables, made from the sf0.01 fixture.

    A seeded sample of ``n_docs`` documents and ``n_vecs`` vectors is
    replicated ``copies`` times with its keys offset by the fixture's key
    range per copy, as ``tools/make_sf_scale.py`` scales a fixture. In
    every copy after the first the seed perturbs each row: half the
    documents stay exact duplicates and the rest get one to three words
    replaced by other words of the fixture; every vector moves by small
    noise, renormalized like the fixture's. Exact duplicate vectors would
    send ``dedup_embedding_cosine`` down its collapse path, which made a
    cold pass about 5 s longer on a 4-core host; the run budget has no
    room for it.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    src_docs = pq.read_table(os.path.join(fixture, "documents.parquet")).to_pylist()
    src_emb = pq.read_table(os.path.join(fixture, "embeddings.parquet")).to_pylist()
    vocab = sorted({w for d in src_docs for w in d["text"].split()})
    docs = [src_docs[i] for i in sorted(rng.sample(range(len(src_docs)), n_docs))]
    vecs = [src_emb[i] for i in sorted(rng.sample(range(len(src_emb)), n_vecs))]
    doc_span = max(d["doc_id"] for d in src_docs) + 1
    vec_span = max(v["vec_id"] for v in src_emb) + 1

    out_docs, out_vecs = [], []
    nrng = np.random.default_rng(seed)
    for k in range(copies):
        for d in docs:
            text = d["text"]
            if k and rng.random() < 0.5:
                words = text.split()
                for _ in range(rng.randint(1, 3)):
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                text = " ".join(words)
            out_docs.append(dict(d, doc_id=d["doc_id"] + k * doc_span, text=text,
                                 n_chars=len(text)))
        for v in vecs:
            e = np.asarray(v["embedding"], np.float32)
            if k:
                e = e + nrng.normal(0.0, 0.02, e.shape).astype(np.float32)
                e = e / np.linalg.norm(e)
            out_vecs.append(dict(v, vec_id=v["vec_id"] + k * vec_span,
                                 embedding=[float(x) for x in e.astype(np.float32)]))
    docs_schema = pq.read_schema(os.path.join(fixture, "documents.parquet"))
    emb_schema = pq.read_schema(os.path.join(fixture, "embeddings.parquet"))
    return (pa.Table.from_pylist(out_docs, docs_schema.remove_metadata()),
            pa.Table.from_pylist(out_vecs, emb_schema.remove_metadata()))


def edges_table(g: Gedcom):
    """The extracted edges (src, dst, rel_type, edge_tag) as a pyarrow table."""
    import pyarrow as pa

    rows = [(s, d, rel, name.split("-", 1)[1])
            for name, (_h, group) in sorted(g.groups.items())
            if name.startswith("relationships-") for s, d, rel in group]
    cols = list(zip(*rows))
    return pa.table({k: list(v) for k, v in zip(("src", "dst", "rel_type", "edge_tag"), cols)})
