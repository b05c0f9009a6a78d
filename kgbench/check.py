"""Independent correctness check for the KG-construction benchmark.

The expected committed graph is computed without Spark: the pure-Python
csvw kernel (`csvw.convert.PageConverter`) converts every page, literal
objects are matched against the alias dictionary with the same surface
normalisation the linking stage documents, a Python union-find merges the
mention and alias edges into components, and every IRI in a component is
rewritten to the component's smallest URI. The expected query answers are
derived from that graph with plain Python set operations.

A graph is compared as (row count, order-independent hash): the hash is the
sum, modulo 2**64, of a 64-bit digest per row, so it does not depend on row
order or partitioning but changes when any row is dropped, added or
altered.
"""

from __future__ import annotations

import dataclasses
import hashlib
import re
from collections import Counter, defaultdict
from typing import Iterable

from csvweb_spark.csvw.convert import LITERAL, MODE_MINIMAL, PageConverter
from csvweb_spark.csvw.model import Table

IRI = "iri"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
# the committed triple columns the hash covers, in this order
TRIPLE_COLUMNS = ["url", "subj", "pred", "obj", "obj_kind", "obj_datatype",
                  "obj_lang"]
_MASK = (1 << 64) - 1


def row_digest(row: Iterable) -> int:
    data = "\x1f".join("\x00" if v is None else str(v) for v in row)
    return int.from_bytes(
        hashlib.blake2b(data.encode(), digest_size=8).digest(), "little")


def multiset_hash(rows: Iterable[Iterable]) -> tuple[int, int]:
    """(count, order-independent hash) of a multiset of rows."""
    n, h = 0, 0
    for row in rows:
        n += 1
        h = (h + row_digest(row)) & _MASK
    return n, h


def normalize_surface(text: str) -> str:
    """The linking stage's surface normalisation: lower-case, every
    character outside [a-z0-9 ] to a space, whitespace runs collapsed,
    ends trimmed."""
    return re.sub(r"\s+", " ",
                  re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()


class UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        parent = self.parent
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def kernel_triples(pages: dict, table: Table) -> list[tuple]:
    """{url: csv text} -> [(url, subj, pred, obj, obj_kind, obj_datatype,
    obj_lang)] via the pure-Python kernel, one converter per page. Each
    page is its own table at its own URL, as on the Spark path."""
    out = []
    for url, text in pages.items():
        res = PageConverter(mode=MODE_MINIMAL).convert_table(
            dataclasses.replace(table, url=url), text)
        if res.errors:
            raise ValueError(f"kernel reported errors for {url}: "
                             f"{res.errors[:3]}")
        out.extend((url,) + t.astuple() for t in res.triples)
    return out


def canonical_map(triples: list[tuple], aliases: list[tuple]) -> dict:
    """uri -> canonical uri for every uri on a sameAs edge.

    Edges: each literal object whose normalised form equals an alias's
    normalised form links the triple subject to that alias's entity URI;
    alias URIs sharing an entity id link to the id's smallest URI."""
    by_form = defaultdict(list)
    min_uri: dict = {}
    for alias, entity_id, uri in aliases:
        by_form[normalize_surface(alias)].append(uri)
        if entity_id not in min_uri or uri < min_uri[entity_id]:
            min_uri[entity_id] = uri
    uf = UnionFind()
    for _alias, entity_id, uri in aliases:
        if uri != min_uri[entity_id]:
            uf.union(uri, min_uri[entity_id])
    for _url, subj, _pred, obj, kind, _dt, _lang in triples:
        if kind == LITERAL:
            for uri in by_form.get(normalize_surface(obj), ()):
                uf.union(subj, uri)
    # union() keeps the smaller root, so every root is its component's
    # smallest uri - exactly the pipeline's canonical choice
    return {uri: uf.find(uri) for uri in list(uf.parent)}


def canonical_triples(pages: dict, table: Table,
                      aliases: list[tuple]) -> list[tuple]:
    triples = kernel_triples(pages, table)
    canon = canonical_map(triples, aliases)
    return [(url, canon.get(s, s), p,
             canon.get(o, o) if kind == IRI else o, kind, dt, lang)
            for url, s, p, o, kind, dt, lang in triples]


def rdfs_entailed(triples: Iterable[tuple]) -> set[tuple]:
    """Distinct (subj, pred, obj) of the graph plus its rdfs9/rdfs11
    consequences - the rules that fire on graphs without subPropertyOf,
    domain or range statements (the benchmark's graphs)."""
    spo = {(t[1], t[2], t[3]) for t in triples}
    parents = defaultdict(set)
    for s, p, o in spo:
        if p == RDFS_SUBCLASS:
            parents[s].add(o)
    ancestors: dict = {}

    def up(c):
        if c not in ancestors:
            ancestors[c] = set()  # cycle guard
            acc = set()
            for p in parents.get(c, ()):
                acc.add(p)
                acc |= up(p)
            ancestors[c] = acc
        return ancestors[c]

    out = set(spo)
    for c in list(parents):
        out.update((c, RDFS_SUBCLASS, a) for a in up(c))
    for s, p, o in spo:
        if p == RDF_TYPE:
            out.update((s, RDF_TYPE, a) for a in up(o))
    return out


def count_by_class(entailed: set[tuple]) -> Counter:
    """SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c } GROUP BY ?c"""
    return Counter(o for _s, p, o in entailed if p == RDF_TYPE)


def count_text_by_lang(entailed: set[tuple], lang_pred: str,
                       text_pred: str) -> Counter:
    """SELECT ?lang (COUNT(?t) AS ?n)
       WHERE { ?s <lang_pred> ?lang . ?s <text_pred> ?t } GROUP BY ?lang"""
    langs = defaultdict(list)
    texts = Counter()
    for s, p, o in entailed:
        if p == lang_pred:
            langs[s].append(o)
        elif p == text_pred:
            texts[s] += 1
    out = Counter()
    for s, ls in langs.items():
        for lang in ls:
            if texts[s]:
                out[lang] += texts[s]
    return out


def compare(name: str, expected, actual) -> list[str]:
    """[] when equal, else one line describing the mismatch."""
    if expected == actual:
        return []
    return [f"{name}: expected {expected!r}, got {actual!r}"]
