"""Tests of the benchmark's correctness checker (no Spark needed).

    python3 -m pytest kgbench/test_check.py -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def _graph(seed=7):
    pages = gen.docs_pages(seed, 60, 3)
    aliases = gen.docs_aliases(3)
    return check.canonical_triples(workloads._page_texts(pages),
                                   workloads.docs_table(),
                                   workloads._alias_rows(aliases))


def test_hash_ignores_order_and_sees_duplicates():
    g = _graph()
    assert check.multiset_hash(g) == check.multiset_hash(list(reversed(g)))
    assert check.multiset_hash(g + g[:1]) != check.multiset_hash(g)


def test_flags_one_dropped_triple():
    g = _graph()
    want = check.multiset_hash(g)
    assert check.compare("graph", want, check.multiset_hash(g)) == []
    assert check.compare("graph", want, check.multiset_hash(g[1:]))


def test_flags_one_swapped_canonical_uri():
    g = _graph()
    canonical = sorted({t[1] for t in g if t[1].startswith(gen.KB)})
    assert len(canonical) >= 2, "fixture must link at least two hubs"
    i = next(i for i, t in enumerate(g) if t[1] == canonical[0])
    swapped = list(g)
    swapped[i] = (g[i][0], canonical[1]) + g[i][2:]
    assert check.compare("graph", check.multiset_hash(g),
                         check.multiset_hash(swapped))


def test_union_find_picks_smallest_uri_per_component():
    aliases = [("acme", 1, "http://kb/b"), ("the acme archive", 1,
                                             "http://kb/a"),
               ("zeta", 2, "http://kb/z")]
    triples = [
        ("u", "http://x/1", "p", "ACME!", "literal", None, None),
        ("u", "http://x/2", "p", "The Acme  Archive", "literal", None, None),
        ("u", "http://a/3", "p", "zeta", "literal", None, None),
        ("u", "http://x/4", "p", "acme", "iri", None, None),
    ]
    canon = check.canonical_map(triples, aliases)
    assert canon["http://x/1"] == canon["http://x/2"] == "http://kb/a"
    assert canon["http://kb/b"] == "http://kb/a"
    # the smallest uri wins even when it is a mention's subject
    assert canon["http://kb/z"] == canon["http://a/3"] == "http://a/3"
    assert "http://x/4" not in canon  # IRI objects are not mentions


def test_rdfs_entailed_closes_types_up_the_taxonomy():
    sc, ty = check.RDFS_SUBCLASS, check.RDF_TYPE
    g = [("u", "c2", sc, "c1", "iri", None, None),
         ("u", "c1", sc, "c0", "iri", None, None),
         ("u", "x", ty, "c2", "iri", None, None)]
    closed = check.rdfs_entailed(g)
    assert ("c2", sc, "c0") in closed
    assert {o for s, p, o in closed if s == "x" and p == ty} == {
        "c0", "c1", "c2"}
    assert check.count_by_class(closed) == {"c0": 1, "c1": 1, "c2": 1}


def test_benchmark_json_names_every_reported_metric():
    import json

    import run
    import traced
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == traced.UNITS


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
    print("ok")
