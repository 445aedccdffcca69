"""`+` / `*` property-path closures over cyclic graphs, checked against a
pure-Python transitive closure.

A cycle is where a closure's termination test matters: the pair set stops
growing while every round still finds paths.  The graph mixes a cycle with
an exit edge, a self-loop and a diamond, in the default graph and in two
named graphs."""

from collections import defaultdict

import pytest

from trident_spark.query.sparql import query

COLS = ("subj string, pred string, obj_lexical string, obj_kind string, "
        "obj_datatype string, obj_lang string, graph string")

P = "http://p/n"
Q = "http://p/other"
G1, G2 = "http://g/1", "http://g/2"

EDGES = {
    None: [  # default graph
        ("a", "b"), ("b", "c"), ("c", "a"), ("c", "x"),   # cycle + exit
        ("d", "d"),                                       # self-loop
        ("e", "f"), ("e", "g"), ("f", "h"), ("g", "h"),   # diamond
        ("h", "d"),                                       # diamond → loop
    ],
    G1: [("a", "b"), ("b", "a"), ("b", "c"), ("e", "e")],
    G2: [("e", "f"), ("e", "g"), ("f", "h"), ("g", "h"), ("h", "e")],
}
# other-predicate edges: never followed, but their ends are graph terms,
# so `*` pairs them with themselves
OTHER = {None: [("x", "y")], G1: [("c", "z")], G2: []}


def _iri(n: str) -> str:
    return f"http://x/{n}"


def closure(edges) -> set[tuple[str, str]]:
    """Pairs (s, o) joined by a path of one or more edges."""
    adj = defaultdict(set)
    for s, o in edges:
        adj[s].add(o)
    out = set()
    for start in list(adj):
        seen, todo = set(), [start]
        while todo:
            for nxt in adj[todo.pop()]:
                if nxt not in seen:
                    seen.add(nxt)
                    todo.append(nxt)
        out |= {(start, o) for o in seen}
    return out


def reference(op: str, graph) -> set[tuple[str, str]]:
    pairs = closure(EDGES[graph])
    if op == "*":
        nodes = {n for e in EDGES[graph] + OTHER[graph] for n in e}
        pairs |= {(n, n) for n in nodes}
    return {(_iri(s), _iri(o)) for s, o in pairs}


@pytest.fixture(scope="module")
def quads(spark):
    rows = [(_iri(s), pred, _iri(o), "iri", None, None, g)
            for pred, table in ((P, EDGES), (Q, OTHER))
            for g, edges in table.items() for s, o in edges]
    return spark.createDataFrame(rows, COLS).cache()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("op", ["+", "*"])
def test_closure_bound_subject(quads, op):
    got = _rows(query(quads, f"SELECT ?o WHERE {{ <{_iri('a')}> <{P}>{op} ?o }}"))
    assert got == sorted((o,) for s, o in reference(op, None)
                         if s == _iri("a"))


@pytest.mark.parametrize("op", ["+", "*"])
def test_closure_bound_object(quads, op):
    got = _rows(query(quads, f"SELECT ?s WHERE {{ ?s <{P}>{op} <{_iri('d')}> }}"))
    assert got == sorted((s,) for s, o in reference(op, None)
                         if o == _iri("d"))


@pytest.mark.parametrize("op", ["+", "*"])
def test_closure_both_ends_variable(quads, op):
    got = _rows(query(quads, f"SELECT ?s ?o WHERE {{ ?s <{P}>{op} ?o }}"))
    assert got == sorted(reference(op, None))


@pytest.mark.parametrize("op", ["+", "*"])
def test_closure_per_named_graph(quads, op):
    got = _rows(query(quads, "SELECT ?g ?s ?o WHERE { GRAPH ?g { "
                             f"?s <{P}>{op} ?o }} }}"))
    assert got == sorted((g, s, o) for g in (G1, G2)
                         for s, o in reference(op, g))


@pytest.mark.parametrize("op", ["+", "*"])
def test_closure_per_named_graph_bound_subject(quads, op):
    got = _rows(query(quads, "SELECT ?g ?o WHERE { GRAPH ?g { "
                             f"<{_iri('e')}> <{P}>{op} ?o }} }}"))
    assert got == sorted((g, o) for g in (G1, G2)
                         for s, o in reference(op, g) if s == _iri("e"))


def test_closure_releases_superseded_rounds(spark):
    """A `+` closure over a 40-hop chain runs about six doubling rounds;
    only the base relation and the final pair set may stay persisted,
    because the returned frame reads them."""
    jsc = spark.sparkContext._jsc
    n = 40
    rows = [(_iri(i), P, _iri(i + 1), "iri", None, None, None)
            for i in range(n)]
    chain = spark.createDataFrame(rows, COLS)
    before = set(jsc.getPersistentRDDs().keySet())
    df = query(chain, f"SELECT ?o WHERE {{ <{_iri(0)}> <{P}>+ ?o }}")
    left = set(jsc.getPersistentRDDs().keySet()) - before
    assert len(left) <= 2, left
    assert {r["o"] for r in df.collect()} == {
        _iri(i) for i in range(1, n + 1)}
