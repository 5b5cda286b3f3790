"""Spark-free RDFC-1.0 parity gate over the graphs whose
canonicalization recurses.

The 36 dense graphs of the ``bnode_dense`` benchmark workload (every
rdfc10 fixture and W3C RDFC-1.0 eval test that reaches n-degree
hashing, ``perfbench.inputs.dense_graphs``) are canonicalized as
committed and as three seeded relabel-and-shuffle copies each.  The
output must equal the committed golden byte for byte, the label map
must be a bijection onto ``c14n0..n-1`` that reproduces it, the
originals must give the golden idMap, and the work the n-degree search
does (``deep_iterations_used``) must stay exactly what it was recorded
as: a change that keeps the output but searches differently shows here.
"""

import os
import random

import pytest

from perfbench.inputs import dense_graphs
from rdf_canonize_spark.rdfc.canonize import RDFC10, MaxDeepIterationsError
from rdf_canonize_spark.rdfc.nquads import parse, serialize
from rdf_canonize_spark.rdfc.terms import BLANK

MAX_WORK_FACTOR = 3
COPIES = 3

GRAPHS = dense_graphs(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ``deep_iterations_used`` per graph at maxWorkFactor 3, recorded before
# the n-degree search was tuned for per-call cost; every copy of a graph
# uses the same number.
DEEP_ITERATIONS = {
    "bipartite-2x2": 4,
    "bipartite-3x3": 33,
    "clique-3": 15,
    "double-edges": 4,
    "isomorphic-components-bridge": 18,
    "layered-2-2": 14,
    "layered-2-2-2": 30,
    "layered-2-3-2": 87,
    "random-00": 2,
    "shared-literal-symmetric": 4,
    "twins-00": 8,
    "twins-01": 8,
    "twins-02": 18,
    "twins-03": 18,
    "twins-04": 8,
    "twins-05": 18,
    "w3c-test017": 4,
    "w3c-test018": 16,
    "w3c-test019": 18,
    "w3c-test020": 129,
    "w3c-test021": 64,
    "w3c-test025": 4,
    "w3c-test026": 5,
    "w3c-test027": 21,
    "w3c-test028": 9,
    "w3c-test040": 225,
    "w3c-test049": 32,
    "w3c-test050": 8,
    "w3c-test051": 2,
    "w3c-test054": 2,
    "w3c-test055": 9,
    "w3c-test067": 512,
    "w3c-test068": 39,
    "w3c-test069": 50,
    "w3c-test081": 9,
    "w3c-test082": 4,
}


def relabel_and_shuffle(quads, name, copy):
    """Seeded fresh blank-node labels and quad order for one copy."""
    rng = random.Random("dense-parity:%s:%d" % (name, copy))
    labels = sorted({t[1] for q in quads for t in q if t[0] == BLANK})
    fresh = rng.sample(range(10 ** 6), len(labels))
    rename = {b: "r%d" % n for b, n in zip(labels, fresh)}
    out = [tuple((t[0], rename[t[1]], None, None) if t[0] == BLANK else t
                 for t in q) for q in quads]
    rng.shuffle(out)
    return out


def canonize_with_map(quads, max_work_factor=MAX_WORK_FACTOR):
    label_map = {}
    run = RDFC10(canonical_id_map=label_map, max_work_factor=max_work_factor)
    return run.main(quads), label_map, run.deep_iterations_used


def relabel(quads, label_map):
    return [tuple((t[0], label_map[t[1]], None, None) if t[0] == BLANK
                  else t for t in q) for q in quads]


@pytest.mark.parametrize("graph", GRAPHS, ids=lambda g: g[0])
def test_dense_graph_parity(graph):
    name, text, golden, golden_id_map = graph
    original = parse(text)
    used = []
    for copy in range(COPIES + 1):
        quads = (original if copy == 0
                 else relabel_and_shuffle(original, name, copy))
        out, label_map, deep = canonize_with_map(quads)
        assert out == golden, (name, copy)
        labels = {t[1] for q in quads for t in q if t[0] == BLANK}
        assert set(label_map) == labels
        assert sorted(label_map.values()) == sorted(
            "c14n%d" % i for i in range(len(labels)))
        assert serialize(relabel(quads, label_map)) == out
        if copy == 0 and golden_id_map is not None:
            assert label_map == golden_id_map
        used.append(deep)
    assert used == [DEEP_ITERATIONS[name]] * (COPIES + 1)


def test_dense_budget_error_text():
    name, text = GRAPHS[2][:2]
    assert name == "clique-3"
    with pytest.raises(MaxDeepIterationsError) as exc:
        canonize_with_map(parse(text), max_work_factor=1)
    assert str(exc.value) == "Maximum deep iterations exceeded (3)."
