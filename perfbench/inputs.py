"""Seeded inputs for the workloads and the resume scenario, built
without Spark.

Everything here is a pure function of ``(workload, seed, size)``: the
same seed gives byte-identical inputs and the same counts.  The program
under test receives only what these functions write.
"""

from __future__ import annotations

import json
import math
import os
import random
import re

from rdf_canonize_spark.pipeline.gazetteer import (
    KNOWN_SURFACES,
    RELATIONS,
    SURFACES,
    entity_iri,
    predicate_iri,
    PRED_NS,
)
from rdf_canonize_spark.rdfc.nquads import parse
from rdf_canonize_spark.rdfc.terms import BLANK, DEFAULT_GRAPH, LITERAL

# Body vocabulary and language mix of the synthetic ``documents`` table
# the repository's correctness data uses (31 words, 10-100 words a body).
BODY_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

STATEMENT_RE = re.compile(r"KG: (\S+ \S+ \S+) \.")
_KNOWN = frozenset(KNOWN_SURFACES)

# statements per page: log-normal body clipped to 5..40, plus a rare
# 1-2k tail so task skew exists.  The tail's size is fixed per input
# size (its sizes spread evenly over the range, its pages seeded), so
# another seed changes the inputs, not their size statistics.
TAIL_SHARE = 0.004
TAIL_RANGE = (1000, 2000)
BODY_RANGE = (5, 40)


def url_of(doc_id):
    """The url ``pipeline.pages`` derives from a ``doc_id``."""
    return "https://crawl.example.org/p/%012d" % doc_id


def _statement_counts(rng, n_docs):
    n_tail = max(1, round(TAIL_SHARE * n_docs))
    lo, hi = TAIL_RANGE
    step = (hi - lo) / n_tail
    counts = [lo + int((i + 0.5) * step) for i in range(n_tail)]
    for _ in range(n_docs - n_tail):
        n = int(round(math.exp(rng.gauss(math.log(14), 0.6))))
        counts.append(min(max(n, BODY_RANGE[0]), BODY_RANGE[1]))
    rng.shuffle(counts)
    return counts


def _statement(rng):
    return "KG: %s %s %s ." % (
        rng.choice(SURFACES), rng.choice(RELATIONS), rng.choice(SURFACES)
    )


def web_documents(seed, n_docs):
    """The ``documents`` table for ``web_pages``: a list of row dicts
    ``(doc_id, text, lang, source, n_chars)`` with unique doc ids."""
    rng = random.Random("web_pages:%d" % seed)
    ids = rng.sample(range(1, 10 ** 9), n_docs)
    docs = []
    for doc_id, n_stmts in zip(ids, _statement_counts(rng, n_docs)):
        words = [rng.choice(BODY_WORDS) for _ in range(rng.randint(10, 100))]
        stmts = [_statement(rng) for _ in range(n_stmts)]
        # statements land between body words, as extraction sees them
        for s in stmts:
            words.insert(rng.randint(0, len(words)), s)
        text = " ".join(words)
        docs.append({
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choice(LANGS),
            "source": "src%d" % (doc_id % 7),
            "n_chars": len(text),
        })
    return docs


def _closed_form_statements(k):
    """The statements ``pipeline.pages`` appends to every page of key
    ``k`` (its documented closed form, m = 1 + k % 5 statements)."""
    return " ".join(
        "KG: %s %s %s ." % (
            SURFACES[(k * 7 + i * 13) % 200],
            RELATIONS[(k + i) % 8],
            SURFACES[(k * 11 + i * 17 + 3) % 200],
        )
        for i in range(k % 5 + 1)
    )


def _term(surface):
    if surface in _KNOWN:
        return "<%s>" % entity_iri(surface)
    return "_:" + surface


def page_nquads(doc):
    """The page's RDF dataset as N-Quads text, derived from the page
    text by the extraction and linking rules the pipeline documents:
    one quad per ``KG:`` statement (gazetteer surfaces are IRIs, the
    rest document-scoped blank nodes) plus one ``title`` literal."""
    url = url_of(doc["doc_id"])
    text = doc["text"] + " " + _closed_form_statements(doc["doc_id"])
    lines = []
    for stmt in STATEMENT_RE.findall(text):
        s, r, o = stmt.split(" ")
        lines.append("%s <%s> %s .\n" % (_term(s), predicate_iri(r), _term(o)))
    lines.append('<%s> <%stitle> "Page %s"@en .\n' % (url, PRED_NS, url[-12:]))
    return "".join(lines)


# --- bnode_dense -------------------------------------------------------

def _fixture_root(repo):
    return os.path.join(repo, "tests", "fixtures")


def dense_graphs(repo):
    """Committed graphs whose canonicalization recurses: every rdfc10
    fixture golden at maxWorkFactor 3 with the default digest, and the
    W3C RDFC-1.0 SHA-256 eval tests of medium/high complexity.

    Returns ``[(name, nquads_text, golden_output, golden_id_map|None)]``
    in a fixed order.  Which of them really recurse is pinned by the
    benchmark's tests, not filtered here, so a kernel change that stops
    recursing on one of them shows as a changed count, not a smaller
    corpus."""
    root = _fixture_root(repo)
    out = []
    for name in DENSE_FIXTURES:
        base = os.path.join(root, "rdfc10", name)
        with open(base + "-golden.json", encoding="utf-8") as f:
            gold = json.load(f)
        with open(base + "-in.nq", encoding="utf-8") as f:
            text = f.read()
        out.append((name, text, gold["output"], gold["idMap"]))
    w3c = os.path.join(root, "w3c_rdfc10", "rdfc10")
    for num in DENSE_W3C:
        stem = os.path.join(w3c, "test%s" % num)
        with open(stem + "-in.nq", encoding="utf-8") as f:
            text = f.read()
        with open(stem + "-rdfc10.nq", encoding="utf-8") as f:
            golden = f.read()
        id_map = None
        if os.path.exists(stem + "-rdfc10map.json"):
            with open(stem + "-rdfc10map.json", encoding="utf-8") as f:
                id_map = json.load(f)
        out.append(("w3c-test" + num, text, golden, id_map))
    return out


DENSE_FIXTURES = [
    "bipartite-2x2", "bipartite-3x3", "clique-3", "double-edges",
    "isomorphic-components-bridge", "layered-2-2", "layered-2-2-2",
    "layered-2-3-2", "random-00", "shared-literal-symmetric",
    "twins-00", "twins-01", "twins-02", "twins-03", "twins-04",
    "twins-05",
]
DENSE_W3C = [
    "017", "018", "019", "020", "021", "025", "026", "027", "028", "040",
    "049", "050", "051", "054", "055", "067", "068", "069", "081", "082",
]


def _quad_row(url, quad, rename):
    def value(term):
        return rename[term[1]] if term[0] == BLANK else term[1]

    s, p, o, g = quad
    return {
        "url": url,
        "s_kind": s[0], "s": value(s),
        "p": p[1],
        "o_kind": o[0], "o": value(o),
        "o_datatype": o[2] if o[0] == LITERAL else None,
        "o_lang": o[3] if o[0] == LITERAL else None,
        "g_kind": g[0], "g": "" if g[0] == DEFAULT_GRAPH else value(g),
    }


def dense_documents(seed, repo, copies):
    """The quad table for ``bnode_dense``: ``copies`` copies of every
    dense graph.  Copy 0 keeps the original labels and quad order;
    every other copy gets seeded blank-node labels (never ``c14n...``,
    which the algorithm passes through) and a seeded quad order.

    Returns ``(rows, docs)``; ``docs`` maps url to
    ``{"graph", "renamed", "quads", "golden", "id_map"}`` where
    ``quads`` are the parsed, relabelled input quads of that copy."""
    rng = random.Random("bnode_dense:%d" % seed)
    rows, docs = [], {}
    graphs = dense_graphs(repo)
    for copy in range(copies):
        for name, text, golden, id_map in graphs:
            quads = parse(text)
            labels = sorted({t[1] for q in quads for t in q if t[0] == BLANK})
            if copy == 0:
                rename = {b: b for b in labels}
            else:
                fresh = rng.sample(range(10 ** 6), len(labels))
                rename = {b: "n%dx%d" % (n, copy) for b, n in zip(labels, fresh)}
                quads = list(quads)
                rng.shuffle(quads)
            url = "urn:bnode-dense:%s:%03d" % (name, copy)
            rows.extend(_quad_row(url, q, rename) for q in quads)
            docs[url] = {
                "graph": name,
                "renamed": copy != 0,
                "quads": [tuple(
                    (t[0], rename[t[1]], t[2], t[3]) if t[0] == BLANK else t
                    for t in q) for q in quads],
                "golden": golden,
                "id_map": id_map if copy == 0 else None,
            }
    # seeded document order across the table
    order = list(docs)
    rng.shuffle(order)
    rank = {u: i for i, u in enumerate(order)}
    rows.sort(key=lambda r: rank[r["url"]])
    return rows, docs


# --- resume_write ------------------------------------------------------

def manifest_urls(seed, urls, share=0.9):
    """The seeded ~``share`` of ``urls`` a crashed prior run completed."""
    rng = random.Random("resume_write:%d" % seed)
    return sorted(u for u in urls if rng.random() < share)
