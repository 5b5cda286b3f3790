"""Expected outputs and the output checks.

Expected web-page outputs come from the standalone ``rdfc.canonize``
through the N-Quads parse path, one process, outside any timed window.
Each check returns the list of failing urls with a reason; an empty
list means the output is correct.
"""

from __future__ import annotations

import re

from rdf_canonize_spark.rdfc import canonize
from rdf_canonize_spark.rdfc.nquads import parse
from rdf_canonize_spark.rdfc.terms import BLANK

from .inputs import page_nquads, url_of

MAX_WORK_FACTOR = 3
_C14N = re.compile(r"c14n(0|[1-9][0-9]*)\Z")


def expected_pages(docs, processes=1):
    """url -> (nquads, label_map) for every web page, computed in
    ``processes`` forked worker processes, stopped before it returns."""
    if processes > 1:
        import multiprocessing

        pool = multiprocessing.get_context("fork").Pool(processes)
        try:
            parts = pool.map(expected_pages,
                             [docs[i::processes] for i in range(processes)])
        finally:
            pool.close()
            pool.join()
        return {url: v for part in parts for url, v in part.items()}
    out = {}
    for doc in docs:
        id_map = {}
        nquads = canonize(
            page_nquads(doc),
            algorithm="RDFC-1.0",
            input_format="application/n-quads",
            max_work_factor=MAX_WORK_FACTOR,
            canonical_id_map=id_map,
        )
        out[url_of(doc["doc_id"])] = (nquads, id_map)
    return out


def _index(rows):
    """``rows``: ``(url, nquads, label_map, error)`` tuples as the
    pipeline returned them -> (url -> row rest, failures for repeats)."""
    by_url, bad = {}, []
    for url, nquads, label_map, error in rows:
        if url in by_url:
            bad.append((url, "duplicate output row"))
        by_url[url] = (nquads, label_map, error)
    return by_url, bad


def check_canonical(rows, expected):
    """Every expected url must be present once with the expected bytes
    and map; no other url may appear."""
    rows, bad = _index(rows)
    for url, (nquads, id_map) in expected.items():
        got = rows.get(url)
        if got is None:
            bad.append((url, "missing"))
        elif got[2] is not None:
            bad.append((url, "quarantined: %s" % got[2]))
        elif got[0] != nquads:
            bad.append((url, "nquads differ"))
        elif dict(got[1] or {}) != id_map:
            bad.append((url, "label_map differs"))
    bad.extend((u, "unexpected url") for u in rows if u not in expected)
    return bad


def _bijection_error(label_map, labels):
    if set(label_map) != labels:
        return "label_map keys are not the input blank nodes"
    values = sorted(label_map.values())
    if len(set(values)) != len(values):
        return "label_map is not injective"
    if not all(_C14N.match(v) for v in values) or sorted(
        int(v[4:]) for v in values
    ) != list(range(len(values))):
        return "label_map is not onto c14n0..n-1"
    return None


def check_dense(rows, docs):
    """``bnode_dense``: golden bytes; a bijective map onto c14n0..n-1
    that turns the input into the output; the golden map exactly for
    copies that keep the original labels."""
    rows, bad = _index(rows)
    for url, doc in docs.items():
        got = rows.get(url)
        if got is None:
            bad.append((url, "missing"))
            continue
        nquads, label_map, error = got
        if error is not None:
            bad.append((url, "quarantined: %s" % error))
            continue
        if nquads != doc["golden"]:
            bad.append((url, "nquads differ from golden"))
            continue
        label_map = dict(label_map or {})
        labels = {t[1] for q in doc["quads"] for t in q if t[0] == BLANK}
        why = _bijection_error(label_map, labels)
        if why:
            bad.append((url, why))
            continue
        relabelled = {
            tuple((BLANK, label_map[t[1]], None, None) if t[0] == BLANK else t
                  for t in q)
            for q in doc["quads"]
        }
        if relabelled != set(parse(nquads)):
            bad.append((url, "label_map does not reproduce the output"))
        elif doc["id_map"] is not None and label_map != doc["id_map"]:
            bad.append((url, "label_map differs from golden idMap"))
    bad.extend((u, "unexpected url") for u in rows if u not in docs)
    return bad


def check_commit(committed, expected, manifest):
    """``resume_write``: the committed batch holds exactly the urls the
    manifest did not list, each with its expected output."""
    manifest = set(manifest)
    todo = set(expected) - manifest
    urls = {r[0] for r in committed}
    bad = [(u, "committed but listed in manifest") for u in urls & manifest]
    bad.extend((u, "not committed") for u in sorted(todo - urls))
    bad.extend(check_canonical(
        [r for r in committed if r[0] not in manifest],
        {u: expected[u] for u in todo & urls},
    ))
    return bad
