"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import checks, inputs, tracing
from rdf_canonize_spark.rdfc.canonize import RDFC10
from rdf_canonize_spark.rdfc.nquads import parse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS = 150


def _page_counts(docs):
    return [inputs.page_nquads(d).count("\n") for d in docs]


def size_stats(counts):
    counts = sorted(counts)
    return {"docs": len(counts), "total": sum(counts),
            "p50": counts[len(counts) // 2], "max": counts[-1]}


def _expected_rows(expected):
    return [(u, nq, dict(m), None) for u, (nq, m) in expected.items()]


@pytest.fixture(scope="module")
def web():
    docs = inputs.web_documents(7, N_DOCS)
    return docs, checks.expected_pages(docs)


def test_expected_pages_in_worker_processes_match(web):
    docs, expected = web
    assert checks.expected_pages(docs, 2) == expected


@pytest.fixture(scope="module")
def dense():
    return inputs.dense_documents(7, REPO, 2)


# --- determinism -------------------------------------------------------

def test_same_seed_same_web_inputs_and_counts():
    a = inputs.web_documents(3, N_DOCS)
    b = inputs.web_documents(3, N_DOCS)
    assert a == b
    assert size_stats(_page_counts(a)) == size_stats(
        _page_counts(b))


def test_other_seed_other_web_inputs_same_size_statistics():
    a = inputs.web_documents(3, 2000)
    b = inputs.web_documents(4, 2000)
    assert a != b
    assert {d["doc_id"] for d in a}.isdisjoint({d["doc_id"] for d in b}) \
        or a[0]["text"] != b[0]["text"]
    sa, sb = (size_stats(_page_counts(x)) for x in (a, b))
    assert sa["docs"] == sb["docs"]
    # the median page is drawn from the same distribution
    assert abs(sa["p50"] - sb["p50"]) <= 2
    assert sa["max"] >= inputs.TAIL_RANGE[0] and sb["max"] >= inputs.TAIL_RANGE[0]


def test_dense_inputs_are_seeded():
    rows_a, docs_a = inputs.dense_documents(5, REPO, 3)
    rows_b, docs_b = inputs.dense_documents(5, REPO, 3)
    rows_c, docs_c = inputs.dense_documents(6, REPO, 3)
    assert rows_a == rows_b
    assert rows_a != rows_c
    # another seed renames and reorders, it never resizes
    assert len(rows_a) == len(rows_c)
    assert sorted(docs_a) == sorted(docs_c)


def test_manifest_share_is_seeded():
    urls = [inputs.url_of(i) for i in range(1000)]
    a = inputs.manifest_urls(1, urls)
    assert a == inputs.manifest_urls(1, urls)
    assert a != inputs.manifest_urls(2, urls)
    assert 850 < len(a) < 950


def test_renamed_copies_never_use_canonical_labels(dense):
    rows, _ = dense
    for r in rows:
        for kind, value in ((r["s_kind"], r["s"]), (r["o_kind"], r["o"])):
            if kind == 1 and r["url"].endswith(":001"):
                assert not value.startswith("c14n")


def test_every_dense_graph_recurses_and_matches_its_golden(dense):
    _, docs = dense
    for url, doc in docs.items():
        engine = RDFC10(max_work_factor=checks.MAX_WORK_FACTOR)
        assert engine.main(doc["quads"]) == doc["golden"], url
        assert engine.deep_iterations_used > 0, url


# --- the checks pass on correct output ---------------------------------

def test_expected_pages_pass_their_own_check(web):
    _, expected = web
    assert checks.check_canonical(_expected_rows(expected), expected) == []


def test_dense_reference_output_passes(dense):
    _, docs = dense
    rows = []
    for url, doc in docs.items():
        id_map = {}
        out = RDFC10(canonical_id_map=id_map,
                     max_work_factor=checks.MAX_WORK_FACTOR).main(doc["quads"])
        rows.append((url, out, id_map, None))
    assert checks.check_dense(rows, docs) == []


# --- planted faults fail loudly ----------------------------------------

def test_one_altered_nquads_byte_fails(web):
    _, expected = web
    rows = _expected_rows(expected)
    url, nq, m, err = rows[5]
    rows[5] = (url, nq[:10] + chr(ord(nq[10]) ^ 1) + nq[11:], m, err)
    assert checks.check_canonical(rows, expected) == [(url, "nquads differ")]


def test_dropped_url_fails(web):
    _, expected = web
    rows = _expected_rows(expected)
    dropped = rows.pop(3)[0]
    assert checks.check_canonical(rows, expected) == [(dropped, "missing")]


def test_duplicated_url_fails(web):
    _, expected = web
    rows = _expected_rows(expected)
    rows.append(rows[0])
    assert checks.check_canonical(rows, expected) == [
        (rows[0][0], "duplicate output row")]


def test_quarantined_document_fails(web):
    _, expected = web
    rows = _expected_rows(expected)
    url = rows[0][0]
    rows[0] = (url, None, None, "Maximum deep iterations exceeded (8).")
    bad = checks.check_canonical(rows, expected)
    assert bad == [(url, "quarantined: Maximum deep iterations exceeded (8).")]
    assert tracing.quarantine_counts(bad)["budget"] == 1


def _dense_rows(docs):
    rows = []
    for url, doc in docs.items():
        id_map = {}
        out = RDFC10(canonical_id_map=id_map,
                     max_work_factor=checks.MAX_WORK_FACTOR).main(doc["quads"])
        rows.append([url, out, id_map, None])
    return rows


def test_non_bijective_label_map_fails(dense):
    _, docs = dense
    rows = _dense_rows(docs)
    url, _, id_map, _ = rows[0]
    first, second = sorted(id_map)[:2]
    id_map[second] = id_map[first]
    bad = checks.check_dense([tuple(r) for r in rows], docs)
    assert bad == [(url, "label_map is not injective")]


def test_label_map_that_does_not_reproduce_output_fails(dense):
    _, docs = dense
    rows = _dense_rows(docs)
    # swap two labels of an asymmetric graph: still a bijection
    url = next(u for u in docs if docs[u]["graph"] == "w3c-test017"
               and docs[u]["renamed"])
    row = next(r for r in rows if r[0] == url)
    a, b = sorted(row[2])[:2]
    row[2][a], row[2][b] = row[2][b], row[2][a]
    assert checks.check_dense([tuple(r) for r in rows], docs) == [
        (url, "label_map does not reproduce the output")]


def test_dense_golden_byte_change_fails(dense):
    _, docs = dense
    rows = _dense_rows(docs)
    rows[1][1] = rows[1][1].replace("c14n0", "c14n9", 1)
    assert checks.check_dense([tuple(r) for r in rows], docs) == [
        (rows[1][0], "nquads differ from golden")]


def _commit_case(web):
    docs, expected = web
    urls = sorted(expected)
    manifest = inputs.manifest_urls(11, urls)
    todo = [u for u in urls if u not in set(manifest)]
    committed = [(u,) + tuple(_expected_rows({u: expected[u]})[0][1:])
                 for u in todo]
    return expected, manifest, committed


def test_committed_batch_passes(web):
    expected, manifest, committed = _commit_case(web)
    assert checks.check_commit(committed, expected, manifest) == []


def test_committed_url_set_short_by_one_fails(web):
    expected, manifest, committed = _commit_case(web)
    missing = committed.pop()[0]
    assert checks.check_commit(committed, expected, manifest) == [
        (missing, "not committed")]


def test_committed_url_set_long_by_one_fails(web):
    expected, manifest, committed = _commit_case(web)
    extra = manifest[0]
    committed.append((extra,) + tuple(
        _expected_rows({extra: expected[extra]})[0][1:]))
    bad = checks.check_commit(committed, expected, manifest)
    assert (extra, "committed but listed in manifest") in bad


# --- tracing helpers ---------------------------------------------------

def test_stratified_sample_is_seeded_and_weighted():
    rows = {"u%04d" % i: [()] * (1 + (i * 7919) % 150) for i in range(3000)}
    rows.update({"tail%d" % i: [()] * 1500 for i in range(3)})
    docs, timings, sizes = tracing.stratified_sample(rows, 1)
    assert (docs, timings) == tracing.stratified_sample(rows, 1)[:2]
    assert docs != tracing.stratified_sample(rows, 2)[0]
    assert sum(p for p, _, _ in sizes) == len(rows)
    assert all(s == min(p, tracing.STRATUM_QUOTA) for p, s, _ in sizes)
    # both weightings estimate the whole input
    assert sum(w for _, w in docs) == pytest.approx(len(rows))
    assert sum(w for _, w in timings) == pytest.approx(len(rows))
    # the three tail documents are each timed MAX_REPEATS times
    assert sizes[-1] == (3, 3, 3 * tracing.MAX_REPEATS)


def test_weighted_p99_has_ten_samples_beyond_it():
    rows = {"u%03d" % i: [()] * (5 + i % 36) for i in range(598)}
    rows.update({"tail%d" % i: [()] * 1500 for i in range(2)})
    _, timings, _ = tracing.stratified_sample(rows, 1)
    cost = [len(rows[u]) for u, _ in timings]
    p99 = tracing.weighted_quantile(cost, [w for _, w in timings], 0.99)
    assert sum(c > p99 for c in cost) >= 10


def test_weighted_quantile():
    assert tracing.weighted_quantile([1, 2, 3, 4], [1, 1, 1, 1], 0.5) == 2
    assert tracing.weighted_quantile([1, 2, 3, 4], [1, 1, 1, 97], 0.5) == 4


def test_span_self_time_excludes_children():
    spans = tracing.Spans("t")
    with spans.span("outer"):
        with spans.span("inner"):
            pass
    outer, inner = spans.spans
    selfs = spans.self_times()
    assert inner["parent"] == outer["id"]
    assert selfs[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))


def test_rdfc_counters_count_recursion_and_restore(dense):
    import importlib

    mod = importlib.import_module("rdf_canonize_spark.rdfc.canonize")
    original = mod.RDFC10.hash_n_degree_quads
    _, docs = dense
    doc = next(d for d in docs.values() if d["graph"] == "clique-3")
    with tracing.rdfc_counters() as c:
        RDFC10(max_work_factor=3).main(doc["quads"])
    assert c["n_degree.calls"] == 15
    assert c["first_degree.calls"] == 3
    assert c["permutations"] > 0
    assert mod.RDFC10.hash_n_degree_quads is original


def test_page_nquads_parse():
    doc = inputs.web_documents(1, 1)[0]
    quads = parse(inputs.page_nquads(doc))
    assert quads[-1][1][1].endswith("/title")


def test_input_files_keep_documents_whole(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.workloads import QUAD_SCHEMA, _write_parts

    rows, docs = inputs.dense_documents(3, REPO, 2)
    _write_parts(rows, QUAD_SCHEMA, str(tmp_path), 8, "url")
    seen = {}
    for i in range(8):
        table = pq.read_table(str(tmp_path / ("part-%03d.parquet" % i)))
        for url in set(table.column("url").to_pylist()):
            assert url not in seen, "document split across files"
            seen[url] = i
    assert set(seen) == set(docs)


def test_covered_time_is_the_union_of_intervals():
    assert tracing.covered_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.covered_s([]) == 0


def test_small_strata_are_timed_up_to_min_timed_samples():
    rows = {"u%04d" % i: [()] * (1 + i % 15) for i in range(1000)}
    rows.update({"tail%02d" % i: [()] * 1500 for i in range(20)})
    _, timings, sizes = tracing.stratified_sample(rows, 1)
    assert sizes[0] == (1000, tracing.STRATUM_QUOTA, tracing.STRATUM_QUOTA)
    assert sizes[-1] == (20, 20, tracing.MIN_TIMED)


# --- the timed loop and the workload table -----------------------------

def test_scaling_ratio_pairs_each_one_slot_job_with_its_cycle():
    from perfbench.run import scaling_ratios

    # perfect scaling on 4 slots, then a cycle the host slowed by half
    assert scaling_ratios([(4.0, 1.0, 1.0), (6.0, 1.5, 1.5)], 4) == [
        1.0, 1.0]
    assert scaling_ratios([(4.0, 2.0, 2.0)], 4) == [0.5]


def test_resume_write_is_traced_with_web_pages_not_timed():
    from perfbench.workloads import WORKLOADS, ResumeWrite, WebPages

    assert sorted(WORKLOADS) == ["bnode_dense", "web_pages"]
    assert issubclass(ResumeWrite, WebPages)
