"""The workloads and the resume scenario traced with ``web_pages``:
seeded inputs on disk, the timed job, the output check, and the plan
prefixes the traced run forces layer by layer.  Closed loop: one job at
a time on one session."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, inputs

MAX_WORK_FACTOR = checks.MAX_WORK_FACTOR
# the kernel's input columns, in the order the canonize stage feeds them
QUAD_COLS = ["s_kind", "s", "p", "o_kind", "o",
             "o_datatype", "o_lang", "g_kind", "g"]
QUAD_SCHEMA = pa.schema([
    ("url", pa.string()), ("s_kind", pa.int32()), ("s", pa.string()),
    ("p", pa.string()), ("o_kind", pa.int32()), ("o", pa.string()),
    ("o_datatype", pa.string()), ("o_lang", pa.string()),
    ("g_kind", pa.int32()), ("g", pa.string()),
])
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def noop(df):
    """Force a plan completely without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _write_parts(rows, schema, path, parts, key=None):
    """``rows`` split into ``parts`` contiguous parquet files: one scan
    partition each at every parallelism, so both scaling legs read the
    same partitions.  With ``key``, rows sharing a key stay in one file:
    a document split across files reaches the kernel in whatever order
    the shuffle fetches its pieces, and for automorphic graphs the
    label map (not the N-Quads) depends on that order."""
    os.makedirs(path, exist_ok=True)
    n = len(rows)
    cuts = [0]
    for i in range(1, parts):
        cut = max(i * n // parts, cuts[-1])
        while key and 0 < cut < n and rows[cut][key] == rows[cut - 1][key]:
            cut += 1
        cuts.append(cut)
    cuts.append(n)
    for i in range(parts):
        pq.write_table(pa.Table.from_pylist(rows[cuts[i]:cuts[i + 1]], schema),
                       os.path.join(path, "part-%03d.parquet" % i))


def _canonical_rows(df):
    return [(r.url, r.nquads, r.label_map, r.error)
            for r in df.select("url", "nquads", "label_map", "error")
            .collect()]


class Workload:
    """One workload: ``prepare`` writes the seeded input and computes
    the expected output; ``job`` is the timed job."""

    name = None

    def __init__(self, seed, repo, work, nproc):
        self.seed, self.repo, self.work, self.nproc = seed, repo, work, nproc
        # two scan partitions per core, at both scaling legs
        self.partitions = 2 * nproc

    def reset(self):
        """Untimed state reset before each job."""

    def job(self, spark):
        noop(self.canonical_frame(spark))

    def output(self, spark):
        """One evaluation of the job, its rows collected to the driver."""
        return _canonical_rows(self.canonical_frame(spark))

    def check(self, spark):
        """(documents checked, failures) for one evaluation."""
        return self.verify(self.output(spark))

    def counts(self):
        """Seed-determined counts of the input (no timing)."""
        return {"docs": self.n_docs_checked, "quads": self.n_quads}


class WebPages(Workload):
    """North-star path on the common web case: documents -> pages ->
    extract + link -> colocated canonize, n-degree near zero."""

    name = "web_pages"
    n_docs = 4000

    def __init__(self, seed, repo, work, nproc):
        super().__init__(seed, repo, work, nproc)
        self.sf_dir = os.path.join(work, "input")

    # -- inputs ---------------------------------------------------------
    def prepare(self):
        self.docs = inputs.web_documents(self.seed, self.n_docs)
        _write_parts(self.docs, DOC_SCHEMA,
                     os.path.join(self.sf_dir, "documents.parquet"),
                     self.partitions)
        self.expected = checks.expected_pages(self._canonized_docs(),
                                              self.nproc)
        self.n_quads = sum(nq.count("\n") for nq, _ in self.expected.values())
        self.n_docs_checked = len(self.expected)

    def _canonized_docs(self):
        """The documents the job canonicalizes."""
        return self.docs

    # -- the job --------------------------------------------------------
    def pages(self, spark):
        from rdf_canonize_spark.pipeline.pages import pages_from_documents

        return pages_from_documents(spark, self.sf_dir)

    def quads(self, spark, pages):
        from rdf_canonize_spark.pipeline.link import build_quads, gazetteer_df

        return build_quads(pages, gazetteer_df(spark))

    def canonical(self, spark, quads):
        from rdf_canonize_spark.pipeline.canon_stage import canonize_documents

        return canonize_documents(quads, max_work_factor=MAX_WORK_FACTOR)

    def canonical_frame(self, spark):
        return self.canonical(spark, self.quads(spark, self.pages(spark)))

    def verify(self, rows):
        return len(self.expected), checks.check_canonical(rows, self.expected)

    # -- traced run -----------------------------------------------------
    def prefixes(self, spark):
        """Successive plan prefixes ``[(layer, build)]``: ``build()``
        plans the job up to that layer, as the job plans it; a layer's
        busy time is its prefix minus the one before."""
        def pages():
            return self.pages(spark)

        def quads():
            return self.quads(spark, pages())

        return [("pages", pages), ("link", quads)] + _canon_prefixes(
            quads, lambda q: self.canonical(spark, q))

    def kernel_input(self, spark):
        """url -> kernel input rows, as the canonize stage receives them."""
        return _rows_by_url(
            self.quads(spark, self.pages(spark))
            .select("url", *QUAD_COLS).toArrow())


def _canon_prefixes(quads, canonical, partition=None):
    """sort -> Arrow round trip -> canonize, as the canonize stage does:
    ``quads()`` plans the kernel's input, ``canonical(quads)`` the job."""
    def ordered():
        df = quads() if partition is None else partition(quads())
        return df.select("url", *QUAD_COLS).sortWithinPartitions("url")

    def transport():
        df = ordered()
        return df.mapInArrow(_identity, df.schema)

    return [("sort", ordered), ("transport", transport),
            ("canon", lambda: canonical(quads()))]


def _identity(batches):
    yield from batches


def _rows_by_url(table):
    cols = [table.column(c).to_pylist() for c in QUAD_COLS]
    out = {}
    for url, row in zip(table.column("url").to_pylist(), zip(*cols)):
        out.setdefault(url, []).append(row)
    return out


class BnodeDense(Workload):
    """Blank-node-dense graphs whose canonicalization recurses: time
    goes to hash-n-degree-quads and the permuter, not to transport."""

    name = "bnode_dense"
    copies = 64

    def __init__(self, seed, repo, work, nproc):
        super().__init__(seed, repo, work, nproc)
        self.path = os.path.join(work, "input", "quads.parquet")

    def prepare(self):
        rows, self.docs = inputs.dense_documents(
            self.seed, self.repo, self.copies)
        _write_parts(rows, QUAD_SCHEMA, self.path, self.partitions, "url")
        self.n_quads = sum(len(d["quads"]) for d in self.docs.values())
        self.n_docs_checked = len(self.docs)

    def quads(self, spark):
        return spark.read.parquet(self.path)

    def canonical(self, spark, quads):
        from rdf_canonize_spark.pipeline.canon_stage import canonize_documents

        return canonize_documents(
            quads, max_work_factor=MAX_WORK_FACTOR, strategy="repartition",
            num_partitions=self.partitions)

    def canonical_frame(self, spark):
        return self.canonical(spark, self.quads(spark))

    def verify(self, rows):
        return len(self.docs), checks.check_dense(rows, self.docs)

    def prefixes(self, spark):
        def quads():
            return self.quads(spark)

        return [("scan", quads)] + _canon_prefixes(
            quads, lambda q: self.canonical(spark, q),
            lambda df: df.repartition(self.partitions, "url"))

    def kernel_input(self, spark):
        return _rows_by_url(pq.read_table(self.path))


class ResumeWrite(WebPages):
    """Restart after a crash: a prior manifest lists ~90% of the
    web_pages urls; the job canonizes the rest, commits a batch and
    forces the frames ``run_pipeline`` returns.  Writes beside reads:
    a change to the write path or to how often the kernel runs per
    batch shows here, a kernel speed-up barely does.  Traced with
    ``web_pages``; it has no timed run of its own."""

    name = "resume_write"
    batch_id = 1

    def __init__(self, seed, repo, work, nproc):
        super().__init__(seed, repo, work, nproc)
        self.state = os.path.join(work, "state")
        self.out = os.path.join(work, "out")

    def prepare(self):
        super().prepare()
        path = os.path.join(self.state, "_manifest")
        os.makedirs(path)
        pq.write_table(
            pa.table({"url": pa.array(self.manifest, pa.string()),
                      # int32, as the pipeline appends it
                      "batch_id": pa.array([0] * len(self.manifest),
                                           pa.int32())}),
            os.path.join(path, "part-000.parquet"))

    def _canonized_docs(self):
        """The remainder: pages the prior run's manifest does not list."""
        urls = [inputs.url_of(d["doc_id"]) for d in self.docs]
        self.manifest = inputs.manifest_urls(self.seed, urls)
        done = set(self.manifest)
        return [d for d, u in zip(self.docs, urls) if u not in done]

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.state, self.out)

    def write(self, spark):
        """run_pipeline: resume, canonize the remainder, commit the
        batch; returns the frames it builds."""
        from rdf_canonize_spark.pipeline.runner import run_pipeline

        return run_pipeline(
            spark, self.pages(spark), max_work_factor=MAX_WORK_FACTOR,
            out_dir=self.out, batch_id=self.batch_id)

    @staticmethod
    def derive(frames):
        """Force the frames run_pipeline returns, as a deploy would."""
        for key in ("edges", "nodes", "lineage", "metrics"):
            noop(frames[key])

    def materialized(self):
        """Files, bytes and manifest rows the last job wrote."""
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.out)
                 for f in fs]
        before = {os.path.join(self.out, os.path.relpath(os.path.join(d, f),
                                                         self.state))
                  for d, _, fs in os.walk(self.state) for f in fs}
        new = [f for f in files if f not in before]
        manifest = pq.read_table(os.path.join(self.out, "_manifest"),
                                 columns=["url"])
        return {"files": len(new),
                "bytes": sum(os.path.getsize(f) for f in new),
                "manifest_rows": manifest.num_rows}

    def check(self, spark):
        """Checks the batch the last job committed (no extra job)."""
        batch = pq.read_table(os.path.join(
            self.out, "canonical_nquads", "batch=%d" % self.batch_id))
        rows = [(r["url"], r["nquads"], dict(r["label_map"] or []), r["error"])
                for r in batch.select(
                    ["url", "nquads", "label_map", "error"]).to_pylist()]
        bad = checks.check_commit(rows, self.expected, self.manifest)
        listed = pq.read_table(os.path.join(self.out, "_manifest"),
                               columns=["url"]).column("url").to_pylist()
        if sorted(listed) != sorted(self.manifest + list(self.expected)):
            bad.append(("_manifest", "manifest is not prior + committed urls"))
        return len(self.expected), bad

    def prefixes(self, spark):
        from rdf_canonize_spark.pipeline.materialize import resume_filter

        def pages():
            return self.pages(spark)

        def todo():
            return resume_filter(spark, pages(), self.out)

        def canon():
            return self.canonical(spark, self.quads(spark, todo()))

        # only the prefixes the materialize metrics difference
        return [("pages", pages), ("resume", todo), ("canon", canon)]


WORKLOADS = {w.name: w for w in (WebPages, BnodeDense)}
