"""Per-document RDFC-1.0 canonicalization: one kernel body, two UDF
boundaries.

``canonize_doc`` canonicalizes one document's quad rows.  The default
stage runs it through ``mapInArrow`` over url-sorted, url-colocated
partitions (many documents per Arrow batch, zero shuffle); the
reference-shaped ``groupBy('url').applyInPandas(...)`` strategy runs
the same body once per pandas group.  This is the one stage that
genuinely cannot be expressed in DataFrame algebra:
hash-n-degree-quads is sequential, stateful, recursive, and
data-dependent (see SURVEY.md O9), exactly what per-document UDFs are
for.  Everything around it stays in Catalyst.

Scale properties:

* state is strictly per-document -- no global index, no driver collect;
* a poison document raises inside its own call only; the error is
  caught and routed to the ``error`` column (quarantine), never failing
  the job or stalling an executor (work budget enforced by
  max_work_factor, wall clock by doc_timeout_ms);
* output is a pure function of the document's rows -- content-
  deterministic under re-partitioning (all reference-visible orderings
  are sorted);
* document size is bounded upstream (documents are pages, not the
  corpus) and optionally by ``max_doc_quads``;
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` caps Arrow batches.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..rdfc.canonize import RDFC10
from ..rdfc.terms import BLANK, DEFAULT_GRAPH, LITERAL, XSD_STRING

CANONICAL_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("nquads", StringType(), True),
        StructField("label_map", MapType(StringType(), StringType()), True),
        StructField("n_quads", IntegerType(), True),
        StructField("n_bnodes", IntegerType(), True),
        StructField("deep_iterations", LongType(), True),
        StructField("quads_hash", StringType(), True),
        StructField("error", StringType(), True),
        StructField("input_hash", StringType(), True),
    ]
)

# Framing for the order-independent input-content hash (shared contract
# with pipeline/incremental.input_quads_hash and the DuckDB oracle):
# each field is byte-length-prefixed ("<len>:<value>", null -> chr(0)),
# fields joined with chr(31); the line digests are SHA-256 hex, and the
# document hash is SHA-256 over the sorted distinct digests.  Length
# prefixes make the framing prefix-free (a value containing chr(31) or
# chr(0) cannot shift field boundaries), and hashing lines before the
# order-independent aggregation removes cross-line ambiguity.
#
# ENFORCED (framing contract): kernel <-> relational input-hash parity
# holds even for UTF-16 surrogates.  Spark normalizes every string at
# DataFrame ingestion: EACH surrogate code point -- paired or not --
# becomes one U+FFFD (measured empirically: 'a\\ud800b' round-trips as
# 'a<U+FFFD>b' with octet_length 5, and an adjacent high+low pair
# becomes TWO U+FFFD, it does NOT recombine into an astral char), so
# the relational twin can only ever see the normalized form.
# ``_jvm_text`` applies the SAME normalization here before framing, so
# a dataset-input caller who computes a prior input_hash through the
# pure-Python kernel and later compares it against the relational
# ``input_quads_hash`` of the ingested rows gets byte-equal hashes --
# no silent ``recomputed=true`` flip (pinned by
# tests/test_pipeline_spark.py::test_lone_surrogate_input_hash_parity).
# Canonicalization itself is NOT normalized: the rdfc core preserves
# raw surrogates for byte-parity with the reference.
_SEP = b"\x1f"  # chr(31)
_NULL = b"\x00"  # chr(0)


def _jvm_text(s):
    """Normalize a str exactly as Spark DataFrame ingestion does:
    each surrogate CODE POINT becomes one U+FFFD.  (Python strings
    carry surrogates only as individual code points -- the pickle
    transport encodes each as a separate 3-byte CESU-8 sequence and
    the JVM decoder substitutes one U+FFFD per sequence, measured
    empirically for both a lone surrogate and an adjacent
    high+low pair, which does NOT recombine.)  Well-formed strings
    return unchanged via the strict-encode fast path."""
    try:
        s.encode("utf-8")
        return s
    except UnicodeEncodeError:
        return "".join(
            chr(0xFFFD) if 0xD800 <= ord(c) <= 0xDFFF else c
            for c in s
        )


def input_hash_of_rows(rows):
    """Order-independent content hash of a document's raw quad rows
    (pre-dedup; duplicate rows collapse at digest level).  Each value
    is encoded once and framed as bytes."""
    digests = set()
    for row in rows:
        parts = []
        for v in row:
            if v is None:
                parts.append(_NULL)
            else:
                s = str(v)
                try:
                    b = s.encode("utf-8")
                except UnicodeEncodeError:
                    b = _jvm_text(s).encode("utf-8")
                parts.append(b"%d:%b" % (len(b), b))
        digests.add(hashlib.sha256(_SEP.join(parts)).hexdigest())
    return hashlib.sha256("".join(sorted(digests)).encode()).hexdigest()


def rows_to_dataset(rows):
    """Quad-table rows -> quad tuples with per-graph first-seen dedup
    (matching the reference N-Quads parse path, lib/NQuads.js:185-202)."""
    dataset = []
    seen = set()
    for (s_kind, s, p, o_kind, o, o_datatype, o_lang, g_kind, g) in rows:
        if o_kind == LITERAL:
            dt = o_datatype if o_datatype is not None else XSD_STRING
            obj = (LITERAL, o, dt, o_lang if o_lang else None)
        else:
            obj = (int(o_kind), o, None, None)
        quad = (
            (int(s_kind), s, None, None),
            (0, p, None, None),
            obj,
            (int(g_kind), "" if g_kind == DEFAULT_GRAPH else g, None, None),
        )
        key = (quad[0], quad[1], quad[2], quad[3][1])
        if key not in seen:
            seen.add(key)
            dataset.append(quad)
    return dataset


OVERSIZED_PREFIX = "Document exceeds maximum quad count"

_COLS = ["s_kind", "s", "p", "o_kind", "o",
         "o_datatype", "o_lang", "g_kind", "g"]


def canonize_doc(url, rows, max_work_factor, doc_timeout_ms=0,
                 max_doc_quads=0, message_digest_algorithm="sha256"):
    """The per-document kernel body: one url's ordered quad-table row
    tuples (``_COLS`` order) in, one CANONICAL_SCHEMA dict out.  Every
    strategy runs it (or its ``kernel_fn`` swap) once per document."""
    input_hash = input_hash_of_rows(rows)
    if max_doc_quads and len(rows) > max_doc_quads:
        # Mega-document routing (SCALE.md): bound per-task memory by
        # refusing documents above the cap BEFORE materializing any
        # per-document state; ``requeue_oversized`` re-derives their
        # quads for a dedicated high-memory job.  Row count is
        # pre-dedup -- the cap is a memory bound, not a semantic one.
        # input_hash IS still computed (O(rows), no extra state): the
        # recrawl path can skip re-quarantining an unchanged oversized
        # document.
        return {
            "url": url,
            "nquads": None,
            "label_map": None,
            "n_quads": len(rows),
            "n_bnodes": None,
            "deep_iterations": 0,
            "quads_hash": None,
            "error": f"{OVERSIZED_PREFIX} ({len(rows)} > {max_doc_quads})",
            "input_hash": input_hash,
        }
    dataset = rows_to_dataset(rows)
    n_bnodes = len(
        {
            t[1]
            for q in dataset
            for t in (q[0], q[2], q[3])
            if t[0] == BLANK
        }
    )
    id_map = {}
    engine = RDFC10(
        canonical_id_map=id_map,
        max_work_factor=max_work_factor,
        timeout=doc_timeout_ms,
        message_digest_algorithm=message_digest_algorithm,
    )
    try:
        nquads = engine.main(dataset)
        error = None
        qh = hashlib.sha256(
            nquads.encode("utf-8", "surrogatepass")
        ).hexdigest()
    except Exception as e:  # budget/timeout -> quarantine row
        nquads, id_map, qh, error = None, None, None, str(e)
    return {
        "url": url,
        "nquads": nquads,
        "label_map": id_map,
        "n_quads": len(dataset),
        "n_bnodes": n_bnodes,
        "deep_iterations": engine.deep_iterations_used,
        "quads_hash": qh,
        "error": error,
        "input_hash": input_hash,
    }


def make_canonize_arrow_fn(max_work_factor=3, doc_timeout_ms=0,
                           max_doc_quads=0,
                           message_digest_algorithm="sha256",
                           kernel_fn=None):
    """``mapInArrow`` kernel: pyarrow batches in and out, no pandas.

    Many documents per batch: requires rows sorted by url within each
    partition and each url wholly contained in one partition; a url
    whose rows straddle a batch boundary is carried into the next.  The
    Arrow<->Python boundary is raw ``to_pylist`` /
    ``RecordBatch.from_arrays`` -- measured ~2-3x less overhead than a
    pandas conversion for this row shape, which matters because
    transport, not canonicalization, is the stage's marginal cost for
    small documents.
    """
    import pyarrow as pa

    out_type = pa.schema(
        [
            ("url", pa.string()),
            ("nquads", pa.string()),
            ("label_map", pa.map_(pa.string(), pa.string())),
            ("n_quads", pa.int32()),
            ("n_bnodes", pa.int32()),
            ("deep_iterations", pa.int64()),
            ("quads_hash", pa.string()),
            ("error", pa.string()),
            ("input_hash", pa.string()),
        ]
    )

    def flush(results):
        cols = list(zip(*results)) if results else [[]] * 9
        arrays = [
            pa.array(cols[0], pa.string()),
            pa.array(cols[1], pa.string()),
            pa.array(
                [None if m is None else list(m.items()) for m in cols[2]],
                pa.map_(pa.string(), pa.string()),
            ),
            pa.array(cols[3], pa.int32()),
            pa.array(cols[4], pa.int32()),
            pa.array(cols[5], pa.int64()),
            pa.array(cols[6], pa.string()),
            pa.array(cols[7], pa.string()),
            pa.array(cols[8], pa.string()),
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=out_type)

    _kernel = kernel_fn or canonize_doc

    def doc_row(url, rows):
        r = _kernel(
            url, rows, max_work_factor, doc_timeout_ms, max_doc_quads,
            message_digest_algorithm,
        )
        return (
            r["url"], r["nquads"], r["label_map"], r["n_quads"],
            r["n_bnodes"], r["deep_iterations"], r["quads_hash"],
            r["error"], r["input_hash"],
        )

    def canonize_partition(batches):
        cur_url = None
        cur_rows = []
        for batch in batches:
            urls = batch.column(0).to_pylist()
            if not urls:
                continue
            # C-speed row materialization: zip of column lists builds
            # all row tuples without a per-cell Python loop
            rows = list(
                zip(
                    *(
                        batch.column(i).to_pylist()
                        for i in range(1, batch.num_columns)
                    )
                )
            )
            results = []
            for u, row in zip(urls, rows):
                if u != cur_url:
                    if cur_url is not None:
                        results.append(doc_row(cur_url, cur_rows))
                    cur_url, cur_rows = u, []
                cur_rows.append(row)
            if results:
                yield flush(results)
        if cur_url is not None:
            yield flush([doc_row(cur_url, cur_rows)])

    return canonize_partition


def make_canonize_group_fn(max_work_factor=3, doc_timeout_ms=0,
                           max_doc_quads=0,
                           message_digest_algorithm="sha256",
                           kernel_fn=None):
    """``applyInPandas`` adapter: one pandas frame per document in, the
    same ``canonize_doc`` (or ``kernel_fn``) body, one row out."""
    _kernel = kernel_fn or canonize_doc

    def canonize_group(key, pdf):
        rows = list(zip(*(pdf[c].tolist() for c in _COLS)))
        return pd.DataFrame([_kernel(
            key[0], rows, max_work_factor, doc_timeout_ms, max_doc_quads,
            message_digest_algorithm,
        )])

    return canonize_group


# Measured hybrid/kernel crossover (tools/head2head A/B, SCALE.md): at
# low parallelism the JVM-side hybrid router wins because per-core
# Python kernel throughput is the bottleneck (router 1.50x faster at
# local[2], 1.19x at local[4]); at high parallelism the Arrow kernel
# wins because its zero-shuffle colocated stage outscales the router's
# eligibility joins (kernel 1/0.75x faster at local[32]).  The router
# margin shrinks ~1.5 -> ~1.2 from 2 to 4 cores, extrapolating to
# parity around 8 -- so 'auto' routes below that to the hybrid and at
# or above it to the kernel.
AUTO_HYBRID_MAX_CORES = 7


def select_canonize_strategy(cores):
    """The 'auto' heuristic as a pure function (pinned by tests on
    both measured regimes): 'hybrid' when the session has few cores,
    'colocated' (Arrow kernel) otherwise."""
    return "hybrid" if cores <= AUTO_HYBRID_MAX_CORES else "colocated"


def canonize_documents(
    quads_df,
    max_work_factor=3,
    num_partitions=None,
    strategy="colocated",
    doc_timeout_ms=0,
    max_doc_quads=0,
    message_digest_algorithm="sha256",
    kernel_fn=None,
):
    """quads -> canonical_nquads(url, nquads, label_map, ...).

    ``kernel_fn``: swap-in per-document canonicalization kernel -- the
    Spark counterpart of the reference's native-implementation
    delegation point (``lib/index.js:90-95,151-162``, where a compiled
    rdf-canonize-native can replace the JS algorithm).  Signature and
    return contract are ``canonize_doc``'s (same ordered row tuples in,
    same CANONICAL_SCHEMA dict out); the callable is serialized to
    executors, so an accelerated implementation (e.g. a C/Rust
    extension imported inside the function) plugs in without touching
    the Spark plumbing.  Every strategy honors it, and every kernel
    parameter, because every strategy runs the one body.

    Strategies:

    * ``'colocated'`` (default) -- zero-shuffle: ``sortWithinPartitions
      ('url')`` (partition-local sort) + ``mapInArrow``.  Valid when
      each url's quads already live in one partition, which
      ``build_quads`` guarantees (narrow explode + broadcast joins over
      one pages scan).  At 100 TB this saves the single biggest cost in
      the job: a full shuffle of the quad table.
    * ``'repartition'`` -- generic inputs: hash-repartition on url
      first, then the same batched kernel.  url is high-cardinality and
      uniform, so no skew handling is needed on this key.
    * ``'grouped'`` -- reference-shaped ``groupBy.applyInPandas``; one
      Python call and one pandas frame per document.
    * ``'hybrid'`` -- ``hybrid_canonize_documents``: pure-Catalyst
      canonicalization for eligible documents, the colocated kernel
      for the rest.
    * ``'auto'`` -- pick per the measured crossover
      (``select_canonize_strategy``): ``'hybrid'`` on low-core
      sessions, ``'colocated'`` otherwise.  Both arms produce identical
      bytes (pinned by test_hybrid_router_byte_equals_kernel), so the
      choice is purely a throughput decision.
    """
    params = (max_work_factor, doc_timeout_ms, max_doc_quads,
              message_digest_algorithm, kernel_fn)
    if strategy == "auto":
        strategy = select_canonize_strategy(
            quads_df.sparkSession.sparkContext.defaultParallelism
        )
    if strategy == "hybrid":
        return hybrid_canonize_documents(
            quads_df,
            max_work_factor=max_work_factor,
            num_partitions=num_partitions,
            doc_timeout_ms=doc_timeout_ms,
            max_doc_quads=max_doc_quads,
            message_digest_algorithm=message_digest_algorithm,
            kernel_fn=kernel_fn,
        )
    df = quads_df.select("url", *_COLS)
    if strategy == "grouped":
        if num_partitions:
            df = df.repartition(num_partitions, "url")
        return df.groupBy("url").applyInPandas(
            make_canonize_group_fn(*params), CANONICAL_SCHEMA
        )
    if strategy == "repartition":
        df = df.repartition(
            num_partitions or quads_df.sparkSession.sparkContext
            .defaultParallelism,
            "url",
        )
    elif strategy != "colocated":
        raise ValueError(f"unknown strategy: {strategy}")
    return df.sortWithinPartitions("url").mapInArrow(
        make_canonize_arrow_fn(*params), CANONICAL_SCHEMA
    )


def hybrid_canonize_documents(quads_df, max_work_factor=3,
                              with_routed=False, **kwargs):
    """Hybrid router: pure-Catalyst canonicalization for documents
    whose blank nodes are unique by exact first-degree hash (and
    serialization-safe), the Arrow kernel for the rest.

    On a web corpus the fast-path fraction is the overwhelming
    majority, and the relational form never crosses the Python
    boundary -- at 100x scale this keeps Arrow transport (the kernel
    stage's marginal cost, see make_canonize_arrow_fn) off the hot
    path entirely for most documents.  Byte-equality of the two paths
    on eligible documents is asserted in tests and (for the canonical
    hash) by the canonize_hybrid driver oracle.

    The routing join is url-keyed; its output is co-located by url
    either way (sort-merge partitions by url; a broadcast keeps the
    input's already-co-located layout), so the kernel's input contract
    holds for the slow branch with no extra exchange.

    ``max_doc_quads`` (via kwargs) is applied AT ROUTING TIME: a
    document over the cap is excluded from the fast path regardless of
    hash uniqueness, so it hits the kernel's mega-document guard and
    gets the same oversized-quarantine row ``canonize_documents``
    emits -- the output contract is identical between the two
    entrypoints for every input.  ``doc_timeout_ms`` applies to the
    kernel branch only: sql-routed documents never enter n-degree
    recursion (work is linear in quads and already bounded by the
    quad cap), so a per-document timeout has nothing to bound there.
    """
    from ..operators import relational

    if (
        kwargs.get("message_digest_algorithm", "sha256") != "sha256"
        or kwargs.get("kernel_fn") is not None
    ):
        # the relational fast path is sha256-only and kernel_fn by
        # definition bypasses it: route EVERYTHING through the kernel
        # rather than emit a silently mixed-algorithm union
        out = canonize_documents(
            quads_df, max_work_factor=max_work_factor, **kwargs
        )
        if with_routed:
            out = out.withColumn("routed", F.lit("kernel"))
        return out

    # the exact first-degree hash table feeds BOTH the routing
    # uniqueness check and the fast path's id issuance -- materialize
    # once (narrow url/bnode/hash rows, far smaller than the quads)
    fh = relational.bnode_first_degree_hash_exact(
        quads_df
    ).localCheckpoint()
    # both branches hang off the eligibility join -- checkpoint the
    # slim url list so the safety/duplicate aggregations run once,
    # not once per branch
    eligible = relational.sql_eligible_urls(quads_df, fh=fh)
    max_doc_quads = kwargs.get("max_doc_quads", 0)
    if max_doc_quads:
        # route oversized documents (pre-dedup row count, matching the
        # kernel's memory-bound semantics) to the kernel's quarantine
        oversized = (
            quads_df.groupBy("url")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_doc_quads)
            .select("url")
        )
        eligible = eligible.join(oversized, "url", "left_anti")
    eligible = eligible.localCheckpoint()
    flagged = quads_df.join(
        eligible.withColumn("__fast", F.lit(True)), "url", "left"
    )
    fast_q = flagged.filter(F.col("__fast")).drop("__fast")
    slow_q = flagged.filter(F.col("__fast").isNull()).drop("__fast")
    cols = [f.name for f in CANONICAL_SCHEMA.fields]
    fast = relational.sql_canonize_documents(fast_q, fh=fh)
    slow = canonize_documents(
        slow_q, max_work_factor=max_work_factor, **kwargs
    )
    if with_routed:  # expose the routing decision (no extra work)
        fast = fast.withColumn("routed", F.lit("sql"))
        slow = slow.withColumn("routed", F.lit("kernel"))
        cols = cols + ["routed"]
    return fast.select(*cols).unionByName(slow.select(*cols))


def split_canonical(canonical_df):
    """(ok, quarantined) split of the canonize output on the error
    column -- ok rows feed materialization, quarantined rows feed the
    lineage/metrics tables and the rerun queues."""
    return (
        canonical_df.filter(F.col("error").isNull()),
        canonical_df.filter(F.col("error").isNotNull()),
    )


def requeue_oversized(quads_df, canonical_df):
    """Quads of documents quarantined as oversized, for the dedicated
    high-memory rerun (SCALE.md mega-document routing): the follow-up
    job calls ``canonize_documents`` on this output with a larger (or
    no) cap on bigger executors.  Broadcast left-semi join -- the
    oversized url set is tiny by construction."""
    urls = canonical_df.filter(
        F.col("error").startswith(OVERSIZED_PREFIX)
    ).select("url")
    return quads_df.join(F.broadcast(urls), "url", "left_semi")
