"""Graph materialization, lineage/metrics, checkpoint resumability.

Outputs (parquet in the sandbox; format='iceberg' on a real cluster --
the writer takes a ``fmt`` argument so the swap is one string):

* ``canonical_nquads(url, nquads, label_map, ...)`` -- per-document
  canonical form (the flagship output).
* ``nodes(term_kind, term, n_refs)`` -- distinct canonical terms.
* ``edges(url, s_kind, s, p, o_kind, o, g)`` -- canonically relabeled
  edge list.
* ``lineage(url, text_sha256, n_quads, deep_iterations, error)`` --
  per-document provenance incl. the byte-identical-text invariant hash.
* ``metrics(partition_id, n_urls, n_quads, n_errors, deep_iterations)``
  -- per-partition rollup.

Checkpoint/resume: each batch writes atomically into
``<out>/canonical_nquads/batch=<id>/`` and appends the completed url
range to ``<out>/_manifest`` parquet; ``resume_filter`` anti-joins
pages against the manifest so a restarted job only processes the
remainder.  (Batch-level resumability, not Structured Streaming -- the
reference pipeline is strictly batch, SURVEY.md section 2.2.)
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ..rdfc.terms import BLANK


def relabel_edges(canonical_df, quads_df):
    """Canonically relabeled edge list.

    Joins the quad table against the per-url blank-node label maps.  The
    join key is url (co-partitioned with the canonize shuffle); label
    substitution is a map lookup, not a second join.
    """
    maps = canonical_df.select("url", "label_map")
    joined = quads_df.join(maps, "url", "left")

    def relabel(kind_col, val_col):
        canonical = F.col("label_map")[F.col(val_col)]
        return (
            F.when(
                (F.col(kind_col) == BLANK) & canonical.isNotNull(),
                canonical,
            )
            .otherwise(F.col(val_col))
        )

    return joined.select(
        "url",
        F.col("s_kind"),
        relabel("s_kind", "s").alias("s"),
        F.col("p"),
        F.col("o_kind"),
        relabel("o_kind", "o").alias("o"),
        F.col("g"),
    )


def node_table(edges_df):
    """Distinct canonical terms with reference counts (partial agg is
    map-side; one shuffle on the term).

    Blank nodes are document-scoped, so they are skolemized with the
    owning url (``<url>#_:c14nN``) -- otherwise every document's
    ``c14n0`` would merge into one false hub node.
    """

    def skolem(kind_col, val_col):
        return F.when(
            F.col(kind_col) == BLANK,
            F.concat(F.col("url"), F.lit("#_:"), F.col(val_col)),
        ).otherwise(F.col(val_col))

    s_nodes = edges_df.select(
        F.col("s_kind").alias("term_kind"),
        skolem("s_kind", "s").alias("term"),
    )
    o_nodes = edges_df.select(
        F.col("o_kind").alias("term_kind"),
        skolem("o_kind", "o").alias("term"),
    )
    return (
        s_nodes.unionAll(o_nodes)
        .groupBy("term_kind", "term")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )


def lineage_table(canonical_df, pages_df):
    """Per-document lineage; ``text_sha256`` is the byte-identical
    extracted-text invariant from the north rule."""
    text_hash = pages_df.select(
        "url", F.sha2(F.col("text"), 256).alias("text_sha256")
    )
    return canonical_df.join(text_hash, "url", "left").select(
        "url", "text_sha256", "n_quads", "n_bnodes",
        "deep_iterations", "quads_hash", "error",
    )


def metrics_table(canonical_df):
    """Per-partition rollup (executor-local partial agg, tiny result)."""
    return (
        canonical_df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum("n_quads").alias("n_quads"),
            F.sum(
                F.when(F.col("error").isNotNull(), 1).otherwise(0)
            ).alias("n_errors"),
            F.sum("deep_iterations").alias("deep_iterations"),
        )
    )


# --- checkpointed batch writes -------------------------------------------------
def manifest_path(out_dir):
    return os.path.join(out_dir, "_manifest")


def resume_filter(spark, pages_df, out_dir):
    """Drop pages already present in the completion manifest.  Also
    sweeps legacy in-root staging leftovers first, so a dataset
    resumed from the old layout reads clean (see
    ``_clean_legacy_staging``)."""
    _clean_legacy_staging(spark, out_dir)
    mpath = manifest_path(out_dir)
    try:
        done = spark.read.parquet(mpath).select("url")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise  # an unreadable manifest must not rerun finished urls
        return pages_df  # no manifest yet -> full input
    return pages_df.join(done, "url", "left_anti")


def _fs_for(spark, path):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _clean_legacy_staging(spark, out_dir):
    """One-time migration sweep: an earlier writer staged INSIDE the
    data root as ``canonical_nquads/batch=<id>.staging``; the current
    writer stages under ``<out>/_staging``, but a crash under the old
    layout can have left ``*.staging`` dirs that whole-table reads
    would pick up as bogus string-valued ``batch`` partitions
    (duplicated rows + a flipped partition type).  Deleting them is
    always safe -- staging content is by definition uncommitted (the
    old commit was a rename away from the ``.staging`` name)."""
    data_root = os.path.join(out_dir, "canonical_nquads")
    fs, root_p = _fs_for(spark, data_root)
    if not fs.exists(root_p):
        return
    for st in fs.listStatus(root_p):
        if st.getPath().getName().endswith(".staging"):
            fs.delete(st.getPath(), True)


def write_batch(canonical_df, out_dir, batch_id, fmt="parquet",
                nonempty_hint=None):
    """Stage-then-commit batch write + manifest append.

    The batch is staged under ``<out>/_staging/batch=<id>`` first --
    OUTSIDE the partitioned data root, and under an underscore-prefixed
    directory that Spark/Hadoop partition discovery ignores anyway: a
    crash between staging and commit must not leave a directory that a
    whole-table read would pick up as a bogus ``batch='<id>.staging'``
    partition (duplicating rows and flipping the inferred partition
    type to string).  Emptiness is
    decided from the STAGED output (reading back parquet footers, not
    re-running the pipeline), so the whole write costs exactly ONE
    evaluation of the canonize plan -- no pre-probe scan.  An empty
    result discards the staging directory, leaving any previously
    completed ``batch=<id>`` data untouched (a fully-resumed batch has
    an empty todo set; overwriting then would wipe completed data the
    manifest still lists as done).  A non-empty result commits by
    Hadoop-FileSystem rename over the old directory, then appends the
    manifest; a crash between commit and manifest append re-processes
    (idempotent overwrite), never skips.

    ``nonempty_hint=False`` short-circuits the write entirely for
    callers that already know the batch is empty.

    Format note: the stage/rename dance is for PATH-based formats
    (parquet/orc on a filesystem or rename-capable object store).  An
    Iceberg deployment gets atomic replacement from the table format's
    own snapshot commit -- swap this function's body for a plain
    ``writeTo(table).overwritePartitions()`` guarded by the same
    staged-emptiness read, keeping the manifest append unchanged.
    """
    spark = canonical_df.sparkSession
    data_path = os.path.join(out_dir, "canonical_nquads", f"batch={batch_id}")
    if nonempty_hint is False:
        return
    _clean_legacy_staging(spark, out_dir)
    staging = os.path.join(out_dir, "_staging", f"batch={batch_id}")
    canonical_df.write.mode("overwrite").format(fmt).save(staging)
    fs, staging_p = _fs_for(spark, staging)
    if spark.read.format(fmt).load(staging).limit(1).count() == 0:
        fs.delete(staging_p, True)
        return
    _, data_p = _fs_for(spark, data_path)
    fs.delete(data_p, True)
    # rename needs the destination parent to exist (first batch creates
    # the canonical_nquads/ root here)
    fs.mkdirs(data_p.getParent())
    if not fs.rename(staging_p, data_p):
        raise IOError(f"commit rename failed: {staging} -> {data_path}")
    done_urls = spark.read.format(fmt).load(data_path).select("url")
    done_urls.withColumn("batch_id", F.lit(batch_id)).write.mode(
        "append"
    ).format(fmt).save(manifest_path(out_dir))
