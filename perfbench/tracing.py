"""Tracing for the ``--trace 1`` run: spans, Spark's event log, and a
driver-side replay of a stratified document sample through the
kernel's public functions.

Spans are recorded by the benchmark around its calls into the program
(never inside it), kept in memory and written when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import random
import statistics
import time

# --- spans -------------------------------------------------------------


class Spans:
    def __init__(self, run_id):
        self.run_id = run_id
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self):
        """span id -> duration minus the time its children cover
        (children of one span never overlap: one job at a time)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path, extra):
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump({
                "spans": [dict(s, self=selfs[s["id"]]) for s in self.spans],
                **extra,
            }, f, indent=1)


def process_cpu_s(pids):
    """CPU seconds (user + system, reaped children included) of ``pids``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open("/proc/%d/stat" % pid, "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / tick


# --- Spark event log ---------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def read_event_log(log_dir):
    """``{job description: [stage task lists]}`` and ``{job description:
    [(submitted, completed) seconds per stage]}`` from the event log.
    Each task is ``{run_ms, gc_ms, shuffle_write, py_sent, py_recv}``."""
    stage_job, job_desc, tasks, spans = {}, {}, {}, {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    job_desc[ev["Job ID"]] = desc
                    for sid in ev["Stage IDs"]:
                        # a stage runs in the first job that lists it;
                        # later jobs reusing its output skip it
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info and "Completion Time" in info:
                        spans[info["Stage ID"]] = (
                            info["Submission Time"] / 1e3,
                            info["Completion Time"] / 1e3)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = {a.get("Name"): int(a.get("Update", 0))
                           for a in ev["Task Info"].get("Accumulables", [])
                           if a.get("Name") in (PY_SENT, PY_RECV)}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "py_sent": acc.get(PY_SENT, 0),
                        "py_recv": acc.get(PY_RECV, 0),
                    })
    out, intervals = {}, {}
    for sid, stage_tasks in tasks.items():
        desc = job_desc.get(stage_job.get(sid))
        out.setdefault(desc, []).append(stage_tasks)
    for sid, span in spans.items():
        intervals.setdefault(job_desc.get(stage_job.get(sid)), []).append(span)
    return out, intervals


def covered_s(intervals):
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def stage_stats(stages):
    """Totals over one job's stages; kernel stages are the ones that
    sent rows to Python."""
    kernel = [s for s in stages if any(t["py_sent"] for t in s)]
    runs = [t["run_ms"] for s in kernel for t in s]
    return {
        "gc_s": sum(t["gc_ms"] for s in stages for t in s) / 1e3,
        "shuffle_bytes": sum(t["shuffle_write"] for s in stages for t in s),
        "py_sent": sum(t["py_sent"] for s in stages for t in s),
        "py_recv": sum(t["py_recv"] for s in stages for t in s),
        "kernel_stages": len(kernel),
        "task_skew": (max(runs) / max(statistics.median(runs), 1)
                      if runs else 0.0),
    }


# --- kernel replay -----------------------------------------------------

# documents by kernel input rows; the last stratum holds the tail
STRATA = [(1, 15), (16, 40), (41, 199), (200, None)]
# documents sampled per stratum; a stratum with fewer than MIN_TIMED
# sampled documents times each of them up to MAX_REPEATS times, so the
# tail gets enough timing samples
STRATUM_QUOTA = 400
MIN_TIMED = 40
MAX_REPEATS = 10


def stratum_of(n_rows):
    for i, (lo, hi) in enumerate(STRATA):
        if n_rows >= lo and (hi is None or n_rows <= hi):
            return i
    raise ValueError("document without rows")


def stratified_sample(rows_by_url, seed):
    """A fixed, seed-derived sample of documents per size stratum.

    Returns ``(docs, timings, sizes)``: ``docs`` is ``[(url, weight)]``
    with each distinct sampled document weighted by its stratum's
    population / sample, so weighted sums estimate the whole input;
    ``timings`` repeats small strata's documents (weights divided
    alike) so each stratum has ``MIN_TIMED`` timing samples if it can;
    ``sizes`` is ``(population, documents sampled, timing samples)``
    per stratum."""
    members = [[] for _ in STRATA]
    for url in sorted(rows_by_url):
        members[stratum_of(len(rows_by_url[url]))].append(url)
    docs, timings, sizes = [], [], []
    for i, urls in enumerate(members):
        rng = random.Random("kernel-sample:%d:%d" % (seed, i))
        picked = sorted(rng.sample(urls, min(STRATUM_QUOTA, len(urls))))
        repeats = min(MAX_REPEATS, -(-MIN_TIMED // max(len(picked), 1)))
        n_timed = len(picked) * repeats
        sizes.append((len(urls), len(picked), n_timed))
        docs.extend((u, len(urls) / len(picked)) for u in picked)
        timings.extend((u, len(urls) / n_timed)
                       for _ in range(repeats) for u in picked)
    return docs, timings, sizes


def weighted_quantile(values, weights, q):
    pairs = sorted(zip(values, weights))
    total = sum(weights)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def replay_kernel(sample, rows_by_url, max_work_factor):
    """Time each sampled document through the kernel's public pieces:
    the whole per-document Arrow kernel, then input hash, rows ->
    dataset and ``RDFC10.main`` separately."""
    import pyarrow as pa

    from rdf_canonize_spark.pipeline.canon_stage import (
        input_hash_of_rows,
        make_canonize_arrow_fn,
        rows_to_dataset,
    )
    from rdf_canonize_spark.rdfc.canonize import RDFC10

    from .workloads import QUAD_SCHEMA

    kernel = make_canonize_arrow_fn(max_work_factor)
    out = []
    for url, weight in sample:
        rows = rows_by_url[url]
        batch = pa.RecordBatch.from_pylist(
            [dict(zip(QUAD_SCHEMA.names, (url,) + r)) for r in rows],
            QUAD_SCHEMA)
        t0 = time.perf_counter()
        results = list(kernel([batch]))
        t1 = time.perf_counter()
        input_hash_of_rows(rows)
        t2 = time.perf_counter()
        dataset = rows_to_dataset(rows)
        t3 = time.perf_counter()
        try:
            RDFC10(canonical_id_map={},
                   max_work_factor=max_work_factor).main(dataset)
        except Exception:  # quarantined by the kernel; counted from output
            pass
        t4 = time.perf_counter()
        if sum(b.num_rows for b in results) != 1:
            raise RuntimeError("kernel returned no row for %s" % url)
        out.append({"weight": weight, "doc_ms": (t1 - t0) * 1e3,
                    "input_hash_s": t2 - t1, "rows_to_dataset_s": t3 - t2,
                    "main_s": t4 - t3})
    return out


@contextlib.contextmanager
def rdfc_counters():
    """Count and time the RDFC-1.0 steps while the block runs, by
    wrapping ``RDFC10`` methods, ``serialize_quad_components`` and
    ``Permuter.next``; restored on exit."""
    from rdf_canonize_spark.rdfc.permuter import Permuter

    # the module, not the ``canonize`` function the package re-exports
    mod = importlib.import_module("rdf_canonize_spark.rdfc.canonize")

    c = {key: 0 for key, _ in RDFC_COUNTERS}
    saved = (mod.RDFC10.hash_first_degree_quads,
             mod.RDFC10.hash_n_degree_quads,
             mod.serialize_quad_components, Permuter.next)
    first, n_degree, serialize, nxt = saved
    depth = [0]

    def first_w(self, bid):
        c["first_degree.calls"] += 1
        t = time.perf_counter()
        try:
            return first(self, bid)
        finally:
            c["first_degree_s"] += time.perf_counter() - t

    def n_degree_w(self, bid, issuer):
        c["n_degree.calls"] += 1
        depth[0] += 1
        t = time.perf_counter()
        try:
            return n_degree(self, bid, issuer)
        finally:
            depth[0] -= 1
            if depth[0] == 0:  # recursion counted once, at the top
                c["n_degree_s"] += time.perf_counter() - t

    def serialize_w(*args):
        c["serialize.calls"] += 1
        t = time.perf_counter()
        try:
            return serialize(*args)
        finally:
            c["serialize_s"] += time.perf_counter() - t

    def next_w(self):
        c["permutations"] += 1
        return nxt(self)

    mod.RDFC10.hash_first_degree_quads = first_w
    mod.RDFC10.hash_n_degree_quads = n_degree_w
    mod.serialize_quad_components = serialize_w
    Permuter.next = next_w
    try:
        yield c
    finally:
        (mod.RDFC10.hash_first_degree_quads, mod.RDFC10.hash_n_degree_quads,
         mod.serialize_quad_components, Permuter.next) = saved


RDFC_COUNTERS = (
    ("first_degree_s", "s"), ("first_degree.calls", "count"),
    ("serialize_s", "s"), ("serialize.calls", "count"),
    ("n_degree_s", "s"), ("n_degree.calls", "count"),
    ("permutations", "count"),
)


def count_rdfc(sample, rows_by_url, max_work_factor):
    """Weighted (whole-input) RDFC-1.0 step counts and times."""
    from rdf_canonize_spark.pipeline.canon_stage import rows_to_dataset
    from rdf_canonize_spark.rdfc.canonize import RDFC10

    totals = {}
    with rdfc_counters() as c:
        for url, weight in sample:
            dataset = rows_to_dataset(rows_by_url[url])
            before = dict(c)
            try:
                RDFC10(canonical_id_map={},
                       max_work_factor=max_work_factor).main(dataset)
            except Exception:  # quarantined by the kernel
                pass
            for k, v in c.items():
                totals[k] = totals.get(k, 0) + weight * (v - before[k])
    return totals


QUARANTINE_REASONS = {
    "budget": "Maximum deep iterations exceeded",
    "timeout": "Canonize timeout",
    "oversized": "Document exceeds maximum quad count",
}


def quarantine_counts(failures):
    """Quarantined documents by reason, from the output check."""
    counts = {k: 0 for k in list(QUARANTINE_REASONS) + ["other"]}
    for _, why in failures:
        if not why.startswith("quarantined: "):
            continue
        msg = why[len("quarantined: "):]
        reason = next((k for k, p in QUARANTINE_REASONS.items()
                       if msg.startswith(p)), "other")
        counts[reason] += 1
    return counts
