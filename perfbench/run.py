"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 30 \
        --trace 0

Inputs are generated from ``--seed``; outputs are checked against
expectations computed outside the timed window.  ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones.  Everything
the run writes stays under ``.perfbench/`` in the checkout; the full
report (host, versions, Spark confs, per-repetition times) is written
there and to stderr.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT_ROOT = os.path.join(REPO, ".perfbench")

# timed cycles per run: at least this many, more while a whole further
# cycle fits into --seconds
MIN_CYCLES = 2
# repetitions of each plan prefix in the traced run; the whole job (the
# last prefix) and the untraced reference run this often too
TRACE_REPS = 3
# the per-layer metrics only the resume scenario of web_pages has: every
# traced run reports every per-layer metric, so the others report 0
MATERIALIZE_METRICS = (
    ("materialize.resume_s", "s"), ("materialize.write_s", "s"),
    ("materialize.derive_s", "s"), ("materialize.wall_s", "s"),
    ("materialize.kernel_evals", "count"), ("materialize.bytes", "bytes"),
    ("materialize.files", "count"), ("materialize.manifest_rows", "count"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _metric(value, unit):
    return {"value": value, "unit": unit}


median = statistics.median


def timed_job(wl, spark):
    """Reset (untimed), then one job; its wall time."""
    wl.reset()
    t = time.perf_counter()
    wl.job(spark)
    return time.perf_counter() - t


def host_info(spark):
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg_at_start": LOADAVG_AT_START,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "arrow": pyarrow.__version__,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


LOADAVG_AT_START = os.getloadavg()


def host_steal_s():
    """CPU time the hypervisor gave to others (all CPUs), from /proc/stat:
    the report carries it so a run slowed by a busy host shows why."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def scaling_ratios(cycles, nproc):
    """``cycles``: ``(one-slot wall, nproc-slot wall, nproc-slot wall)``
    each.  Per cycle, the one-slot wall over nproc times the mean of the
    two nproc-slot walls after it: a host slowdown that lasts a cycle
    slows both sides of the ratio."""
    return [w1 / (nproc * (a + b) / 2) for w1, a, b in cycles]


def untraced_run(wl, args, work, report):
    """End-to-end metrics.  A cold ``local[nproc]`` session is timed from
    process start to the end of its warm-up job (input generation and
    expected outputs excluded).  Then cycles of three jobs: one slot,
    nproc slots, nproc slots; at least ``MIN_CYCLES``, more while a
    whole further cycle fits into ``--seconds``.  The one-slot job runs
    while ``nproc - 1`` task slots are held, which schedules it as
    ``local[1]`` would, on the same JVM and Python workers; it comes
    first since the JIT still compiles during the first jobs after
    start-up, on the cores it leaves idle."""
    from perfbench import sparkenv

    nproc = os.cpu_count() or 1
    t = time.time()
    wl.prepare()
    report["prepare_s"] = time.time() - t

    spark = sparkenv.start_session("local[%d]" % nproc, work, wl.partitions)
    phases = {"session_started": time.time() - PROCESS_START}
    # warm-up: the first plan, Python workers spun up; its output is the
    # one the run checks
    rows = wl.output(spark)
    setup_s = time.time() - PROCESS_START - report["prepare_s"]
    attempted, bad = wl.verify(rows)
    report["host"] = host_info(spark)
    phases["setup_end"] = setup_s + report["prepare_s"]

    cycles, rss_mb = [], []

    def one(slots_held):
        with sparkenv.SlotHold(spark, slots_held, work):
            rss.lap()
            wall = timed_job(wl, spark)
            rss_mb.append(rss.lap())
        return wall

    steal = host_steal_s()
    start = time.perf_counter()
    with sparkenv.RssSampler() as rss:
        while True:
            cycles.append((one(nproc - 1), one(0), one(0)))
            spent = time.perf_counter() - start
            if (len(cycles) >= MIN_CYCLES
                    and spent * (len(cycles) + 1) / len(cycles) > args.seconds):
                break
    report["host_steal_s"] = host_steal_s() - steal
    phases["timed_end"] = time.time() - PROCESS_START
    spark.stop()
    sparkenv.shutdown_jvm()
    phases["stopped"] = time.time() - PROCESS_START
    report["phases_s"] = phases

    walls_n = [w for _, a, b in cycles for w in (a, b)]
    wall = median(walls_n)
    report.update(cycles=cycles, rss_mb=rss_mb)
    return attempted, bad, {
        "setup_s": _metric(setup_s, "s"),
        "wall_s": _metric(wall, "s"),
        "quads_per_s": _metric(wl.n_quads / wall, "quads/s"),
        "scaling_eff": _metric(median(scaling_ratios(cycles, nproc)),
                               "ratio"),
        # the median job's peak: one job's high-water mark, steadier
        # than the maximum over however many jobs the run fitted in
        "peak_rss_mb": _metric(median(rss_mb), "MiB"),
    }


class Recorder:
    """Runs blocks under a span and the Spark job description
    ``<tag>:<key>#<rep>``, keeping each key's wall and CPU seconds (JVM
    and Python workers, from /proc)."""

    def __init__(self, spark, spans, tag):
        from perfbench import sparkenv

        self.sc, self.spans, self.tag = spark.sparkContext, spans, tag
        self.pids = sparkenv.descendants(os.getpid())
        self.walls, self.cpu = {}, {}

    def __call__(self, key, rep, fn):
        from perfbench import tracing

        self.sc.setJobDescription("%s:%s#%d" % (self.tag, key, rep))
        c0 = tracing.process_cpu_s(self.pids)
        with self.spans.span(self.tag + "." + key) as s:
            out = fn()
        self.walls.setdefault(key, []).append(s["end"] - s["start"])
        self.cpu.setdefault(key, []).append(
            tracing.process_cpu_s(self.pids) - c0)
        self.sc.setJobDescription(None)
        return out

    def prefixes(self, wl, spark, reps):
        """Force every plan prefix of ``wl`` ``reps`` times; the prefix
        layers in plan order."""
        from perfbench.workloads import noop

        prefixes = wl.prefixes(spark)
        for rep in range(reps):
            for layer, build in prefixes:
                wl.reset()
                # planned inside the span, as the job plans inside its
                # own, and after the reset: a plan lists its input files
                self(layer, rep, lambda: noop(build()))
        return [layer for layer, _ in prefixes]


def trace_resume(rw, spark, spans):
    """The resume scenario: its prefixes once, then one whole job
    (write, then derive), whose commit is checked."""
    rec = Recorder(spark, spans, rw.name)
    rec.prefixes(rw, spark, 1)
    rw.reset()
    with spans.span(rw.name + ".job") as s:
        frames = rec("write", 0, lambda: rw.write(spark))
        rec("derive", 0, lambda: rw.derive(frames))
    rec.walls["job"] = [s["end"] - s["start"]]
    spark.sparkContext.setJobDescription("check")
    attempted, bad = rw.check(spark)
    return rec.walls, rw.materialized(), attempted, bad


def traced_run(wl, args, work, report):
    """Per-layer metrics.  Spark layers: successive plan prefixes
    forced with a ``noop`` sink, with Spark's event log on.  Kernel
    layers: a driver replay of a stratified document sample.  With
    ``web_pages``, the resume-and-write scenario runs in the same
    session."""
    from perfbench import sparkenv, tracing
    from perfbench.checks import MAX_WORK_FACTOR
    from perfbench.workloads import ResumeWrite

    nproc = os.cpu_count() or 1
    master = "local[%d]" % nproc
    trace_dir = os.path.join(OUT_ROOT, "traces",
                             "%s-seed%d" % (wl.name, args.seed))
    shutil.rmtree(trace_dir, ignore_errors=True)
    event_log = os.path.join(trace_dir, "eventlog")
    spans = tracing.Spans("%s-seed%d-%d" % (wl.name, args.seed, os.getpid()))
    rw = None
    if wl.name == "web_pages":
        rw = ResumeWrite(args.seed, REPO, os.path.join(work, ResumeWrite.name),
                         nproc)

    with spans.span("prepare"):
        wl.prepare()
        if rw:
            rw.prepare()

    spark = sparkenv.start_session(master, work, wl.partitions,
                                   event_log_dir=event_log)
    report["host"] = host_info(spark)
    wl.job(spark)  # warm-up, not traced
    rec = Recorder(spark, spans, wl.name)
    # whole jobs right after the warm-up, as the untraced reference
    # below times them, so that trace.overhead_frac compares jobs of
    # equally warm sessions
    for rep in range(TRACE_REPS):
        wl.reset()
        rec("job", rep, lambda: wl.job(spark))
    # the workload's job is its last prefix, the canonical frame forced
    chain = rec.prefixes(wl, spark, TRACE_REPS)
    walls, cpu = rec.walls, rec.cpu
    spark.sparkContext.setJobDescription("check")  # not a traced job's
    attempted, bad = wl.check(spark)
    counts = {}
    for layer, build in wl.prefixes(spark):
        if layer in ("pages", "link"):
            df = build()
            counts[layer] = (df.count(), df.rdd.getNumPartitions())
    if rw:
        # no warm-up: the session is warm from the workload's own jobs
        rw_walls, materialized, n, rw_bad = trace_resume(rw, spark, spans)
        attempted += n
        bad += rw_bad
    spark.stop()

    # the untraced reference: same settings, no event log, no spans
    spark = sparkenv.start_session(master, work, wl.partitions)
    wl.job(spark)
    untraced = [timed_job(wl, spark) for _ in range(TRACE_REPS)]
    with spans.span("kernel.collect"):
        rows_by_url = wl.kernel_input(spark)
    spark.stop()
    sparkenv.shutdown_jvm()

    sample, timings, strata = tracing.stratified_sample(
        rows_by_url, args.seed)
    with spans.span("kernel.replay"):
        docs = tracing.replay_kernel(timings, rows_by_url, MAX_WORK_FACTOR)
    with spans.span("rdfc.replay"):
        rdfc = tracing.count_rdfc(sample, rows_by_url, MAX_WORK_FACTOR)

    log, stage_spans = tracing.read_event_log(event_log)

    def stats(tag, key, reps):
        return [tracing.stage_stats(log.get("%s:%s#%d" % (tag, key, r), []))
                for r in range(reps)]

    canon = stats(wl.name, "canon", TRACE_REPS)

    def diff(w, key, base):
        if key not in w:
            return 0.0
        return median([a - b for a, b in zip(w[key], w.get(
            base, [0.0] * len(w[key])))])

    # a layer's busy time: its prefix minus the prefix it extends; the
    # Arrow round trip and the kernel both extend the sorted prefix
    pred = {layer: (chain[i - 1] if i else None)
            for i, layer in enumerate(chain)}
    pred["transport"] = pred["canon"] = "sort"
    doc_ms = [d["doc_ms"] for d in docs]
    weights = [d["weight"] for d in docs]
    p99 = tracing.weighted_quantile(doc_ms, weights, 0.99)

    def weighted(key):
        return sum(d["weight"] * d[key] for d in docs)

    m = {
        "pages.busy_s": (diff(walls, "pages", pred.get("pages")), "s"),
        "pages.rows": (counts.get("pages", (0, 0))[0], "count"),
        "pages.partitions": (counts.get("pages", (0, 0))[1], "count"),
        "link.busy_s": (diff(walls, "link", pred.get("link")), "s"),
        "link.quads": (counts.get("link", (0, 0))[0], "count"),
        "sort.busy_s": (diff(walls, "sort", pred["sort"]), "s"),
        "transport.busy_s": (diff(walls, "transport", "sort"), "s"),
        "transport.bytes_to_python": (
            median([c["py_sent"] for c in canon]), "bytes"),
        "transport.bytes_from_python": (
            median([c["py_recv"] for c in canon]), "bytes"),
        "canon.busy_s": (diff(walls, "canon", "sort"), "s"),
        "canon.cpu_s": (diff(cpu, "canon", "sort"), "s"),
        "canon.gc_s": (median([c["gc_s"] for c in canon]), "s"),
        "canon.task_skew": (median([c["task_skew"] for c in canon]), "ratio"),
        "canon.shuffle_bytes": (
            median([c["shuffle_bytes"] for c in canon]), "bytes"),
        "canon.kernel_evals": (
            median([c["kernel_stages"] for c in canon]), "count"),
        "kernel.input_hash_s": (weighted("input_hash_s"), "s"),
        "kernel.rows_to_dataset_s": (weighted("rows_to_dataset_s"), "s"),
        "kernel.main_s": (weighted("main_s"), "s"),
        "kernel.doc_ms.p50": (
            tracing.weighted_quantile(doc_ms, weights, 0.5), "ms"),
        "kernel.doc_ms.p99": (p99, "ms"),
        "kernel.doc_ms.samples": (len(docs), "count"),
        "kernel.doc_ms.beyond_p99": (sum(x > p99 for x in doc_ms), "count"),
        # the whole per-document kernel, summed over the input (weighted
        # estimate) and spread over nproc slots, as a share of the
        # untraced job: how far a kernel change can move wall_s
        "kernel.wall_share": (
            sum(w * x for w, x in zip(weights, doc_ms)) / 1e3
            / (nproc * median(untraced)), "ratio"),
    }
    for i, (population, sampled, _) in enumerate(strata):
        m["kernel.stratum%d.docs" % i] = (population, "count")
        m["kernel.stratum%d.sampled" % i] = (sampled, "count")
    for reason, n in tracing.quarantine_counts(bad).items():
        m["kernel.quarantined." + reason] = (n, "count")
    for key, unit in tracing.RDFC_COUNTERS:
        m["rdfc." + key] = (rdfc[key], unit)

    if rw:
        # the write step evaluates the remainder's canonical frame
        # inside write_batch; derive re-plans the frames it returns
        evals = stats(rw.name, "write", 1) + stats(rw.name, "derive", 1)
        m.update({
            "materialize.resume_s": (diff(rw_walls, "resume", "pages"), "s"),
            "materialize.write_s": (
                rw_walls["write"][0] - rw_walls["canon"][0], "s"),
            "materialize.derive_s": (rw_walls["derive"][0], "s"),
            "materialize.wall_s": (rw_walls["job"][0], "s"),
            "materialize.kernel_evals": (
                sum(e["kernel_stages"] for e in evals), "count"),
            "materialize.bytes": (materialized["bytes"], "bytes"),
            "materialize.files": (materialized["files"], "count"),
            "materialize.manifest_rows": (
                materialized["manifest_rows"], "count"),
        })
        report["resume_write"] = dict(walls=rw_walls, **materialized)
    else:
        m.update({k: (0, u) for k, u in MATERIALIZE_METRICS})
    # each traced job's own wall time against its own stages (event
    # log): pages, link, sort and the kernel share Spark stages, so the
    # rest is driver-side planning, job submission and result handling
    unattributed = [
        1 - tracing.covered_s(stage_spans.get(
            "%s:job#%d" % (wl.name, r), [])) / wall
        for r, wall in enumerate(walls["job"])]
    m.update({
        "failed_frac": (len({u for u, _ in bad}) / max(attempted, 1),
                        "ratio"),
        "trace.overhead_frac": (
            median(walls["job"]) / median(untraced) - 1, "ratio"),
        "trace.unattributed_frac": (median(unattributed), "ratio"),
    })
    m = {k: _metric(v, u) for k, (v, u) in m.items()}
    report.update(untraced_walls=untraced, walls=walls, cpu=cpu,
                  unattributed=unattributed, strata=strata)
    spans.dump(os.path.join(trace_dir, "spans.json"),
               {"metrics": m, "report": report})
    return attempted, bad, m


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # run the cleanup in main's finally


def main(argv):
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    # stdout carries exactly one line, the result: everything else the
    # process or its children (the JVM) print goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    if not os.path.isdir(os.path.join(REPO, "rdf_canonize_spark")):
        print("perfbench: no rdf_canonize_spark package beside %s" % HERE,
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import sparkenv
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print("perfbench: unknown workload %r (have %s)"
              % (args.workload, ", ".join(WORKLOADS)), file=sys.stderr)
        return 2
    work = os.path.join(OUT_ROOT, "work-%s-%d-%d" % (
        args.workload, args.seed, os.getpid()))
    os.makedirs(work)
    sparkenv.prepare_environment(REPO, work)
    wl = WORKLOADS[args.workload](args.seed, REPO, work, os.cpu_count() or 1)
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace}
    try:
        run = traced_run if args.trace else untraced_run
        attempted, bad, metrics = run(wl, args, work, report)
    finally:
        sparkenv.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    report.update(counts=wl.counts(), failures=bad[:50], metrics=metrics)
    reports = os.path.join(OUT_ROOT, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, "%s-seed%d-trace%d.json" % (
            args.workload, args.seed, args.trace)), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print("perfbench report: " + json.dumps(report, default=str),
          file=sys.stderr)
    result = {"correct": not bad, "attempted": attempted,
              "failed": len({u for u, _ in bad}), "metrics": metrics}
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
