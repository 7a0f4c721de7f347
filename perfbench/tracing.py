"""The traced run: per-layer numbers from spans around calls into each layer.

Spark work is lazy, so a layer is timed through an action of its own
(scan → noop, ``extract`` → noop, ``extract`` → parquet, one dedup operator
→ noop over materialized inputs), each inside a span. Eager calls are wrapped
in spans while they run: ``SnapshotTable.read`` / ``append`` inside a job
run, and each contract query of a dedup pass. A span records name, start,
end, parent and the pass id shared by every span of the run; its Spark jobs
run under a job group of its own, which maps the span to the engine's stage
metrics and executed plans once the run is over. Spans stay in memory and are
written, with the per-layer table, to
``.perfbench_traces/<workload>-seed<seed>.json``.

Every traced run covers every layer: the chosen workload at full size, the
other layers on probe-sized inputs of the same seed. The workload's own pass
also runs untraced, interleaved untraced-traced-traced-untraced; the traced
minus untraced difference is reported as the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import importlib.util
import json
import os
import re
import statistics
import sys
import time

from pyspark.sql import functions as F

import engine
import workloads
from py_image_toolkit_spark import contract
from py_image_toolkit_spark.operators import dedup as D
from py_image_toolkit_spark.plans.job import repartition_by_url
from py_image_toolkit_spark.plans.pipeline import extract
from py_image_toolkit_spark.sources.tables import SnapshotTable
from workloads import N_DOCS, N_PAGES, DedupCorpus, ExtractFresh, JobResume

PROBE_PAGES = 2_000  # extraction layers when the workload is dedup_corpus
JOB_PAGES = 2_000  # job sweep input, half of it committed beforehand
PROBE_DOCS = 500  # dedup layers when the workload is extract_fresh
PROFILE_DOCS = 2_000  # single-process kernel-stage profile
OWN_ORDER = "UTTU"  # untraced / traced passes of the workload itself

# profile_stages stage → per-layer metric
_STAGES = {
    "decode": "normalize.decode_us",
    "strip": "normalize.strip_us",
    "segment": "segment.segment_us",
    "geometry": "extractor.geometry_us",
    "slice": "extractor.slice_us",
    "label": "labeling.label_us",
    "assemble": "extractor.assemble_us",
}
_DEDUP_STEPS = ("exact", "shingles", "minhash", "minhash_shingled", "lsh", "verify")
# engine counters kept per span; all but gc_s (whole milliseconds, often 0
# on a short pass) are per-layer metrics of the workload's traced pass
_SPARK = {
    "tasks": "count",
    "failed_tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "peak_exec_mem_mb": "MB",
    "exchanges": "count",
    "broadcast_bytes": "bytes",
}
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}

UNITS = {
    "session.start_s": "s",
    "scan.pages_s": "s",
    "tables.read_s": "s",
    "tables.append_s": "s",
    "tables.files_per_commit": "count",
    "tables.bytes_written": "bytes",
    "tables.stored_bytes_per_doc": "B/doc",
    "job.run_s": "s",
    "job.overhead_s": "s",
    "job.resume_skipped_share": "share",
    "pipeline.extract_noop_s": "s",
    "pipeline.extract_sink_s": "s",
    "doc_kernel.boundary_s": "s",
    "doc_kernel.worker_cpu_s": "s",
    "doc_kernel.tasks": "count",
    "doc_kernel.worker_peak_rss_mb": "MB",
    **{name: "us/doc" for name in _STAGES.values()},
    "kernel.docs_per_s_core": "docs/s",
    **{f"dedup.{k}_s": "s" for k in _DEDUP_STEPS},
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "share",
    "contract.q18_s": "s",
    "contract.q19_s": "s",
    "contract.q20_s": "s",
    **{f"spark.{k}": u for k, u in _SPARK.items() if k != "gc_s"},
    "trace.overhead_s": "s",
}


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def workloads_for(name: str, work: str, seed: int) -> list:
    """Inputs of a traced run, the named workload first."""
    own_ext = name == ExtractFresh.name
    ext = ExtractFresh(work, seed, N_PAGES if own_ext else PROBE_PAGES)
    job = JobResume(work, seed, JOB_PAGES)
    ded = DedupCorpus(work, seed, PROBE_DOCS if own_ext else N_DOCS)
    return [ext, job, ded] if own_ext else [ded, ext, job]


class Tracer:
    def __init__(self, spark, pass_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.pass_id = pass_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "pass_id": self.pass_id,
            "start": time.perf_counter() - self.t0,
        }
        span["group"] = f"{self.pass_id}/{span['id']}"
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span["group"], name)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter() - self.t0
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def wrapped(self, owner, attr: str, name):
        """``owner.attr`` runs inside a span while in the block; ``name`` is
        the span name, or a function of the call's arguments giving it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name(*args) if callable(name) else name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def dur(self, name: str) -> float:
        """Mean wall of the spans called ``name``."""
        return statistics.mean(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def subtree(self, name: str) -> list[dict]:
        """The first span called ``name`` and its descendants."""
        root = next(s for s in self.spans if s["name"] == name)
        ids, out = {root["id"]}, [root]
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    # -- engine counters, attached once every span has closed ---------------

    def attach_counters(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stages = self._stage_metrics()
        plans = self._plan_counts()
        for s in self.spans:
            jobs = set(tracker.getJobIdsForGroup(s["group"]))
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            c = dict.fromkeys(_SPARK, 0)
            for sid in stage_ids:
                for m in stages.get(sid, []):
                    for k, v in m.items():
                        c[k] = max(c[k], v) if k == "peak_exec_mem_mb" else c[k] + v
            for exec_jobs, exchanges, broadcast in plans:
                if exec_jobs & jobs:
                    c["exchanges"] += exchanges
                    c["broadcast_bytes"] += broadcast
            s["jobs"] = sorted(jobs)
            s["spark"] = c

    def _stage_metrics(self) -> dict[int, list[dict]]:
        """Metrics of every stage attempt, by stage id."""
        jvm = self.sc._jvm
        listed = self.sc._jsc.sc().statusStore().stageList(
            None, False, False, self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )
        out: dict[int, list[dict]] = {}
        it = listed.iterator()
        while it.hasNext():
            st = it.next()
            out.setdefault(st.stageId(), []).append(
                {
                    "tasks": st.numCompleteTasks(),
                    "failed_tasks": st.numFailedTasks(),
                    "executor_cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "peak_exec_mem_mb": st.peakExecutionMemory() / 2**20,
                }
            )
        return out

    def _plan_counts(self) -> list[tuple[set, int, int]]:
        """(job ids, Exchange + BroadcastExchange nodes, broadcast bytes) per
        SQL execution, from its executed (final adaptive) plan graph."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        execs = store.executionsList().iterator()
        while execs.hasNext():
            ex = execs.next()
            job_ids = set()
            keys = ex.jobs().keysIterator()
            while keys.hasNext():
                job_ids.add(keys.next())
            values = store.executionMetrics(ex.executionId())
            exchanges = broadcast = 0
            nodes = store.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if node.name() in ("Exchange", "BroadcastExchange"):
                    exchanges += 1
                if node.name() == "BroadcastExchange":
                    broadcast += _metric_bytes(node, values, "data size")
            out.append((job_ids, exchanges, broadcast))
        return out


def _metric_bytes(node, values, name: str) -> int:
    """A size metric of a plan node, parsed from its rendered value."""
    metrics = node.metrics().iterator()
    while metrics.hasNext():
        m = metrics.next()
        if m.name() == name:
            v = values.get(m.accumulatorId())
            hit = _SIZE.search(v.get()) if v.isDefined() else None
            if hit:
                return int(float(hit.group(1)) * _SIZE_UNITS[hit.group(2)])
    return 0


def _profile_stages(seed: int) -> dict[str, float]:
    """scripts/profile_stages.profile on this seed's pages, per document."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "profile_stages", os.path.join(root, "scripts", "profile_stages.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stages = mod.profile(PROFILE_DOCS, seed)
    out = {name: stages.get(stage, 0.0) / PROFILE_DOCS * 1e6 for stage, name in _STAGES.items()}
    out["kernel.docs_per_s_core"] = PROFILE_DOCS / sum(stages.values())
    return out


def own_pass(tr: Tracer, wl, order: str, wraps: list) -> tuple[float | None, int, int]:
    """The workload's timed pass, run untraced (U) and traced (T) in
    ``order``; a traced pass runs in a span named ``<workload>.pass`` with
    ``wraps`` (owner, attribute, span name) in place. Returns (mean traced
    minus mean untraced wall, or None without both, attempted, failed)."""
    walls: dict[str, list[float]] = {"U": [], "T": []}
    attempted = failed = 0
    for mode in order:
        with contextlib.ExitStack() as stack:
            if mode == "T":
                for owner, attr, name in wraps:
                    stack.enter_context(tr.wrapped(owner, attr, name))
                stack.enter_context(tr.span(f"{wl.name}.pass"))
            t0 = time.perf_counter()
            wl.run(tr.spark)
            walls[mode].append(time.perf_counter() - t0)
        a, f = wl.check_run()
        attempted += a
        failed += f
    if not (walls["U"] and walls["T"]):
        return None, attempted, failed
    return statistics.mean(walls["T"]) - statistics.mean(walls["U"]), attempted, failed


def sweep_pipeline(tr: Tracer, ext: ExtractFresh, order: str) -> tuple[dict, float | None, int, int]:
    """Scan → noop, extract → noop, then the extract → parquet pass."""
    pages = tr.spark.read.parquet(ext.pages)
    with tr.span("scan.pages"):
        _noop(pages)
    cpu0 = engine.workers_cpu_s()
    with tr.span("pipeline.extract_noop"):
        _noop(extract(pages))
    worker_cpu = engine.workers_cpu_s() - cpu0
    overhead, attempted, failed = own_pass(tr, ext, order, [(workloads, "extract", "pipeline.extract")])
    metrics = {
        "scan.pages_s": tr.dur("scan.pages"),
        "pipeline.extract_noop_s": tr.dur("pipeline.extract_noop"),
        "pipeline.extract_sink_s": tr.dur(f"{ext.name}.pass") - tr.dur("pipeline.extract_noop"),
        "doc_kernel.worker_cpu_s": worker_cpu,
        "doc_kernel.worker_peak_rss_mb": engine.workers_peak_rss_mb(),
    }
    return metrics, overhead, attempted, failed


def sweep_job(tr: Tracer, job: JobResume) -> tuple[dict, int, int]:
    """A snapshot read and one resumable job run with its appends in spans."""
    spark = tr.spark
    job.ready(spark)
    base_out, _ = job.tables(job.base)
    with tr.span("tables.read"):
        _noop(base_out.read(spark))
    out, runs = job.fresh_copy("traced")
    with tr.wrapped(SnapshotTable, "read", "tables.read_lazy"), \
            tr.wrapped(SnapshotTable, "append", "tables.append"):
        with tr.span("job.run"):
            summary = job.run_job(spark, out, runs, "traced")
    failed = job.check_commit(out)
    commit = job.new_commit(out)
    files = [f for f in os.listdir(commit) if f.endswith(".parquet")]
    nbytes = sum(os.path.getsize(os.path.join(commit, f)) for f in os.listdir(commit))

    # extract → parquet over the todo set the job extracted, partitioned as
    # the job partitions it
    pages = spark.read.parquet(job.pages)
    todo = pages.join(base_out.read(spark).select("url").distinct(), "url", "left_anti")
    todo = repartition_by_url(todo, spark.sparkContext.defaultParallelism)
    with tr.span("job.extract_todo_parquet"):
        extract(todo, num_partitions=0).write.mode("overwrite").parquet(os.path.join(job.work, "todo_sink"))

    new_docs = summary["docs_in"]
    append_s = sum(s["end"] - s["start"] for s in tr.subtree("job.run") if s["name"] == "tables.append")
    metrics = {
        "tables.read_s": tr.dur("tables.read"),
        "tables.append_s": append_s,
        "tables.files_per_commit": len(files),
        "tables.bytes_written": nbytes,
        "tables.stored_bytes_per_doc": nbytes / new_docs,
        "job.run_s": tr.dur("job.run"),
        "job.overhead_s": tr.dur("job.run") - tr.dur("job.extract_todo_parquet") - append_s,
        "job.resume_skipped_share": 1 - new_docs / job.n_pages,
    }
    return metrics, job.n_pages, failed


def sweep_dedup(tr: Tracer, ded: DedupCorpus, order: str) -> tuple[dict, float | None, int, int]:
    """Each dedup operator over materialized inputs, then the query pass."""
    spark = tr.spark
    handles = []

    def cached(df):
        df = df.persist()
        handles.append(df)
        return df

    docs = cached(contract._docs_df(spark, ded.corpus))
    _noop(docs)
    with tr.span("dedup.exact"):
        _noop(D.exact_dedup(docs))
    base = cached(D.doc_shingles(docs, k=3))
    with tr.span("dedup.shingles"):
        _noop(base)
    shingles = base.select("doc_id", F.explode("shingles").alias("shingle"))
    sigs = cached(D.minhash_signatures(shingles, num_hashes=8))
    with tr.span("dedup.minhash"):
        _noop(sigs)
    with tr.span("dedup.minhash_shingled"):
        _noop(D.minhash_shingled(docs, num_hashes=8))
    cands = cached(D.lsh_band_pairs(sigs, num_hashes=8, rows_per_band=2))
    with tr.span("dedup.lsh"):
        _noop(cands)
    verified = D.jaccard_verify_arrays(base, cands, min_jaccard=0.5)
    with tr.span("dedup.verify"):
        _noop(verified)
    n_cands, n_verified = cands.count(), verified.count()
    for h in handles:
        h.unpersist()

    ded.ready(spark)
    ded.reference()  # not timed alongside the passes
    by_query = (workloads, "run_query", lambda spark, name, sf_dir: f"contract.{name[:3]}")
    overhead, attempted, failed = own_pass(tr, ded, order, [by_query])
    metrics = {f"dedup.{k}_s": tr.dur(f"dedup.{k}") for k in _DEDUP_STEPS}
    metrics.update({
        "dedup.candidate_pairs": n_cands,
        "dedup.verified_pairs": n_verified,
        "dedup.verify_yield": n_verified / n_cands if n_cands else 0.0,
        "contract.q18_s": tr.dur("contract.q18"),
        "contract.q19_s": tr.dur("contract.q19"),
        "contract.q20_s": tr.dur("contract.q20"),
    })
    return metrics, overhead, attempted, failed


def traced_run(spark, wls: list, session_s: float, traces: str, args) -> dict:
    own = wls[0]
    ext = next(w for w in wls if isinstance(w, ExtractFresh))
    job = next(w for w in wls if isinstance(w, JobResume))
    ded = next(w for w in wls if isinstance(w, DedupCorpus))
    tr = Tracer(spark, f"{own.name}-seed{args.seed}-pid{os.getpid()}")

    m_ext, o_ext, a_ext, f_ext = sweep_pipeline(tr, ext, OWN_ORDER if own is ext else "T")
    m_job, a_job, f_job = sweep_job(tr, job)
    m_ded, o_ded, a_ded, f_ded = sweep_dedup(tr, ded, OWN_ORDER if own is ded else "T")
    tr.attach_counters()

    metrics = {"session.start_s": session_s, **m_ext, **m_job, **m_ded, **_profile_stages(args.seed)}
    noop = next(s for s in tr.spans if s["name"] == "pipeline.extract_noop")
    floor = ext.n_pages / (metrics["kernel.docs_per_s_core"] * engine.usable_cores())
    metrics["doc_kernel.tasks"] = noop["spark"]["tasks"]
    metrics["doc_kernel.boundary_s"] = metrics["pipeline.extract_noop_s"] - metrics["scan.pages_s"] - floor
    for k in _SPARK:
        vals = [s["spark"][k] for s in tr.subtree(f"{own.name}.pass")]
        metrics[f"spark.{k}"] = max(vals) if k == "peak_exec_mem_mb" else sum(vals)
    metrics["trace.overhead_s"] = o_ext if own is ext else o_ded

    _report(tr, metrics, traces, args)
    attempted, failed = a_ext + a_job + a_ded, f_ext + f_job + f_ded
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in UNITS.items()},
    }


def _report(tr: Tracer, metrics: dict, traces: str, args) -> None:
    """Spans and layer metrics to the trace file; the layer table to stderr."""
    os.makedirs(traces, exist_ok=True)
    path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": tr.spans, "layers": metrics}, fh, indent=1)
    out = sys.stderr
    print(f"perfbench: spans written to {path}", file=out)
    print(f"{'span':<34}{'self s':>8}{'wall s':>8}{'tasks':>6}{'cpu s':>7}{'shuffle MB':>11}{'exch':>5}", file=out)
    for s in tr.spans:
        wall = s["end"] - s["start"]
        kids = sum(k["end"] - k["start"] for k in tr.spans if k["parent"] == s["id"])
        depth, p = 0, s["parent"]
        while p is not None:
            depth, p = depth + 1, tr.spans[p]["parent"]
        c = s["spark"]
        shuffle = (c["shuffle_write_bytes"] + c["shuffle_read_bytes"]) / 2**20
        print(f"{'  ' * depth + s['name']:<34}{wall - kids:>8.3f}{wall:>8.3f}{c['tasks']:>6}"
              f"{c['executor_cpu_s']:>7.2f}{shuffle:>11.1f}{c['exchanges']:>5}", file=out)
    for k, u in UNITS.items():
        print(f"  {k:<34}{metrics[k]:>16.4f} {u}", file=out)
