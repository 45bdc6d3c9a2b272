"""The four workloads: the untimed warm-up, the timed job, its traced
twin and the per-job correctness gate.

The timed job is the user's call sequence, as in ``jobs/extract_job.py``
(``sources.read_spans`` -> ``sources.split_valid`` -> extractor ->
``ledger.run_one_pass``, plus the quarantine write) for the batch
workloads; ``incremental.extract_incremental`` onto a ``catalog``
snapshot table for ``incremental_small``; and
``operators.multimodal.media_metadata`` written to parquet for
``media_decode``. Every gate runs after the job's clock has stopped.

The traced twin runs the same job with each layer call inside a span, and
isolates lazy layers with layer-bounded actions: ``split_valid`` to a noop
sink (the scan plus the validity check), the extractor to a noop sink, then
the full ``run_one_pass``. Probes run before the job, outside its span.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from dd_ops_ocr_spark import catalog, incremental, ledger, pipeline, sources
from dd_ops_ocr_spark.operators import multimodal
from dd_ops_ocr_spark.plans.salting import PAGES_PER_BUCKET, extract_salted

from perfbench import inputs, oracle, procs, trace
from perfbench.inputs import dir_bytes

CORES = 4
# the job's --buckets: ledger.py's advice for an unpartitioned source of
# this size is few buckets; jobs/extract_job.py defaults to 64 for scale
BUCKETS = 16

# Every per-layer metric, so a traced run reports each of them on every
# workload; a layer the workload never calls reports 0.
LAYER_METRICS = {
    "driver.plan_s": "s", "driver.no_task_s": "s",
    "spark.slot_occupancy": "frac", "spark.gc_s": "s", "spark.spill_mb": "MB",
    "sources.scan_s": "s", "sources.docs_in": "count",
    "sources.quarantined": "count",
    "pipeline.extract_s": "s", "pipeline.task_cpu_s": "s",
    "pipeline.py_run_s": "s",
    "pipeline.arrow_mb_to_py": "MB", "pipeline.arrow_mb_from_py": "MB",
    "pipeline.spans_in": "count", "pipeline.spans_out": "count",
    "pipeline.task_max_over_p50": "ratio",
    "salting.extract_s": "s", "salting.big_docs": "count",
    "salting.bucket_rows": "count", "salting.shuffle_write_mb": "MB",
    "salting.task_max_over_p50": "ratio",
    "ledger.write_s": "s", "ledger.commit_s": "s",
    "ledger.files_written": "count", "ledger.mb_written": "MB",
    "incremental.roster_s": "s", "incremental.new_over_incoming": "frac",
    "catalog.data_write_s": "s", "catalog.commit_s": "s",
    "catalog.manifest_kb": "KB", "catalog.files_per_snapshot": "count",
    "codec.decode_s": "s", "codec.payloads": "count",
    "codec.task_cpu_s": "s", "codec.arrow_mb_to_py": "MB",
    "job.wall_s": "s", "job.items_per_s": "1/s",
    "trace.job_wall_s": "s", "trace.self_sum_s": "s",
    "trace.reconcile_err": "frac", "trace.overhead_frac": "frac",
}
MB = float(1 << 20)


@dataclass
class Job:
    """One timed job: its wall time and what the gate found."""
    wall: float
    cpu: float = 0.0        # CPU seconds of the driver, JVM and Python workers
    jit: float = 0.0        # of which the JVM's JIT compiler threads used
    items: int = 0          # docs committed, or payloads decoded
    out_bytes: int = 0
    in_bytes: int = 0       # landed input bytes the job read
    ok: bool = False
    why: str = ""
    layers: dict = field(default_factory=dict)


def _clock() -> tuple[float, float, float]:
    return time.perf_counter(), procs.cpu_s(), procs.jit_s()


def _timed(t0: tuple[float, float, float], **kw) -> Job:
    """A Job timed from ``t0 = _clock()`` to now."""
    wall, cpu, jit = _clock()
    return Job(wall - t0[0], cpu - t0[1], jit - t0[2], **kw)


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Base: a landed input, a scratch dir, and the per-run gate state."""

    # untimed full jobs after setup, before the timed ones: the light
    # warm-up in setup leaves the JVM's write, scan and Arrow paths cold
    warm_jobs = 2

    def __init__(self, root: str, props: dict, work: str, seed: int):
        self.root, self.props, self.work, self.seed = root, props, work, seed
        self.n = 0

    def _out(self) -> str:
        self.n += 1
        path = os.path.join(self.work, f"out_{self.n:04d}")
        shutil.rmtree(path, ignore_errors=True)
        return path


class Batch(Workload):
    """batch_steady / batch_skewed: the one-pass ledger job."""

    def __init__(self, root, props, work, seed, salted: bool):
        super().__init__(root, props, work, seed)
        self.salted = salted
        self.spans_dir = os.path.join(root, "spans")
        self.expect = oracle.expected(os.path.join(root, "oracle.parquet"))
        self.media_dir = None   # the probes' inputs, landed when traced
        self.incr = None

    def extractor(self, df):
        if self.salted:
            return extract_salted(df, PAGES_PER_BUCKET)
        return pipeline.extract(df)

    def _run(self, spark, out: str, tr=None, src: str | None = None) -> int:
        spans = sources.read_spans(spark, src or self.spans_dir)
        valid, quarantine = sources.split_valid(spans)
        with _maybe(tr, "ledger.run_one_pass"):
            ledger.run_one_pass(spark, valid, out, f"r{self.n}",
                                n_buckets=BUCKETS, extractor=self.extractor)
        with _maybe(tr, "quarantine"):
            quarantine.write.mode("overwrite").parquet(f"{out}/quarantine")
            return spark.read.parquet(f"{out}/quarantine").count()

    def warmup(self, spark) -> None:
        """The job over one landed file of small docs."""
        out = self._out()
        self._run(spark, out, src=_files(os.path.join(self.spans_dir, "size_class=small"))[0])
        shutil.rmtree(out, ignore_errors=True)

    def job(self, spark) -> Job:
        out = self._out()
        t0 = _clock()
        nq = self._run(spark, out)
        job = _timed(t0, in_bytes=self.props["input_bytes"])
        self._check(out, nq, job)
        return job

    def _check(self, out: str, nq: int, job: Job) -> None:
        data = _files(f"{out}/data")
        got = oracle.observed(data)
        docs, spans = oracle.scalar(
            "SELECT sum(docs), sum(spans_emitted) FROM t", _files(f"{out}/ledger"))
        job.items = int(docs or 0)
        job.out_bytes = dir_bytes(out)
        problems = []
        if (got["rows"], got["hash"]) != (self.expect["rows"], self.expect["hash"]):
            problems.append(f"output digest {got} != oracle {self.expect}")
        if (job.items, int(spans or 0)) != (got["docs"], got["rows"]):
            problems.append(f"ledger ({docs}, {spans}) != data ({got['docs']}, {got['rows']})")
        if nq != self.props["invalid_docs"]:
            problems.append(f"quarantined {nq} != planted {self.props['invalid_docs']}")
        job.ok, job.why = not problems, "; ".join(problems)
        shutil.rmtree(out, ignore_errors=True)

    def traced_job(self, spark, tr: trace.Tracer, rd: trace.StatusReader) -> Job:
        def valid():
            return sources.split_valid(sources.read_spans(spark, self.spans_dir))[0]

        if self.media_dir is None:
            self.media_dir = os.path.join(inputs.land("media_decode", self.seed)[0], "media")
            work = os.path.join(self.work, "incremental")
            os.makedirs(work)
            self.incr = Incremental(*inputs.land("incremental_small", self.seed), work,
                                    self.seed)
            self.incr.warmup(spark)
        # probes of the layers the job does not call: one traced append
        # onto a snapshot table, and the codec over the seed's media
        # payloads to noop
        with tr.span("probe.incremental"):
            appended = self.incr.traced_job(spark, tr, rd)
        with tr.span("probe.codec") as p_codec:
            _noop(multimodal.media_metadata(spark.read.parquet(self.media_dir)))
        with tr.span("probe.sources") as p_scan:
            _noop(valid())
        with tr.span("probe.pipeline") as p_pipe:
            _noop(pipeline.extract(valid()))
        with tr.span("probe.salting") as p_salt:
            _noop(extract_salted(valid(), PAGES_PER_BUCKET))
        out = self._out()
        with tr.span("job") as root:
            nq = self._run(spark, out, tr)
        job = Job(root.wall, in_bytes=self.props["input_bytes"])
        layers = job.layers
        run_sp = tr.find("ledger.run_one_pass")[-1]
        q_sp = tr.find("quarantine")[-1]
        _codec(layers, rd, p_codec.group)

        scan_nodes = rd.nodes(p_scan.group)
        layers["sources.scan_s"] = p_scan.wall
        layers["sources.docs_in"] = trace.node_sum(
            scan_nodes, "Scan parquet", "number of output rows")
        layers["sources.quarantined"] = nq

        pipe_nodes, pipe_stages = rd.nodes(p_pipe.group), rd.stages(p_pipe.group)
        layers["pipeline.extract_s"] = p_pipe.wall - p_scan.wall
        layers["pipeline.task_cpu_s"] = pipe_stages["cpu_s"]
        layers["pipeline.py_run_s"] = trace.node_sum(
            pipe_nodes, "MapInArrow", "time to run Python workers")
        layers["pipeline.arrow_mb_to_py"] = trace.node_sum(
            pipe_nodes, "MapInArrow", "data sent to Python workers") / MB
        layers["pipeline.arrow_mb_from_py"] = trace.node_sum(
            pipe_nodes, "MapInArrow", "data returned from Python workers") / MB
        layers["pipeline.spans_in"] = self.props["spans"]
        layers["pipeline.spans_out"] = trace.node_sum(
            pipe_nodes, "MapInArrow", "number of output rows")
        layers["pipeline.task_max_over_p50"] = trace.max_over_p50(pipe_stages["stage_tasks"])

        salt_nodes, salt_stages = rd.nodes(p_salt.group), rd.stages(p_salt.group)
        layers["salting.extract_s"] = p_salt.wall - p_scan.wall
        layers["salting.big_docs"] = self.props["tail_docs"]
        layers["salting.bucket_rows"] = trace.node_sum(
            salt_nodes, "Exchange", "shuffle records written")
        layers["salting.shuffle_write_mb"] = salt_stages["shuffle_write_b"] / MB
        layers["salting.task_max_over_p50"] = trace.max_over_p50(salt_stages["stage_tasks"])

        run_execs = rd.executions(run_sp.group)
        write = trace.first_write(run_execs)
        layers["ledger.write_s"] = _wall(write)
        layers["ledger.commit_s"] = _wall(e for e in run_execs if e not in write)
        run_nodes = rd.nodes(run_sp.group)
        layers["ledger.files_written"] = trace.node_sum(
            run_nodes, "Execute InsertIntoHadoopFsRelationCommand", "number of written files")
        layers["ledger.mb_written"] = trace.node_sum(
            run_nodes, "Execute InsertIntoHadoopFsRelationCommand", "written output") / MB
        layers["trace.self_sum_s"] = (
            layers["ledger.write_s"] + layers["ledger.commit_s"]
            + _wall(rd.executions(q_sp.group)))
        _engine(layers, rd, [run_sp, q_sp], root.wall)
        self._check(out, nq, job)
        layers.update((k, v) for k, v in appended.layers.items()
                      if k.startswith(("incremental.", "catalog.")))
        if not appended.ok:
            job.ok, job.why = False, "; ".join(filter(None, [job.why, appended.why]))
        return job


class Incremental(Workload):
    """incremental_small: small appends onto a catalog snapshot table."""

    def __init__(self, root, props, work, seed):
        super().__init__(root, props, work, seed)
        self.expect_file = os.path.join(root, "oracle.parquet")
        self.table = None
        self.delta = 0

    def warmup(self, spark) -> None:
        """A fresh table: the base snapshot, then the first append."""
        self.table = self._out()
        self.delta = 0
        base = sources.read_spans(spark, os.path.join(self.root, "base"))
        incremental.extract_incremental(spark, base, self.table, "base")
        self._append(spark)

    def _delta_dir(self, d: int) -> str:
        return os.path.join(self.root, f"delta_{d:03d}")

    def _append(self, spark) -> dict:
        d = self.delta
        self.delta += 1
        incoming = sources.read_spans(spark, self._delta_dir(d))
        return incremental.extract_incremental(spark, incoming, self.table, f"a{d}")

    def exhausted(self) -> bool:
        return self.delta >= self.props["deltas"]

    def job(self, spark) -> Job:
        d = self.delta
        t0 = _clock()
        summary = self._append(spark)
        job = _timed(t0, in_bytes=self.props["delta_bytes"][d])
        self._check(d, summary, job)
        return job

    def _check(self, d: int, summary: dict, job: Job) -> None:
        snap = catalog._read_manifest(self.table, summary["snapshot_id"])
        parent = catalog._read_manifest(self.table, snap["parent_id"])
        new_files = [os.path.join(self.table, "data", f)
                     for f in snap["files"] if f not in set(parent["files"])]
        new_aux = [os.path.join(self.table, "data", f)
                   for f in snap["aux"]["docids"]
                   if f not in set(parent["aux"]["docids"])]
        new_ids = self.props["delta_new_ids"][d]
        want = oracle.expected(self.expect_file, new_ids)
        got = oracle.observed(new_files)
        (roster,) = oracle.scalar("SELECT count(DISTINCT doc_id) FROM t", new_aux)
        job.items = summary["docs_processed"]
        job.out_bytes = sum(os.path.getsize(f) for f in new_files + new_aux) + \
            os.path.getsize(catalog._manifest_path(self.table, summary["snapshot_id"]))
        problems = []
        if (got["rows"], got["hash"]) != (want["rows"], want["hash"]):
            problems.append(f"append {d} digest {got} != oracle {want}")
        if (summary["operation"], job.items, roster) != ("append", len(new_ids), len(new_ids)):
            problems.append(f"append {d} committed {summary} roster {roster}, "
                            f"want {len(new_ids)} new docs")
        job.ok, job.why = not problems, "; ".join(problems)

    def traced_job(self, spark, tr: trace.Tracer, rd: trace.StatusReader) -> Job:
        d = self.delta
        real = catalog.write_snapshot

        def traced_write(*a, **kw):
            with tr.span("catalog.write_snapshot"):
                return real(*a, **kw)

        catalog.write_snapshot = traced_write
        try:
            with tr.span("job") as root:
                summary = self._append(spark)
        finally:
            catalog.write_snapshot = real
        job = Job(root.wall, in_bytes=self.props["delta_bytes"][d])
        layers = job.layers
        ws = tr.find("catalog.write_snapshot")[-1]
        root_execs = rd.executions(root.group)   # roster read + anti-join
        ws_execs = rd.executions(ws.group)
        data = trace.first_write(ws_execs)
        roster_s = _wall(root_execs)
        data_s = _wall(data)
        layers["incremental.roster_s"] = roster_s
        layers["catalog.data_write_s"] = data_s
        layers["catalog.commit_s"] = ws.wall - data_s
        snap = catalog._read_manifest(self.table, summary["snapshot_id"])
        layers["catalog.manifest_kb"] = os.path.getsize(
            catalog._manifest_path(self.table, summary["snapshot_id"])) / 1024
        layers["catalog.files_per_snapshot"] = len(snap["files"])
        incoming = len(self.props["delta_new_ids"][d]) + self.props["delta_seen"][d]
        layers["incremental.new_over_incoming"] = summary["docs_processed"] / incoming
        layers["sources.docs_in"] = incoming
        layers["trace.self_sum_s"] = roster_s + data_s + layers["catalog.commit_s"]
        _engine(layers, rd, [root, ws], root.wall)
        self._check(d, summary, job)
        return job


class Media(Workload):
    """media_decode: JPEG payloads through media_metadata."""

    # the decode job's CPU keeps falling for about seven jobs after setup
    warm_jobs = 5

    def __init__(self, root, props, work, seed):
        super().__init__(root, props, work, seed)
        self.media_dir = os.path.join(root, "media")

    def _run(self, spark, out: str, src: str | None = None) -> None:
        meta = multimodal.media_metadata(spark.read.parquet(src or self.media_dir))
        meta.write.mode("overwrite").parquet(out)

    def warmup(self, spark) -> None:
        """The job over one landed file."""
        out = self._out()
        self._run(spark, out, src=_files(self.media_dir)[0])
        shutil.rmtree(out, ignore_errors=True)

    def job(self, spark) -> Job:
        out = self._out()
        t0 = _clock()
        self._run(spark, out)
        job = _timed(t0, in_bytes=self.props["input_bytes"])
        self._check(out, job)
        return job

    def _check(self, out: str, job: Job) -> None:
        import pyarrow.parquet as pq

        tbl = pq.read_table(out, columns=["media_ref", "format", "width",
                                          "height", "n_bytes"]).to_pydict()
        expect = self.props["expect"]
        bad = [
            r for r, f, w, h, n in zip(tbl["media_ref"], tbl["format"], tbl["width"],
                                       tbl["height"], tbl["n_bytes"])
            if f != "jpeg" or expect.get(r) != [w, h, n]
        ]
        job.items = len(tbl["media_ref"])
        job.out_bytes = dir_bytes(out)
        problems = []
        if bad:
            problems.append(f"{len(bad)} payloads mismatch synth_geometry, e.g. {bad[0]}")
        if job.items != self.props["payloads"]:
            problems.append(f"{job.items} rows for {self.props['payloads']} payloads")
        job.ok, job.why = not problems, "; ".join(problems)
        shutil.rmtree(out, ignore_errors=True)

    def traced_job(self, spark, tr: trace.Tracer, rd: trace.StatusReader) -> Job:
        out = self._out()
        with tr.span("job") as root:
            with tr.span("multimodal.media_metadata") as mm:
                self._run(spark, out)
        job = Job(root.wall, in_bytes=self.props["input_bytes"])
        layers = job.layers
        _codec(layers, rd, mm.group)
        layers["sources.docs_in"] = trace.node_sum(
            rd.nodes(mm.group), "Scan parquet", "number of output rows")
        layers["trace.self_sum_s"] = _wall(rd.executions(mm.group))
        _engine(layers, rd, [mm], root.wall)
        self._check(out, job)
        return job


class _maybe:
    """``tr.span(name)`` when tracing, else nothing."""

    def __init__(self, tr, name):
        self.cm = tr.span(name) if tr is not None else None

    def __enter__(self):
        return self.cm.__enter__() if self.cm is not None else None

    def __exit__(self, *exc):
        return self.cm.__exit__(*exc) if self.cm is not None else False


def _codec(layers: dict, rd: trace.StatusReader, group: str) -> None:
    """The codec layer's numbers: the media_metadata stage run under
    ``group``."""
    nodes = rd.nodes(group)
    layers["codec.decode_s"] = trace.node_sum(
        nodes, "MapInPandas", "time to run Python workers")
    layers["codec.payloads"] = trace.node_sum(
        nodes, "MapInPandas", "number of output rows")
    layers["codec.task_cpu_s"] = rd.stages(group)["cpu_s"]
    layers["codec.arrow_mb_to_py"] = trace.node_sum(
        nodes, "MapInPandas", "data sent to Python workers") / MB


def _wall(executions) -> float:
    return sum(e["end"] - e["start"] for e in executions)


def _engine(layers: dict, rd: trace.StatusReader, spans: list, wall: float) -> None:
    """Engine-level numbers over the spans that make up the real job."""
    intervals, task_s, gc, spill, plan = [], 0.0, 0.0, 0, 0.0
    for sp in spans:
        st = rd.stages(sp.group)
        intervals += st["intervals"]
        task_s += sum(sum(d) for d in st["stage_tasks"].values()) / 1e3
        gc += st["gc_s"]
        spill += st["spill_b"]
        plan += sum(rd.pre_job_s(e) for e in rd.executions(sp.group))
    lo = min(sp.start for sp in spans)
    hi = max(sp.end for sp in spans)
    layers["driver.plan_s"] = plan
    layers["driver.no_task_s"] = max(0.0, (hi - lo) - trace.covered_s(intervals, lo, hi))
    layers["spark.slot_occupancy"] = task_s / (CORES * wall)
    layers["spark.gc_s"] = gc
    layers["spark.spill_mb"] = spill / MB
    layers["trace.job_wall_s"] = wall
    layers["trace.reconcile_err"] = abs(layers["trace.self_sum_s"] - wall) / wall


def make(name: str, root: str, props: dict, work: str, seed: int) -> Workload:
    if name == "batch_steady":
        return Batch(root, props, work, seed, salted=False)
    if name == "batch_skewed":
        return Batch(root, props, work, seed, salted=True)
    if name == "incremental_small":
        return Incremental(root, props, work, seed)
    return Media(root, props, work, seed)


def median_layers(jobs: list[Job]) -> dict:
    return {k: statistics.median(j.layers.get(k, 0.0) for j in jobs)
            for k in LAYER_METRICS}


def dumps(obj) -> str:
    return json.dumps(obj, default=float, sort_keys=True)
