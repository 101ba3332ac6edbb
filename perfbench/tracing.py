"""Spans, counters, Spark stage metrics and worker RSS for the benchmark.

Spans come from wrappers this package installs around the engine's layer
functions; the engine itself is not modified. Driver-side wrappers are
installed for a traced phase only. In a traced run, the custom worker
entry (``workerpath/pyspark_perfbench_worker.py``) installs the
worker-side wrappers in each Python worker; they record only for tasks
whose job carries the ``perfbench.trace`` local property, so one session
can time an untraced phase and a traced phase.

A span's self time is its duration minus the time its child spans cover.
Spans are aggregated in memory per (process, name); a worker writes its
aggregate after each task, the driver reads them when the phase ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

TRACE_PROPERTY = "perfbench.trace"
TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"


class Recorder:
    """Span stack + aggregates for one process (one thread records)."""

    def __init__(self):
        self.stack: list[list] = []  # [name, child_s]
        self.self_s: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self.durations: dict[str, list[float]] = {}
        self.counts: dict[str, float] = {}
        self.dirty = False

    def inside(self, name: str) -> bool:
        return any(f[0] == name for f in self.stack)

    @contextmanager
    def span(self, name: str, keep_durations: bool = False):
        frame = [name, 0.0]
        self.stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self.stack.pop()
            if self.stack:
                self.stack[-1][1] += dur
            self.self_s[name] = self.self_s.get(name, 0.0) + dur - frame[1]
            self.calls[name] = self.calls.get(name, 0) + 1
            if keep_durations:
                self.durations.setdefault(name, []).append(dur)
            self.dirty = True

    def count(self, name: str, v: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + float(v)
        self.dirty = True

    def snapshot(self) -> dict:
        return {
            "self_s": dict(self.self_s),
            "calls": dict(self.calls),
            "durations": {k: list(v) for k, v in self.durations.items()},
            "counts": dict(self.counts),
        }


def merge(snaps: list[dict]) -> dict:
    out = {"self_s": {}, "calls": {}, "durations": {}, "counts": {}}
    for s in snaps:
        for key in ("self_s", "calls", "counts"):
            for k, v in s.get(key, {}).items():
                out[key][k] = out[key].get(k, 0) + v
        for k, v in s.get("durations", {}).items():
            out["durations"].setdefault(k, []).extend(v)
    return out


def _patch(obj, attr: str, make):
    """Replace ``obj.attr`` with ``make(original)``; returns an undo."""
    orig = getattr(obj, attr)
    wrapped = functools.wraps(orig)(make(orig))
    setattr(obj, attr, wrapped)
    return lambda: setattr(obj, attr, orig)


# ---------------------------------------------------------------- driver


@contextmanager
def driver_spans(rec: Recorder):
    """Install the driver-side wrappers for the duration of the block."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from ksj2gp_spark import pipeline
    from ksj2gp_spark.operators import ingest, spatial
    from ksj2gp_spark.sinks import geoparquet, iceberg

    def timed(name, keep=False):
        def make(orig):
            def w(*a, **k):
                with rec.span(name, keep):
                    return orig(*a, **k)

            return w

        return make

    def cover(orig):
        def w(*a, **k):
            with rec.span("cells.cover"):
                out = orig(*a, **k)
            rec.count("cells.cover_rows", len(out))
            return out

        return w

    def chunk(orig):
        # iceberg.append runs the chunk's whole Spark job (scan, fused
        # join, parquet write) before committing: its span is the chunk
        def w(*a, **k):
            with rec.span("pipeline.chunk", keep_durations=True):
                with rec.span("iceberg.append"):
                    sid = orig(*a, **k)
            rec.count("iceberg.commits", 1)
            return sid

        return w

    undo = [
        _patch(spatial, "polygon_cover_pdf", cover),
        _patch(spatial, "fused_assign_or_knn", timed("spatial.plan")),
        _patch(pipeline, "_image_file_chunks", timed("pipeline.scan")),
        _patch(pipeline, "committed_pipeline_files", timed("pipeline.scan")),
        _patch(DataFrameReader, "parquet", timed("pipeline.scan")),
        _patch(iceberg, "append", chunk),
        _patch(DataFrameWriter, "parquet", timed("spark.write_job")),
        _patch(pipeline, "ingest_polygons", timed("ingest.plan")),
        _patch(ingest, "ingest_zips_auto", timed("ingest.plan")),
        _patch(geoparquet, "write_geoparquet", timed("geoparquet.job")),
    ]
    try:
        yield rec
    finally:
        for u in reversed(undo):
            u()


# ---------------------------------------------------------------- worker

_WORKER = Recorder()


def _worker_tracing() -> bool:
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc is not None and tc.getLocalProperty(TRACE_PROPERTY) == "1"


_installed = False


def install_worker_spans() -> None:
    """Wrap the worker-side layer functions, once per process."""
    global _installed
    if _installed:
        return
    _installed = True
    import numpy as np
    import pyarrow.parquet as pq

    from ksj2gp_spark.formats import dbf, gml, shp
    from ksj2gp_spark.geo import geom, hexgrid
    from ksj2gp_spark.operators import ingest, spatial

    rec = _WORKER

    def encode(orig):
        def w(lons, lats, res):
            if not _worker_tracing():
                return orig(lons, lats, res)
            with rec.span("cells.encode"):
                out = orig(lons, lats, res)
            rec.count("cells.encode_pts", len(out))
            return out

        return w

    def pip(orig):
        def w(xs, ys, g):
            # PIP inside a kNN distance evaluation is kNN work
            if rec.inside("geom.knn") or not _worker_tracing():
                return orig(xs, ys, g)
            with rec.span("geom.pip"):
                out = orig(xs, ys, g)
            n = len(out)
            rec.count("geom.pip_pts", n)
            rec.count("geom.pip_hits", int(np.count_nonzero(out)))
            rec.count("geom.pip_edge_tests", n * sum(len(r) - 1 for r in g.rings()))
            return out

        return w

    def knn_dense(orig):
        def w(xs, ys, g):
            if not _worker_tracing():
                return orig(xs, ys, g)
            rec.count("geom.knn_pts", len(xs))
            if rec.inside("geom.knn"):
                return orig(xs, ys, g)
            with rec.span("geom.knn"):
                return orig(xs, ys, g)

        return w

    def knn_ring(orig):
        def w(lons, *a, **k):
            if not _worker_tracing():
                return orig(lons, *a, **k)
            with rec.span("geom.knn"):
                return orig(lons, *a, **k)

        return w

    def timed(name, nbytes=False):
        def make(orig):
            def w(*a, **k):
                if not _worker_tracing():
                    return orig(*a, **k)
                if nbytes:
                    rec.count("formats.bytes_in", len(a[0]))
                with rec.span(name):
                    return orig(*a, **k)

            return w

        return make

    def parse(orig):
        def w(*a, **k):
            if not _worker_tracing():
                return orig(*a, **k)
            with rec.span("ingest.parse"):
                out = orig(*a, **k)
            bad = int(out["error"].notna().sum()) if len(out) else 0
            rec.count("ingest.features", len(out) - bad)
            rec.count("ingest.errors", bad)
            return out

        return w

    _patch(hexgrid, "latlng_to_cell", encode)
    _patch(geom, "geometry_contains", pip)
    _patch(geom, "distance_to_geometry", knn_dense)
    _patch(spatial, "_ring_knn_batch", knn_ring)
    _patch(shp, "read_shp", timed("formats.shp", nbytes=True))
    _patch(dbf, "read_dbf", timed("formats.dbf", nbytes=True))
    _patch(gml, "read_gml", timed("formats.gml", nbytes=True))
    for name in ("translate_colnames", "get_codelist_map", "translate_value"):
        _patch(ingest, name, timed("ksj.translate"))
    _patch(ingest, "parse_zip_bytes", parse)
    _patch(ingest, "parse_gml_zip_bytes", parse)
    _patch(pq, "write_table", timed("geoparquet.write"))


def flush_worker() -> None:
    """Write this worker's cumulative aggregate (atomic replace)."""
    d = os.environ.get(TRACE_DIR_ENV)
    if not d or not _WORKER.dirty:
        return
    path = os.path.join(d, f"w{os.getpid()}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(_WORKER.snapshot(), f)
    os.replace(tmp, path)
    _WORKER.dirty = False


def read_worker_spans(trace_dir: str) -> dict:
    snaps = []
    for p in glob.glob(os.path.join(trace_dir, "w*.json")):
        with open(p) as f:
            snaps.append(json.load(f))
    return merge(snaps)


# ----------------------------------------------------------- spark stages


def stage_metrics(sc, group: str) -> dict:
    """Sum the status store's per-stage metrics over the group's jobs."""
    from py4j.protocol import Py4JJavaError

    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    tot = {
        "task_s": 0.0, "jvm_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
        "peak_exec_mem_bytes": 0.0, "stages": 0,
    }
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped or evicted: nothing ran
                continue
            tot["task_s"] += sd.executorRunTime() / 1e3
            tot["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.diskBytesSpilled()
            tot["peak_exec_mem_bytes"] = max(
                tot["peak_exec_mem_bytes"], float(sd.peakExecutionMemory())
            )
            tot["stages"] += 1
    return tot


# ------------------------------------------------------------- worker RSS


def _ppid_state(pid: int) -> tuple[int, str]:
    with open(f"/proc/{pid}/stat") as f:
        st = f.read()
    fields = st.rsplit(")", 1)[1].split()
    return int(fields[1]), fields[0]


def worker_pids(me: int) -> set[int]:
    """This session's Python workers: pyspark daemon or worker processes
    whose parent chain reaches ``me``."""
    out = set()
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(p, "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            pid = q = int(p.split("/")[2])
            for _ in range(32):
                if q == me or q <= 1:
                    break
                q = _ppid_state(q)[0]
            if q == me:
                out.add(pid)
        except (OSError, ValueError):
            continue
    return out


def rss_kb(pid: int) -> int:
    """VmRSS of ``pid`` in KiB, 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def alive(pid: int) -> bool:
    try:
        return _ppid_state(pid)[1] != "Z"
    except OSError:
        return False


class RssSampler:
    """One background thread sampling the summed worker RSS every
    ``interval_s``; the /proc walk that finds new workers runs only every
    ``rescan_s``, so a sample reads a handful of status files."""

    def __init__(self, interval_s: float = 0.02, rescan_s: float = 0.5):
        self.interval_s, self.rescan_s = interval_s, rescan_s
        self.me = os.getpid()
        self.pids: set[int] = set()
        self.peak_kb = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        last_scan = 0.0
        while not self._stop.is_set():
            if time.monotonic() - last_scan >= self.rescan_s:
                self.pids |= worker_pids(self.me)
                last_scan = time.monotonic()
            if self._on.is_set():
                total = sum(rss_kb(p) for p in self.pids)
                self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    @contextmanager
    def measuring(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def close(self) -> set[int]:
        """Stop sampling; returns every worker pid seen."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.pids | worker_pids(self.me)
