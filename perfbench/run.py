"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tiles_ksj_rings --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. Starts a ``local[nproc]`` session sized
from the box, builds the workload's inputs from the seed (set-up), then
repeats the workload's timed unit in a closed loop, one job at a time,
for ``--seconds``; every iteration's output is checked against an oracle
that does not use the engine's geometry code. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line
before it records the box, the session settings, the seed and the
per-phase raw timings.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
TRACE_GROUP = "perfbench"


def source_digest() -> str:
    """sha256 over the engine and benchmark sources (the checkout the
    benchmark runs in is not a git repository)."""
    h = hashlib.sha256()
    for top in ("ksj2gp_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    """HEAD when the checkout itself is a git work tree, else None."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def closed_loop(wl, seconds: float, modes: dict) -> dict:
    """Repeat the timed unit until ``seconds`` have elapsed and every mode
    has run equally often (at least once each). ``modes`` maps a phase
    name to a context-manager factory entered around that phase's
    iterations. Phases take turns in A B B A order, so a steady drift
    over the run (warm-up, host load) touches each alike. Returns
    {name: (iteration outputs, wall times, error)}."""
    out = {name: ([], [], None) for name in modes}
    names = list(modes)
    start = time.perf_counter()
    for i in itertools.count():
        cycle, pos = divmod(i, len(names))
        name = names[pos if cycle % 2 == 0 else len(names) - 1 - pos]
        its, walls, _ = out[name]
        t = time.perf_counter()
        try:
            with modes[name]():
                its.append(wl.iterate(f"{name}-{i}"))
        except Exception:
            walls.append(time.perf_counter() - t)
            out[name] = (its, walls, traceback.format_exc())
            return out
        walls.append(time.perf_counter() - t)
        if (i + 1) % len(names) == 0 and time.perf_counter() - start >= seconds:
            return out


def check_all(wl, its: list[str]) -> tuple[int, int, list[str], dict]:
    """Check, then delete, each iteration's output."""
    attempted = failed = 0
    msgs: list[str] = []
    totals: dict = {}
    for it in its:
        a, f, m, c = wl.check(it)
        attempted, failed = attempted + a, failed + f
        msgs += m
        for k, v in c.items():
            totals[k] = totals.get(k, 0) + v
        shutil.rmtree(it, ignore_errors=True)
    return attempted, failed, msgs, totals


def run(args, work: str) -> tuple[dict, dict]:
    """One run: session, set-up, timed phase, oracle. Returns the result
    line and the context record."""
    from perfbench import layers, session, tracing, workloads

    cls = workloads.WORKLOADS[args.workload]
    os.makedirs(work)
    b = session.box()
    conf = session.settings(b, work)
    worker_module = None
    trace_dir = os.path.join(work, "trace")
    if args.trace:
        os.makedirs(trace_dir)
        os.environ[tracing.TRACE_DIR_ENV] = trace_dir
        worker_module = "pyspark_perfbench_worker"
    ctx = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": b, "settings": conf,
        "commit": git_commit(), "source_sha256": source_digest(),
    }
    t0 = time.perf_counter()
    spark = session.start(conf, ROOT, work, worker_module)
    session_s = time.perf_counter() - t0
    sampler = tracing.RssSampler()
    try:
        sc = spark.sparkContext
        wl = cls(spark, work, args.seed, b["nproc"])
        setup = wl.setup()
        # set-up was written in equal parts: the median part stands for
        # each, so one slow write does not swing the figure
        setup_s = (
            session_s + setup["gen_s"] + setup["warm_s"]
            + len(setup["write_part_s"]) * median(setup["write_part_s"])
        )
        ctx["setup"] = {"session_s": session_s, **setup}
        if not args.trace:
            with sampler.measuring():
                phases = closed_loop(wl, args.seconds, {"timed": nullcontext})
        else:
            rec = tracing.Recorder()

            @contextmanager
            def traced():
                sc.setJobGroup(TRACE_GROUP, args.workload)
                sc.setLocalProperty(tracing.TRACE_PROPERTY, "1")
                try:
                    with tracing.driver_spans(rec):
                        yield
                finally:
                    sc.setLocalProperty(tracing.TRACE_PROPERTY, None)
                    sc.setJobGroup("perfbench-untraced", args.workload)

            # untraced and traced iterations alternate; the difference
            # of their medians is the tracing overhead
            with sampler.measuring():
                phases = closed_loop(
                    wl, args.seconds, {"untraced": nullcontext, "traced": traced}
                )
            stages = tracing.stage_metrics(sc, TRACE_GROUP)
            extra = layers.assign_probe(wl) if isinstance(wl, workloads.Tiles) else {}
            worker = tracing.read_worker_spans(trace_dir)
        t_check = time.perf_counter()
        attempted = failed = 0
        msgs: list[str] = []
        counts: dict = {}
        errors = []
        for name, (its, walls, err) in phases.items():
            a, f, m, c = check_all(wl, its)
            if err:
                errors.append(err)
                a, f = a + 1, f + 1
                msgs.append(f"{name} iteration {len(its)} raised")
            attempted, failed, msgs = attempted + a, failed + f, msgs + m
            for k, v in c.items():
                counts[k] = counts.get(k, 0) + v
        rss_mb = sampler.peak_kb / 1024.0
        ctx["check_s"] = time.perf_counter() - t_check
    finally:
        pids = sampler.close()
        session.stop(spark, pids)
    for e in errors:
        print(e, file=sys.stderr)
    for m in msgs[:50]:
        print(f"ORACLE FAIL {m}", file=sys.stderr)
    ctx["loadavg_end"] = list(os.getloadavg())
    ctx["worker_pids_seen"] = len(pids)
    ctx["walls"] = {k: v[1] for k, v in phases.items()}
    ctx["counts"] = counts
    if not args.trace:
        walls = phases["timed"][1]
        wall_s = median(walls)
        metrics = {
            "inputs_per_s": (wl.items / wall_s, "1/s"),
            "wall_s": (wall_s, "s"),
            "setup_s": (setup_s, "s"),
            "worker_rss_peak_mb": (rss_mb, "MB"),
        }
        ctx[f"{wl.unit}_per_s"] = wl.items / wall_s
        ctx["failed_frac"] = failed / max(attempted, 1)
    else:
        metrics = layers.per_layer(phases, rec.snapshot(), worker, stages, extra, counts)
        ctx["driver_spans"] = rec.snapshot()
        ctx["worker_spans"] = worker
    result = {
        "correct": failed == 0 and not errors,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, ctx


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    if sys.path[0] == os.path.dirname(os.path.abspath(__file__)):
        sys.path.pop(0)  # import benchmark modules as the perfbench package
    sys.path.insert(0, ROOT)
    import ksj2gp_spark  # noqa: F401 — fail before Spark starts when absent

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    try:
        result, ctx = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    print(json.dumps({"context": ctx}, ensure_ascii=False, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
