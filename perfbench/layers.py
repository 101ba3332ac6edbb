"""Per-layer metrics of a traced run.

Every figure is per traced iteration (totals divided by the number of
traced iterations) unless it is a ratio. A layer that does no work in a
workload reports 0. ``<layer>.self_s`` sums the layer's span self time
over the driver and all Python workers.
"""

from __future__ import annotations

import os
import time
from statistics import median

LAYERS = (
    "spark", "pipeline", "cells", "geom", "spatial", "iceberg",
    "formats", "ksj", "ingest", "geoparquet",
)


def assign_probe(wl) -> dict:
    """``fused_assign_or_knn`` on the cached image table with no scan or
    sink: all rows on nproc cores, and one partition's rows on one core
    (weak scaling, ideal 1.0)."""
    from pyspark.sql import functions as F

    from ksj2gp_spark.operators import spatial
    from ksj2gp_spark.sinks import iceberg

    from .workloads import HEX_RES, K_OCEAN

    files = [
        os.path.join(wl.images_path, f["path"])
        for f in iceberg._live_files(wl.images_path)
    ]
    imgs = (
        wl.spark.read.parquet(*files)
        .select("image_id", "lon", "lat")
        .repartition(wl.nproc)
        .cache()
    )
    imgs.count()

    def timed(df) -> float:
        t = time.perf_counter()
        spatial.fused_assign_or_knn(
            df, wl.polys, scheme="hex", res=HEX_RES, k=K_OCEAN
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    one = imgs.where(F.spark_partition_id() == 0).coalesce(1)
    try:
        full = timed(imgs)
        single = timed(one)
    finally:
        imgs.unpersist()
    return {"assign_s": full, "scale_eff_1to4": single / full}


def per_layer(phases, driver, worker, stages, extra, counts) -> dict:
    """Per-layer metrics {name: (value, unit)} of a traced run."""
    traced = phases["traced"][1]
    n = max(len(traced), 1)
    n_all = sum(len(p[1]) for p in phases.values())
    ds, dc = driver["self_s"], driver["counts"]
    ws, wc = worker["self_s"], worker["counts"]

    def per(x):
        return float(x) / n

    chunk = driver["durations"].get("pipeline.chunk", [])
    pip_pts = wc.get("geom.pip_pts", 0.0)
    enc_pts = wc.get("cells.encode_pts", 0.0)
    m = {
        "spark.task_s": (per(stages["task_s"]), "s"),
        "spark.jvm_cpu_s": (per(stages["jvm_cpu_s"]), "s"),
        "spark.gc_s": (per(stages["gc_s"]), "s"),
        "spark.py_arrow_s": (per(stages["task_s"] - stages["jvm_cpu_s"]), "s"),
        "spark.shuffle_write_bytes": (per(stages["shuffle_write_bytes"]), "B"),
        "spark.spill_bytes": (per(stages["spill_bytes"]), "B"),
        "spark.peak_exec_mem_bytes": (stages["peak_exec_mem_bytes"], "B"),
        "spark.scale_eff_1to4": (extra.get("scale_eff_1to4", 0.0), "ratio"),
        "pipeline.chunks": (per(dc.get("iceberg.commits", 0)), "count"),
        "pipeline.chunk_s_p50": (median(chunk) if chunk else 0.0, "s"),
        "pipeline.chunk_s_max": (max(chunk, default=0.0), "s"),
        "pipeline.scan_s": (per(ds.get("pipeline.scan", 0)), "s"),
        "cells.cover_s": (per(ds.get("cells.cover", 0)), "s"),
        "cells.cover_rows": (per(dc.get("cells.cover_rows", 0)), "count"),
        "cells.encode_s": (per(ws.get("cells.encode", 0)), "s"),
        "cells.encode_pts": (per(enc_pts), "count"),
        "cells.cand_per_image": (pip_pts / enc_pts if enc_pts else 0.0, "ratio"),
        "geom.pip_s": (per(ws.get("geom.pip", 0)), "s"),
        "geom.pip_pts": (per(pip_pts), "count"),
        "geom.pip_edge_tests": (per(wc.get("geom.pip_edge_tests", 0)), "count"),
        "geom.pip_hit_ratio": (
            wc.get("geom.pip_hits", 0) / pip_pts if pip_pts else 0.0, "ratio"
        ),
        "geom.knn_s": (per(ws.get("geom.knn", 0)), "s"),
        "geom.knn_pts": (per(wc.get("geom.knn_pts", 0)), "count"),
        "spatial.assign_s": (extra.get("assign_s", 0.0), "s"),
        "spatial.ocean_share": (
            counts["ocean"] / counts["images"] if counts.get("images") else 0.0,
            "ratio",
        ),
        "iceberg.append_s": (per(ds.get("iceberg.append", 0)), "s"),
        "iceberg.commits": (per(dc.get("iceberg.commits", 0)), "count"),
        "iceberg.files_written": (counts.get("files_written", 0) / n_all, "count"),
        "iceberg.bytes_written": (counts.get("bytes_written", 0) / n_all, "B"),
        "formats.shp_s": (per(ws.get("formats.shp", 0)), "s"),
        "formats.dbf_s": (per(ws.get("formats.dbf", 0)), "s"),
        "formats.gml_s": (per(ws.get("formats.gml", 0)), "s"),
        "formats.bytes_in": (per(wc.get("formats.bytes_in", 0)), "B"),
        "ksj.translate_s": (per(ws.get("ksj.translate", 0)), "s"),
        "ingest.features": (per(wc.get("ingest.features", 0)), "count"),
        "ingest.errors": (per(wc.get("ingest.errors", 0)), "count"),
        "geoparquet.write_s": (per(ws.get("geoparquet.write", 0)), "s"),
        "geoparquet.bytes_per_feature": (
            counts["bytes_out"] / counts["features"] if counts.get("features") else 0.0,
            "B",
        ),
    }
    for layer in LAYERS:
        tot = sum(
            v for src in (ds, ws) for k, v in src.items() if k.split(".")[0] == layer
        )
        m[f"{layer}.self_s"] = (per(tot), "s")
    untraced = median(phases["untraced"][1])
    m["trace.untraced_wall_s"] = (untraced, "s")
    m["trace.traced_wall_s"] = (median(traced), "s")
    m["trace.overhead_s"] = (median(traced) - untraced, "s")
    return m
