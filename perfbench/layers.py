"""Per-layer numbers for traced runs.

Two sources: the span log (catalog, engine, read-back and query spans) and
direct calls into single layers' public functions on inputs derived from the
run's seed (canonicalization, link synthesis, image synthesis and decode,
the seen-set probe and exact confirm, global ordering).
"""

from __future__ import annotations

import os
import time

from tracing import self_times
from workloads import ANALYTICS_QUERIES

CATALOG_TABLES = ("pages", "seen", "frontier", "blocked", "seen_state", "failed")
CATALOG_OPS = ("create_or_replace", "append", "append_deletes", "compact", "write_rows")
SELF_LAYERS = ("engine", "tables", "images", "query")

# every per-layer metric a traced run prints, with its unit; a layer the
# workload does not run reads 0
PER_LAYER: dict[str, str] = {
    "ingest_s": "s",
    **{f"tables.write_s.{t}": "s" for t in CATALOG_TABLES},
    "tables.append_deletes_s.frontier": "s",
    **{f"tables.{op}_s": "s" for op in CATALOG_OPS},
    **{f"tables.calls.{op}": "count" for op in CATALOG_OPS},
    "tables.bytes_per_url": "B",
    "tables.files": "count",
    "engine.self_s": "s",
    **{f"self_s.{layer}": "s" for layer in SELF_LAYERS},
    "readback.images_per_s": "1/s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.idle_frac": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.output_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "seen.bloom_fpp": "ratio",
    "seen.probe_ns_per_url": "ns",
    "seen.confirm_ns_per_url": "ns",
    "seen.state_bytes_per_url": "B",
    "canonicalize.urls_per_s": "1/s",
    "ordering.assign_global_seq_s": "s",
    "web.links_for_us_per_url": "us",
    "images.make_images_us_per_url": "us",
    "images.decode_us_per_image": "us",
    **{f"operators.{m}_s": "s" for m in dict.fromkeys(ANALYTICS_QUERIES.values())},
    **{f"query.{q}_s": "s" for q in ANALYTICS_QUERIES},
    "scaling.eff_1_to_N": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_jobs": "count",
}


def is_op(span: dict) -> bool:
    """The repeated unit calls: crawl rounds and warm query passes."""
    return span["name"] == "engine.run_round" or (
        span["name"].startswith("query.") and str(span["tag"]).startswith("pass")
    )


def span_metrics(spans: list[dict]) -> dict[str, float]:
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if is_op(s)]
    op_ids = {s["id"] for s in ops}
    n_ops = max(1, len(ops))
    n_inits = max(1, sum(s["name"] == "engine.init_crawl" for s in spans))

    def in_op(s) -> bool:
        p = s["parent"]
        while p is not None:
            if p in op_ids:
                return True
            p = by_id[p]["parent"]
        return False

    selfs = self_times(spans)
    out: dict[str, float] = {}
    for t in CATALOG_TABLES:
        out[f"tables.write_s.{t}"] = 0.0
    for op in CATALOG_OPS:
        out[f"tables.{op}_s"] = 0.0
        out[f"tables.calls.{op}"] = 0.0
    out["tables.append_deletes_s.frontier"] = 0.0
    for layer in SELF_LAYERS:
        out[f"self_s.{layer}"] = 0.0
    for s in spans:
        dur = s["end"] - s["start"]
        layer, _, op = s["name"].partition(".")
        inside = s["id"] in op_ids or in_op(s)
        # the image read-back follows each round, outside the round span
        if layer == "images" or (inside and layer in SELF_LAYERS):
            out[f"self_s.{layer}"] += selfs[s["id"]] / n_ops
        if layer != "tables" or op not in CATALOG_OPS:
            continue
        if not inside:
            if op == "create_or_replace":  # init_crawl's tables, per init
                out["tables.create_or_replace_s"] += dur / n_inits
            continue
        out[f"tables.calls.{op}"] += 1.0 / n_ops
        if op != "create_or_replace":
            out[f"tables.{op}_s"] += dur / n_ops
        if op in ("append", "create_or_replace") and s["tag"] in CATALOG_TABLES:
            # a table's first round creates it, later rounds append
            out[f"tables.write_s.{s['tag']}"] += dur / n_ops
        if op == "append_deletes" and s["tag"] == "frontier":
            out["tables.append_deletes_s.frontier"] += dur / n_ops
    out["engine.self_s"] = out["self_s.engine"]
    return out


def workdir_metrics(workdir: str | None, n_fetched: int) -> dict[str, float]:
    n_bytes = n_files = 0
    if workdir and os.path.isdir(workdir):
        for d, _, files in os.walk(workdir):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(d, f))
    per = max(1, n_fetched)
    return {"tables.bytes_per_url": n_bytes / per, "tables.files": float(n_files)}


def _best_of(fn, reps: int = 3) -> float:
    """Fastest of a few repeats: single-layer timings on a shared host."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def micro_metrics(spark, cfg, eng=None) -> dict[str, float]:
    """Single-layer timings on URLs of the run's synthetic web. With a crawl
    engine, the seen-set numbers probe its committed per-bucket state."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mongodb_postproc_spark.crawl.canonicalize import canonical_url_col, canonicalize_py
    from mongodb_postproc_spark.crawl.ordering import assign_global_seq
    from mongodb_postproc_spark.crawl.seen import (
        Bloom,
        contains_any,
        load_bucket_blooms,
        load_bucket_seen_hashes,
        seenhash_contains,
        url_hash128,
    )
    from mongodb_postproc_spark.datagen.images import decode_image, make_images
    from mongodb_postproc_spark.datagen.web import SyntheticWeb

    out: dict[str, float] = {}
    web = SyntheticWeb(cfg.web)
    raw = [web.seed_url_at(i) for i in range(2000)]
    canon = [c for c in (canonicalize_py(u) for u in raw) if c is not None]
    for u in canon[:1000]:
        raw.extend(web.links_for(u))

    n = 400
    out["web.links_for_us_per_url"] = _best_of(
        lambda: [web.links_for(u) for u in canon[:n]]) / n * 1e6
    n_img = 128
    out["images.make_images_us_per_url"] = _best_of(
        lambda: make_images(canon[:n_img])) / n_img * 1e6
    imgs = make_images(canon[:n_img])
    out["images.decode_us_per_image"] = _best_of(
        lambda: [decode_image(im["bytes"], im["fmt"]) for im in imgs]) / n_img * 1e6

    # canonical_url_col over the raw spellings, replicated to make the
    # per-row work outweigh the job's fixed cost; timed warm
    reps = 20
    raw_df = (
        spark.createDataFrame(pd.DataFrame({"raw_url": raw}))
        .crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
        .localCheckpoint(eager=True)
    )
    canon_job = raw_df.select(canonical_url_col(F.col("raw_url")).alias("c"))
    dt = _best_of(lambda: canon_job.write.format("noop").mode("overwrite").save(), reps=2)
    out["canonicalize.urls_per_s"] = len(raw) * reps / dt

    sched = (
        spark.createDataFrame(pd.DataFrame({"url_canon": canon}))
        .crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
        .select(
            (F.col("rep") * 100).alias("offset_ms"),
            F.regexp_extract("url_canon", "//([^/]+)", 1).alias("host"),
            F.concat("url_canon", F.lit("?r="), F.col("rep").cast("string")).alias("url_canon"),
        )
        .localCheckpoint(eager=True)
    )
    out["ordering.assign_global_seq_s"] = _best_of(
        lambda: assign_global_seq(sched, ["offset_ms", "host", "url_canon"])
        .write.format("noop").mode("overwrite").save(),
        reps=2,
    )

    # seen set: never-discovered URLs (a path no synthetic page has)
    never = [f"http://{u.split('/')[2]}/never/{i}" for i, u in enumerate(canon)]
    if eng is not None and eng.catalog.exists("seen_state"):
        n_buckets = eng.n_buckets
        bdf = spark.createDataFrame(pd.DataFrame({"url_canon": never})).select(
            "url_canon",
            F.pmod(F.hash("url_canon"), F.lit(n_buckets)).cast("int").alias("b"),
        ).toPandas()
        state_dirs = eng.catalog.member_dirs("seen_state")
        seen_dirs = eng.catalog.member_dirs("seen")
        groups = [(b, g["url_canon"].reset_index(drop=True)) for b, g in bdf.groupby("b")]
        blooms = {b: load_bucket_blooms(state_dirs, b) for b, _ in groups}
        slices = {b: load_bucket_seen_hashes(seen_dirs, b) for b, _ in groups}
        hits = sum(int(contains_any(blooms[b], urls).sum()) for b, urls in groups)
        probe = _best_of(lambda: [contains_any(blooms[b], urls) for b, urls in groups])
        confirm = _best_of(lambda: [seenhash_contains(slices[b], urls) for b, urls in groups])
        n_seen = eng.load_state()["seen_count"]
        state_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for root in state_dirs for d, _, fs in os.walk(root) for f in fs
        )
    else:
        # no crawl state in this workload: a bloom and a hash slice built
        # with the same public structures over the seen spellings
        seen = pd.Series(canon)
        bloom = Bloom.sized_for(len(seen), 0.01)
        bloom.add(seen)
        a, b = url_hash128(seen)
        order = np.lexsort((b, a))
        slice_ab = (a[order], b[order])
        urls = pd.Series(never)
        hits = int(contains_any([bloom], urls).sum())
        probe = _best_of(lambda: contains_any([bloom], urls))
        confirm = _best_of(lambda: seenhash_contains(slice_ab, urls))
        n_seen = len(seen)
        state_bytes = len(bloom.to_bytes())
    out["seen.bloom_fpp"] = hits / len(never)
    out["seen.probe_ns_per_url"] = probe / len(never) * 1e9
    out["seen.confirm_ns_per_url"] = confirm / len(never) * 1e9
    out["seen.state_bytes_per_url"] = state_bytes / max(1, n_seen)
    return out
