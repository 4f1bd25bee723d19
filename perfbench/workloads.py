"""The closed-loop workloads and their correctness gates.

Each workload drives one Spark session at ``local[nproc]`` from this one
process, one program call at a time, and returns a :class:`Result`: the
timed samples the end-to-end metrics are computed from, per-layer values for
traced runs, and the count of operations attempted and failed (a failed call
or an output that disagrees with the oracle both count as failed).

- ``wide_round``: ``init_crawl`` of a wide web with a hot host
  (``bench.py``'s crawl shape) into a fresh workdir, then one round that
  fetches every seed, run by a freshly opened engine, then the full image
  read-back; one cold cycle warms up, the warm cycles are timed.
- ``analytics``: ``bench.HEADLINE`` registry queries over seeded TPC-H-like
  tables, timed warm through the ``noop`` sink, which computes every output
  column. It runs the operator modules and no crawl code.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from tracing import Tracer, trace_engine

# -- workload shapes (sized so that one run of each workload, set-up and
#    checks included, takes about a minute at local[4])
WIDE_SEEDS = 1000
ANALYTICS_SCALE = 0.25
# one registry query of bench.HEADLINE per operator module (all 22 cost
# ~20 s warm and ~30 s cold on a 4-vCPU host, more than a run's budget);
# the module name keys the per-layer ``operators.<module>_s`` metric
ANALYTICS_QUERIES = {
    "a1_pricing_summary": "relational",
    "dedup_minhash_lsh_pairs": "textops",
    "dedup_embedding_cosine": "inventory_ext",
    "sim_ivf_topk": "similarity",
    "u3_payload_repair_chain": "records",
    "mm_decode_metadata": "multimodal",
}
# timed crawl cycles and query passes: at least this many, also when one
# takes longer than --seconds (a slow host gives fewer samples, so that the
# runs fit the benchmark's time budget)
MIN_CYCLES = 1
MIN_PASSES = 2


class Clock:
    """Wall time of the ``with`` block, in ``s``."""

    def __enter__(self):
        self._t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.s = time.monotonic() - self._t0


@dataclass
class Result:
    ingest_s: float = 0.0  # getting the workload's input into the program
    op_s: list[float] = field(default_factory=list)  # repeated unit calls
    items: int = 0  # work items in one unit call (URLs fetched, queries run)
    items_s: float = 0.0  # median wall of a unit call
    fetched: list[int] = field(default_factory=list)  # per crawl round
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    workdir: str | None = None
    engine: object = None
    init_state: dict | None = None
    tables_dir: str | None = None
    phases: dict[str, float] = field(default_factory=dict)  # wall per phase
    samples: dict[str, list[float]] = field(default_factory=dict)  # timed calls
    _t_mark: float = field(default_factory=time.monotonic)

    def mark(self, phase: str) -> None:
        now = time.monotonic()
        self.phases[phase] = round(now - self._t_mark, 2)
        self._t_mark = now

    def sample(self, key: str, clock: Clock) -> float:
        self.samples.setdefault(key, []).append(round(clock.s, 4))
        return clock.s

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def web_seed(seed: int) -> str:
    return f"perfbench-{seed}"


def wide_cfg(seed: int, n_seeds: int = WIDE_SEEDS):
    from mongodb_postproc_spark.datagen.web import CrawlConfig, WebConfig

    return CrawlConfig(
        n_seeds=n_seeds,
        max_rounds=1,
        per_host_cap=10**9,
        web=WebConfig(
            n_hosts=997,
            hot_pages=max(200_000, n_seeds // 5),
            cold_pages=max(2_000, n_seeds // 250),
            seed=web_seed(seed),
        ),
    )


# ---------------------------------------------------------------- oracle
def _oracle_key(cfg, root: str) -> str:
    """The oracle is a pure function of the config and the oracle's code,
    so both go into the cache key."""
    h = hashlib.sha256(repr(cfg).encode())
    pkg = os.path.join(root, "mongodb_postproc_spark")
    for rel in ("crawl/simulator.py", "crawl/canonicalize.py", "datagen/web.py",
                "functions/hashes.py"):
        with open(os.path.join(pkg, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]


def crawl_oracle(cfg, root: str, cache_dir: str) -> dict:
    """``simulate_crawl(cfg)`` as plain JSON-able data, cached on disk."""
    path = os.path.join(cache_dir, f"oracle-{_oracle_key(cfg, root)}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from mongodb_postproc_spark.crawl.simulator import simulate_crawl

    sim = simulate_crawl(cfg)
    data = {
        "fetch_order": [list(r) for r in sim.fetch_order],
        "seen": sorted(sim.seen),
        "blocked": sorted(sim.blocked),
        "failed": sim.failed,
        "metrics": sim.metrics,
    }
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(data, f)
    os.replace(tmp, path)
    return data


def check_round(res: Result, stats, oracle: dict) -> None:
    want = oracle["metrics"][stats.round]
    got = {k: getattr(stats, k) for k in want if k != "round"}
    res.check(
        got == {k: v for k, v in want.items() if k != "round"},
        f"round {stats.round} stats {got} != oracle {want}",
    )


def check_crawl(res: Result, eng, oracle: dict) -> None:
    """Whole-workdir gate: fetch order, seen, blocked and failed sets against
    the oracle, and lineage coverage of every fetch."""
    from pyspark.sql import functions as F

    want_log = [tuple(r) for r in oracle["fetch_order"]]
    got_log = [tuple(r) for r in eng.fetch_log().collect()]
    res.check(got_log == want_log,
              f"fetch log: {len(got_log)} rows vs oracle {len(want_log)}")
    seen = {r[0] for r in eng.seen_set().select("url_canon").collect()}
    res.check(seen == set(oracle["seen"]),
              f"seen set: {len(seen)} vs oracle {len(oracle['seen'])}")
    blocked = {r[0] for r in eng.catalog.read("blocked", eng.spark).collect()}
    res.check(blocked == set(oracle["blocked"]),
              f"blocked set: {len(blocked)} vs oracle {len(oracle['blocked'])}")
    failed = {r[0]: r[1] for r in eng.failed_set().select("url_canon", "status").collect()}
    res.check(failed == oracle["failed"],
              f"failed set: {len(failed)} vs oracle {len(oracle['failed'])}")
    lineage = eng.catalog.read("lineage", eng.spark).agg(F.sum("rows_fetched")).first()[0]
    res.check(lineage == len(want_log),
              f"lineage rows_fetched {lineage} vs {len(want_log)} fetched")


def readback(res: Result, eng, tracer: Tracer) -> tuple[int, float]:
    """``validate_images`` over the full image table; zero violating rows
    is the gate. Returns (images validated, seconds)."""
    from mongodb_postproc_spark.crawl.engine import validate_images

    images = eng.images()
    with tracer.span("images.validate_images"):
        t0 = time.monotonic()
        checked = validate_images(images).collect()
        dt = time.monotonic() - t0
    res.check(not checked, f"validate_images: {len(checked)} violating rows")
    with tracer.span("check.images"):
        return images.count(), dt


# ---------------------------------------------------------------- crawls
def _engine(spark, cfg, workdir: str, tracer: Tracer):
    from mongodb_postproc_spark.crawl.engine import CrawlEngine

    eng = CrawlEngine(spark, cfg, workdir, expected_urls=max(cfg.n_seeds * 8, 100_000))
    trace_engine(eng, tracer)
    return eng


def wide_op(spark, res: Result, tracer: Tracer, oracle: dict | None = None):
    """One round: a fresh engine reopens the workdir and runs round 0 from
    the committed init state (run_round rolls back any earlier repeat's
    snapshots first). Returns (engine, seconds, URLs fetched)."""
    eng = _engine(spark, res.engine.cfg, res.workdir, tracer)
    with Clock() as clock:
        _, stats = eng.run_round(res.init_state)
    dt = res.sample("round", clock)
    if oracle is not None:
        check_round(res, stats, oracle)
    return eng, dt, stats.fetched


def wide_cycle(spark, res: Result, cfg, workdir: str, tracer: Tracer, oracle: dict):
    """``init_crawl`` into a fresh workdir, one round and the image
    read-back, each checked; the previous cycle's workdir is deleted first.
    Returns (init seconds, round seconds, URLs fetched, the round's engine)."""
    if res.workdir and os.path.isdir(res.workdir):
        shutil.rmtree(res.workdir)
    eng = _engine(spark, cfg, workdir, tracer)
    with Clock() as clock:
        eng.init_crawl()
    init_s = res.sample("init", clock)
    res.init_state = eng.load_state()
    res.engine, res.workdir = eng, workdir
    eng, round_s, fetched = wide_op(spark, res, tracer, oracle)
    n, dt = readback(res, eng, tracer)
    res.layers["readback.images"] = res.layers.get("readback.images", 0) + n
    res.layers["readback.s"] = res.layers.get("readback.s", 0.0) + dt
    return init_s, round_s, fetched, eng


def run_wide(spark, seed: int, seconds: float, workdir: str, tracer: Tracer,
             cache_dir: str, root: str) -> Result:
    """A cold cycle (the session's first crawl calls, which pay the crawl
    code's first-use costs) as warm-up, then warm cycles for ``seconds``,
    at least ``MIN_CYCLES``. ``ingest_s`` is the median warm init, ``op_s``
    the warm rounds."""
    res = Result()
    cfg = wide_cfg(seed)
    oracle = crawl_oracle(cfg, root, cache_dir)
    res.mark("oracle")
    wide_cycle(spark, res, cfg, os.path.join(workdir, "cold"), tracer, oracle)
    res.mark("cold")
    ingest = []
    t_loop = time.monotonic()
    while len(res.op_s) < MIN_CYCLES or time.monotonic() - t_loop < seconds:
        init_s, round_s, fetched, eng = wide_cycle(
            spark, res, cfg, os.path.join(workdir, f"c{len(res.op_s)}"), tracer, oracle)
        ingest.append(init_s)
        res.op_s.append(round_s)
        res.fetched.append(fetched)
    res.mark("loop")
    with tracer.span("check.crawl"):
        check_crawl(res, eng, oracle)
    res.mark("check")
    res.ingest_s = statistics.median(ingest)
    res.items = statistics.median(res.fetched)
    res.items_s = statistics.median(res.op_s)
    res.layers["readback.images_per_s"] = (res.layers.pop("readback.images")
                                           / res.layers.pop("readback.s"))
    return res


# ---------------------------------------------------------------- analytics
def oracle_fingerprints(tables_dir: str, names: list[str]) -> dict[str, tuple]:
    """DuckDB oracle of each query over the same parquet files, reduced by
    the repository's fingerprint rule (tools/check_oracle.py)."""
    import duckdb
    from check_oracle import table_fingerprint

    import __spark_entry__ as entry
    from mongodb_postproc_spark.operators.base import TABLES

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(tables_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name in names:
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[name] = (sorted(cols), len(rows), table_fingerprint(rows, cols)[0])
        return out
    finally:
        con.close()


def query_pass(spark, res: Result, tracer: Tracer, tag: str) -> dict[str, float]:
    """One unit call per query: each runs warm through the ``noop`` sink,
    which computes every output column. Returns each query's wall."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ANALYTICS_QUERIES:
        err = None
        with tracer.span(f"query.{name}", tag=tag), Clock() as clock:
            try:
                qs[name](spark, res.tables_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted as a failed operation, run goes on
                err = e
        out[name] = res.sample(name, clock)
        res.check(err is None, f"{name}: {err!r}")
    return out


def run_analytics(spark, seed: int, seconds: float, tables_dir: str,
                  tracer: Tracer) -> Result:
    from check_oracle import table_fingerprint

    import __spark_entry__ as entry
    from mongodb_postproc_spark.operators.base import TABLES, load
    from tables_gen import write_tables

    res = Result(tables_dir=tables_dir)
    if not os.path.exists(os.path.join(tables_dir, "lineitem.parquet")):
        write_tables(web_seed(seed), ANALYTICS_SCALE, tables_dir)
    qs = entry.queries()
    oracle = oracle_fingerprints(tables_dir, list(ANALYTICS_QUERIES))
    res.mark("oracle")
    # ingest: a full scan of every input table through the operators'
    # loader, median of three (the first, cold, one falls out of the median)
    scans = []
    for _ in range(3):
        with tracer.span("operators.load_all"), Clock() as clock:
            for t in TABLES:
                load(spark, tables_dir, t).write.format("noop").mode("overwrite").save()
        scans.append(res.sample("ingest", clock))
    res.ingest_s = statistics.median(scans)
    res.mark("ingest")
    # cold pass: every query once, outputs collected and checked (this is
    # also the warm-up for the timed passes)
    for name in ANALYTICS_QUERIES:
        with tracer.span(f"query.{name}", tag="cold"):
            try:
                df = qs[name](spark, tables_dir)
                rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # counted as a failed operation, run goes on
                res.check(False, f"{name}: {e!r}")
                continue
        got = (sorted(df.columns), len(rows), table_fingerprint(rows, df.columns)[0])
        res.check(got == oracle[name], f"{name}: {got[:2]} vs oracle {oracle[name][:2]}")
    res.mark("cold")
    per_query: dict[str, list[float]] = {n: [] for n in ANALYTICS_QUERIES}
    t_loop = time.monotonic()
    n_pass = 0
    while n_pass < MIN_PASSES or time.monotonic() - t_loop < seconds:
        n_pass += 1
        for name, dt in query_pass(spark, res, tracer, f"pass{n_pass}").items():
            per_query[name].append(dt)
    res.mark("loop")
    med = {n: statistics.median(v) for n, v in per_query.items()}
    res.op_s = list(med.values())
    res.items = len(med)
    res.items_s = sum(med.values())
    for name, module in ANALYTICS_QUERIES.items():
        res.layers[f"query.{name}_s"] = med[name]
        key = f"operators.{module}_s"
        res.layers[key] = res.layers.get(key, 0.0) + med[name]
    return res


def repeat_op(spark, res: Result, tracer: Tracer) -> float:
    """One more unit call on the workload's committed state (a round, or a
    pass over the queries); returns its wall."""
    if res.engine is not None:
        return wide_op(spark, res, tracer)[1]
    return sum(query_pass(spark, res, tracer, "repeat").values())
