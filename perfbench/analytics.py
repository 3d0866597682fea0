"""`analytics_queries` workload: warm passes over a frozen list of tabular
queries on seeded relational tables.

No query here reads the clip or image caches, so pipeline kernels and table
writes do none of the work: Catalyst, shuffles and the dedup, similarity,
components, sketches, clustering and text-analysis operators do. Each
query's result is compared with its DuckDB `ORACLE_SQL` twin, normalized as
scripts/check_queries.py does, outside the timed region.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time
import traceback
from types import ModuleType
from typing import NamedTuple

import duckdb
import tabgen

# one query per operator family named in the workload's purpose; a pass takes
# ~10 s on 4 cores and every DuckDB oracle runs in seconds
QUERY_NAMES = (
    "q21_minhash_lsh",             # operators.dedup
    "q30_lsh_ann_search",          # operators.similarity
    "q53_leakage_safe_split",      # operators.components
    "q73_kmeans_clusters",         # operators.clustering
    "q88_cms_heavy_hitters",       # operators.sketches
    "q99_tfidf_top_terms",         # operators.text_analysis
)
SCALE = 0.01  # the sf0.01 testdata: 60k lineitem, 500 documents, 500 embeddings
SMOKE_SCALE = 0.002
# timed passes per run at least: a fixed count keeps every run at the same
# point of the warm-up curve (see curate.MIN_UNITS)
MIN_PASSES = 1


def check_queries(root: str) -> ModuleType:
    spec = importlib.util.spec_from_file_location(
        "check_queries", os.path.join(root, "scripts", "check_queries.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def normalized(cq, pdf) -> tuple:
    cols = sorted(pdf.columns)
    return cols, cq.normalize(pdf.to_dict("records"), cols)


class Prepared(NamedTuple):
    calls: dict  # query name -> fn(spark) returning its DataFrame
    expected: dict  # query name -> normalized oracle result
    cq: ModuleType  # scripts/check_queries.py, for its normalize()


def prepare(ctx) -> Prepared:
    """Seeded tables plus each query's DuckDB-oracle result, normalized."""
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    names = QUERY_NAMES[:1] if ctx.smoke else QUERY_NAMES
    sf_dir = ctx.out_dir("tables")
    tabgen.write_tables(sf_dir, ctx.seed, SMOKE_SCALE if ctx.smoke else SCALE)
    cq = check_queries(ctx.root)
    con = duckdb.connect()
    try:
        for t in tabgen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        expected = {q: normalized(cq, con.sql(ORACLE_SQL[q]).df()) for q in names}
    finally:
        con.close()
    calls = {q: (lambda spark, fn=QUERIES[q]: fn(spark, sf_dir)) for q in names}
    return Prepared(calls, expected, cq)


def run(ctx, prep: Prepared) -> dict:
    """An untimed warm pass, then timed passes over every query (closed loop,
    one query at a time) until --seconds and MIN_PASSES are both reached.
    Each result is checked outside its timed region; a query that raises or
    mismatches counts as failed, and its pass is left out of the medians
    (unless no pass is whole, so that a result is still printed)."""
    calls, expected, cq = prep
    names = list(calls)
    sc = ctx.spark.sparkContext
    tracker = sc.statusTracker()

    def one_pass(tag: str) -> tuple[dict[str, float], bool]:
        """Run every query once: per-query seconds and whether all matched."""
        times: dict[str, float] = {}
        whole = True
        ctx.tracer.new_trace()
        for q in names:
            sc.setJobGroup(f"{tag}:{q}", q)
            with ctx.tracer.span(f"queries.{q}", group=f"{tag}:{q}"):
                t0 = time.perf_counter()
                try:
                    pdf = calls[q](ctx.spark).toPandas()
                except Exception:  # noqa: BLE001 -- counted as failed
                    traceback.print_exc()
                    pdf = None
                times[q] = time.perf_counter() - t0
            ok = pdf is not None and normalized(cq, pdf) == expected[q]
            ctx.record(ok)
            whole &= ok
        return times, whole

    one_pass("warm")  # untimed: codegen, JIT, worker daemons
    ctx.setup_done()

    passes: list[tuple[dict[str, float], bool]] = []
    deadline = time.perf_counter() + ctx.seconds
    with ctx.rss():
        while time.perf_counter() < deadline or len(passes) < MIN_PASSES:
            passes.append(one_pass(f"p{len(passes)}"))
            ctx.sampler.cut()
    good = [t for t, whole in passes if whole] or [t for t, _ in passes]

    if not ctx.trace:
        walls = [sum(p.values()) for p in good]
        wall = statistics.median(walls)
        return {
            "wall_s": wall,
            "items_per_s": len(names) / wall,
            "call_p50_s": statistics.median(statistics.median(p.values()) for p in good),
            "samples": len(good),
            "unit_walls_s": walls,
        }

    m = {
        f"queries.{q}_s": statistics.median(p[q] for p in good) for q in names
    }
    counts = {"jobs": [], "stages": [], "tasks": []}
    for k in range(len(passes)):
        jobs = [tracker.getJobInfo(j) for q in names for j in tracker.getJobIdsForGroup(f"p{k}:{q}")]
        stages = [tracker.getStageInfo(s) for job in jobs if job is not None for s in job.stageIds]
        counts["jobs"].append(len(jobs))
        counts["stages"].append(len(stages))
        counts["tasks"].append(sum(st.numTasks for st in stages if st is not None))
    for k, v in counts.items():
        m[f"queries.spark_{k}"] = statistics.median(v)
    return m
