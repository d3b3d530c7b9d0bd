"""The benchmark's workloads. A workload owns its input directory (made by
``gen`` from the seed) and lists the calls of one pass, which a single
closed-loop client makes into the engine's public entry points. A call is a
list of phases; each phase gets the previous phase's result and is timed on
its own.

The seed derives every input; the call order is fixed. A run measures one
cold pass, where the first call to use a code path pays its JIT and codegen
cost, so a seed-shuffled order would move seconds between calls and swing
the per-call percentiles between seeds."""

from __future__ import annotations

import importlib
import os
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import gen

PACKAGE = "adventureworkslakehousepoc_spark"

# the 26-query headline set of the engine's original bench harness, less
# dedup_simhash_pairs and dedup_clusters: with their DuckDB checks they cost
# 10 s of a 60 s run, more than the benchmark's time budget allows, and
# refresh measures the set-similarity layer
HEADLINE_QUERIES = (
    "flagship_revenue_by_month_segment",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume_by_nation",
    "dim_customer",
    "fact_sales",
    "fact_weather",
    "a2_pivot_explicit_values",
    "j3_interval_join_symmetric",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_pandas_udf_scores",
    "text_quality_scores",
    "text_fingerprints",
    "asof_join_latest_click",
    "sessionization_batch",
    "time_bucket_rollup",
    "q7_volume_between_nations",
    "st_windowed_agg",
    "q8_market_share",
    "q13_customer_distribution",
    "q21_sole_late_supplier",
    "training_corpus_pipeline",
)

# one row per set-similarity or text operator family: containment join,
# prefix-filtered Jaccard, MinHash, perplexity bucketing
CORPUS_QUERIES = (
    "dedup_containment_exact",
    "dedup_prefix_filter_jaccard",
    "minhash_estimate_error",
    "ccnet_perplexity_buckets",
)

# the refresh of the engine's pipeline script (scripts/run_pipeline.py)
BATCH_DATASETS = (
    "dim_geo",
    "dim_product",
    "dim_customer",
    "dim_store",
    "raw_metrics_timeseries",
    "us_stations",
    "fact_sales",
    "fact_weather",
)
STREAM_DATASETS = ("dim_geo", "dim_product")
PARTITION_BY = {"fact_sales": ["order_date"], "fact_weather": ["date"]}
MEDALLION_SOURCES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
)


@dataclass
class Phase:
    kind: str  # build | execute | write | stream
    api: str  # engine entry point the phase calls, recorded on its span
    fn: Callable


@dataclass
class CallSpec:
    name: str
    oracle: str  # key into the engine's oracle_sql(); output checked against it
    phases: list[Phase]


class Workload:
    name = ""
    inputs: tuple[str, ...] = gen.TABLES  # tables the pass reads (input bytes)
    warehouse: str | None = None  # directory the pass writes its tables to

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.data_dir = os.path.join(work, "in")
        self.gen_s = 0.0

    def generate(self) -> None:
        """Write the seed's input directory, every table the oracle may
        read; its time is ``gen_s``."""
        t = time.perf_counter()
        gen.write_inputs(self.data_dir, self.seed, gen.TABLES)
        self.gen_s = time.perf_counter() - t

    def calls(self, spark, queries: dict) -> Iterator[CallSpec]:
        raise NotImplementedError


def _query_calls(spark, queries: dict, data_dir: str, names: tuple[str, ...]) -> Iterator[CallSpec]:
    for name in names:
        q = queries[name]
        yield CallSpec(
            name,
            name,
            [
                Phase("build", "queries", lambda _, q=q: q(spark, data_dir)),
                Phase("execute", "DataFrame.toPandas", lambda df: df.toPandas()),
            ],
        )


class Headline(Workload):
    """An analyst's dashboard refresh: the headline queries over the seed's
    copy of the test data."""

    name = "headline"

    def calls(self, spark, queries):
        return _query_calls(spark, queries, self.data_dir, HEADLINE_QUERIES)


class Refresh(Workload):
    """One nightly refresh over a fresh arrival of the sources: the 8 silver
    datasets written by ``PipelineContext.run`` into a fresh warehouse, the
    stream-static dims run with AvailableNow (as the engine's pipeline
    script does), then the arrival's new document batch deduplicated by the
    set-similarity and text rows, which no operator cache has seen."""

    name = "refresh"
    inputs = MEDALLION_SOURCES + ("documents",)

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.warehouse = os.path.join(work, "wh")

    def calls(self, spark, queries):
        medallion = importlib.import_module(f"{PACKAGE}.pipelines.medallion")
        runner = importlib.import_module(f"{PACKAGE}.streaming.runner")
        data_dir, wh = self.data_dir, self.warehouse
        ctx = medallion.medallion_context(spark, data_dir)
        for name in BATCH_DATASETS:
            yield CallSpec(
                name,
                name,
                [
                    Phase("build", "plans.registry.dataframe", lambda _, n=name: ctx.dataframe(n)),
                    Phase(
                        "write",
                        "plans.registry.run",
                        lambda _, n=name: ctx.run(wh, names=[n], partition_by=PARTITION_BY)[n],
                    ),
                ],
            )
        sctx = medallion.medallion_streaming_context(spark, data_dir)
        for name in STREAM_DATASETS:
            path = os.path.join(wh, f"{name}_streaming")
            yield CallSpec(
                f"{name}_streaming",
                name,
                [
                    Phase("build", "plans.registry.dataframe", lambda _, n=name: sctx.dataframe(n)),
                    Phase(
                        "stream",
                        "streaming.runner.run_available_now",
                        lambda df, n=name: runner.run_available_now(df, f"refresh-{n}"),
                    ),
                    Phase(
                        "write",
                        "DataFrameWriter.parquet",
                        lambda res, p=path: res.write.mode("overwrite").parquet(p) or p,
                    ),
                ],
            )
        yield from _query_calls(spark, queries, data_dir, CORPUS_QUERIES)


WORKLOADS = {w.name: w for w in (Headline, Refresh)}
