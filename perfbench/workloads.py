"""The benchmark's workloads: which registry entries run, in which order,
on which corpus, and the latency limit a failed call is charged.

Two workloads, chosen so that each engine layer is exercised by one and
bypassed by the other (see README.md for the layer table):

- ``olap_llm`` is action-bound: the entry call returns a lazy plan and the
  noop write runs it, so scan, Exchange, codegen and the Python-worker
  stages do the work.
- ``iter_lakehouse`` is build-bound: the entry call itself runs the Spark
  jobs (one per fixpoint iteration, eager checkpoints, layer writes, table
  log commits, streaming epochs) and the noop write has little left to do.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: ``tools/gen_fixtures.py --scale``: multiplier on the sf0.001 row counts.
    scale: int
    #: Seconds charged for a failed call: it counts as missing the limit.
    limit_s: float
    #: Measured passes per run. Where a call fails, at least two passes of
    #: ten or more queries are needed so that the tail ranks below every
    #: charged failure; an iter_lakehouse pass costs about one and a half
    #: olap_llm passes, so it gets one.
    passes: int
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="olap_llm",
            scale=5,
            limit_s=5.0,
            passes=3,
            queries=(
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q9_product_profit",
                "join_bloom_prune",
                "dedup_exact",
                # LLM-corpus entries in a fixed order. Nothing before
                # emb_pca_top_component ships the package to the Python
                # workers, so its failure from a foreign working
                # directory stays visible.
                "text_rolling_hash",
                "emb_pca_top_component",
                "udf_pandas_vec",
                "udf_scalar",
                "udaf_grouped",
            ),
        ),
        Workload(
            name="iter_lakehouse",
            scale=1,
            limit_s=10.0,
            passes=1,
            queries=(
                "graph_pagerank",
                "medallion_gold_profit_mart",
                "stream_upsert_tablelog",
            ),
        ),
    )
}
