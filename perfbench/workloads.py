"""The benchmark's workloads: what one operation is, and how a run's
answers are checked.

Every workload is a closed loop with one client: the next operation
starts when the previous one has returned its materialized result. A
pass runs every query of the workload once; the seed picks the order of
the queries in each pass, never the mix itself.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from exceldatatransform_py_spark.plans.registry import ORACLE, QUERIES
from tests.oracle_utils import compare_with_oracle

OLAP_QUERIES = (
    "q1_pricing_summary",
    "q3_top_open_orders",
    "q5_regional_revenue",
    "q9_product_profit",
    "q18_large_volume_orders",
    "flagship_daily_segment_ledger",
    "window_running_qty",
    "events_session",
)

#: two of the queries whose serial medians the engine's plan-construction
#: work is judged by, chosen so that one run of two workloads fits the
#: benchmark's time budget
LLM_QUERIES = (
    "ann_ivf_pq_refine_topk",     # operators.similarity: IVF-PQ build and serve
    "snapshot_replicate_orders",  # sources.snapshots: commits and a CDC drain
)


@dataclass
class Op:
    """One timed operation: ``run`` returns after the result is materialized."""

    name: str
    run: Callable[[], None]


@dataclass
class Context:
    spark: SparkSession
    data_dir: str
    #: ``tracing.Tracer``; its spans are no-ops while tracing is off
    tracer: object
    seed: int


@dataclass
class QueryWorkload:
    """Each operation builds one registered query (``QUERIES[name](spark,
    sf_dir)``, the plan-construction layer) and executes it into the
    ``noop`` sink (the execution layer). A pass runs every query once,
    in an order drawn from the seed."""

    name: str
    queries: tuple[str, ...]
    rng: random.Random = field(init=False)
    #: the plan each query built in its latest operation
    built: dict[str, DataFrame] = field(default_factory=dict)

    def prepare(self, ctx: Context) -> None:
        self.rng = random.Random(ctx.seed)

    def pass_ops(self, ctx: Context) -> list[Op]:
        return [self._op(ctx, q) for q in self.rng.sample(self.queries, len(self.queries))]

    def _op(self, ctx: Context, name: str) -> Op:
        def run() -> None:
            with ctx.tracer.span(name, "plans"):
                df = self.built[name] = QUERIES[name](ctx.spark, ctx.data_dir)
            with ctx.tracer.span("noop_write", "exec"):
                df.write.format("noop").mode("overwrite").save()

        return Op(name, run)

    def check(self, ctx: Context) -> dict[str, str]:
        """Query name → error, for every query whose answer (from the plan
        its last timed operation built) differs from its DuckDB oracle twin."""
        errors = {}
        for q in self.queries:
            df = self.built.get(q)
            err = "no plan was built" if df is None else check_query(ctx, q, df)
            if err:
                errors[q] = err
        return errors


def check_query(ctx: Context, name: str, df: DataFrame) -> str | None:
    """None if ``df`` equals the query's DuckDB oracle, else the reason."""
    try:
        compare_with_oracle(df, ORACLE[name], ctx.data_dir)
    except Exception as e:  # noqa: BLE001 - a query that fails to run is a wrong answer too
        return f"{type(e).__name__}: {str(e)[:300]}"
    return None


WORKLOADS = {
    "olap_mix": lambda: QueryWorkload("olap_mix", OLAP_QUERIES),
    "llm_pipelines": lambda: QueryWorkload("llm_pipelines", LLM_QUERIES),
}
