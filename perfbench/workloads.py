"""The workloads: their ops, their set-up and the op runners.

An op is one user-visible request: a registry query collected to pandas
(as the oracle comparison collects it), an ORC write through
``sources.write_orc``, or a direct footer read through
``sources.read_orc_statistics``. Every op is checked against the
order-insensitive value hash recorded in ``hashes.json``.

- ``orc_connector`` exercises the ``sources`` layer and result transfer:
  ORC writes beside the pushdown scans and the footer/statistics readers.
- ``llm_curation`` exercises the build layer (eager Spark jobs issued while
  the DataFrame is built), Python workers and shuffles.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from datafusion_datasource_orc_spark.operators import QUERIES
from datafusion_datasource_orc_spark.sources import (
    load_table,
    orc_dir_for,
    read_orc_statistics,
    write_orc,
)
from datafusion_datasource_orc_spark.sources.metadata import _orc_files


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work_dir: str


@dataclass
class Result:
    """What an op produced: ``df`` is the DataFrame the op collected (for
    its Catalyst phases), ``frame`` the pandas result checked against the
    hash table, ``write_dir`` the ORC output of a write op."""

    build_end: float
    frame: object = None
    df: object = None
    write_dir: str | None = None


@dataclass(frozen=True)
class Op:
    name: str
    run: Callable[[Ctx], Result]
    footer: bool = False  # the op reads ORC footers, not row data


def query_op(name: str, footer: bool = False) -> Op:
    fn = QUERIES[name]

    def run(ctx: Ctx) -> Result:
        df = fn(ctx.spark, ctx.sf_dir)
        build_end = time.time()
        return Result(build_end, frame=df.toPandas(), df=df)

    return Op(name, run, footer)


def write_op(name: str, source: Callable[[Ctx], object]) -> Op:
    """Write ``source``'s rows as ORC; the check reads them back."""

    def run(ctx: Ctx) -> Result:
        df = source(ctx)
        build_end = time.time()
        path = os.path.join(ctx.work_dir, name)
        write_orc(df, path)
        return Result(build_end, write_dir=path)

    return Op(name, run)


def _table(name: str) -> Callable[[Ctx], object]:
    return lambda ctx: load_table(ctx.spark, ctx.sf_dir, name)


def _footer_stats(ctx: Ctx) -> Result:
    import pandas as pd

    files = _orc_files(orc_dir_for(ctx.spark, ctx.sf_dir, "lineitem"))
    build_end = time.time()
    rows = sum(read_orc_statistics(f).num_rows for f in files)
    return Result(build_end, frame=pd.DataFrame({"num_rows": [rows]}))


READ_ORC_STATISTICS = Op("read_orc_statistics", _footer_stats, footer=True)


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    orc_tables: tuple[str, ...] = ()  # parquet -> ORC materialized in set-up
    parquet_tables: tuple[str, ...] = ()



ORC_CONNECTOR = Workload(
    "orc_connector",
    (
        write_op("write_lineitem", _table("lineitem")),
        write_op("write_documents", _table("documents")),
        *(
            query_op(n)
            for n in (
                "orc_scan_full",
                "orc_projection",
                "orc_filter_eq",
                "orc_filter_range",
                "orc_filter_compound",
                "orc_filter_isnull",
                "orc_sort_limit",
                "orc_count_star",
                "orc_minmax",
                "orc_groupby_count",
                "sql_string_entry",
            )
        ),
        query_op("orc_column_stats", footer=True),
        READ_ORC_STATISTICS,
    ),
    orc_tables=("lineitem", "documents", "part", "region"),
)

LLM_CURATION = Workload(
    "llm_curation",
    (
        # the deduplicated corpus is stored: build it, write it as ORC
        write_op(
            "dedup_exact_norm",
            lambda ctx: QUERIES["dedup_exact_norm"](ctx.spark, ctx.sf_dir),
        ),
        *(
            query_op(n)
            for n in (
                "dedup_connected_components_lsh",
                "embedding_kmeans",
                "multimodal_decode",
            )
        ),
    ),
    parquet_tables=("documents", "embeddings"),
)

WORKLOADS = {w.name: w for w in (ORC_CONNECTOR, LLM_CURATION)}


def setup(wl: Workload, spark, sf_dir: str) -> dict[str, float]:
    """Make ``sf_dir``'s tables ready for the ops: parquet plans and ORC
    materializations. Returns the seconds spent."""
    t0 = time.perf_counter()
    for t in wl.parquet_tables:
        load_table(spark, sf_dir, t)
    for t in wl.orc_tables:
        orc_dir_for(spark, sf_dir, t)
    return {"sources.materialize_s": time.perf_counter() - t0}
