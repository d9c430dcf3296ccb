"""Query registry — one entry per implemented operator family from
SURVEY.md §2, expressed over the driver-provided synthetic tables.

Each entry pairs a Spark DataFrame implementation (built from this
package's operators) with an equivalent ANSI-SQL oracle that DuckDB can
run on the same parquet. Column names are aliased identically on both
sides; float aggregates are rounded (2 dp for money sums, 6 dp for
ratios) so double summation order across engines cannot flip the hash.

Determinism rules used throughout:
- no unseeded randomness; sampling orders by a key column,
- LIMIT always paired with a total deterministic ORDER BY,
- hashes via md5 (identical hex in Spark and DuckDB).

Layout — one module per domain, each ending in one ``register({...})``
call (``base.register`` raises on a name registered twice):
  base       — shared helpers: ``_t``, ``_staging``, ``register_views``,
               ``QUERIES`` and ``register``; imports no domain module
  tpch       — the TPC-H suite and the reference's relational operators
               over the TPC-H tables
  analytics  — windows, quantile buckets, time series, statistics and
               evaluation metrics
  sketches   — sampling and approximate sketches (HLL, CMS, KMV,
               quantiles)
  graph      — iterative and recursive graph algorithms
  ann        — vector search, clustering and retrieval
  dedup      — exact / near-duplicate detection and decontamination
  text       — tokenization, quality, mixing and packing of LLM text
  snapshot   — the versioned table format and incremental views
  pipelines  — the lcmap, multimodal and curation compositions
  sql        — the SQL surface: plain-SQL queries, grouping, set ops and
               scalar function families
"""

from __future__ import annotations

from collections.abc import Callable

from . import (analytics, ann, dedup, graph, pipelines,  # noqa: F401
               sketches, snapshot, sql, text, tpch)
from .base import QUERIES, _staging, _t  # noqa: F401
from .tpch import q_revenue_by_nation  # noqa: F401


def queries() -> dict[str, Callable]:
    return {name: spec["fn"] for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec["sql"].strip() for name, spec in QUERIES.items()
            if spec.get("sql")}
