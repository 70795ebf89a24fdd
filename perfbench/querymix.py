"""The ``query_mix`` workload: registered queries over the test tables.

``tables/sf0.01`` and ``tables/sf0.001`` are copies of the repository's
sf0.01 and sf0.001 test tables (FIXTURES.md section A), the tables the
registered queries and their DuckDB oracles are written for. They live in
the benchmark's directory so that a run reads nothing outside its
checkout. The inputs do not depend on the benchmark seed. One op builds
every query of the mix through the registry and runs it to a pandas
frame, the driver's collection path.
"""

from __future__ import annotations

import hashlib
import os

#: The registered queries one op runs, in order. See README.md for why
#: these and not the full sixteen of the original design.
QUERIES = (
    "q01_pricing_summary",
    "q05_revenue_by_nation",
    "q_join_asof",
    "q_stream_tumbling_hourly",
    "q_recsys_als_rank1",
)

_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")


def tables_dir(size: str) -> str:
    """The benchmark's tables (sf0.01), or the self-test's (sf0.001)."""
    return os.path.join(_TABLES, "sf0.001" if size == "tiny" else "sf0.01")


def frame_digest(pdf) -> str:
    """sha256 over row count, sorted column names and the rows as the
    repository's oracle comparator normalizes them."""
    from tests._compare import _normalize

    rows = _normalize(pdf.to_dict("records"))
    return hashlib.sha256(repr((len(rows), sorted(pdf.columns), rows)).encode()).hexdigest()


def oracle_digests(sf_dir: str, names=QUERIES) -> dict[str, str]:
    """Digest of each query's DuckDB oracle over the tables in ``sf_dir``."""
    from tests._compare import duckdb_connection

    from parallel_monte_carlo_simulations_spark.registry import load_all_queries

    specs = load_all_queries()
    con = duckdb_connection(sf_dir)
    try:
        return {q: frame_digest(con.execute(specs[q].oracle).fetchdf()) for q in names}
    finally:
        con.close()
