"""The `query_mix` workload: registry queries as SQL/registry users run them.

A warm query is timed the way `bench.py` times it: construction (`fn()`)
plus a `noop` write, in the production hash mode (`fast`). The cold pass
collects each result into Python instead, as a one-shot user would, and
those results are compared, outside the timed region, with the query's
DuckDB oracle using the comparison of `tools/check_correctness.py`.
Hash-defined queries are re-run for the check in the md5 `oracle` mode, the
only one their oracle can replay; the two modes share operator semantics
and are pinned against each other by the repo's own tests.
"""

from __future__ import annotations

import importlib.util
import os
import random
from pathlib import Path

HASH_ENV = "SPARK_GRAFT_HASH_MODE"

#: One entry per query, grouped by module family. Every name is in
#: `bench.HEADLINE` and has a DuckDB oracle.
MIX = {
    "tpch": ["q1_pricing_summary"],
    "window": ["lag_lead"],
    "stats_rank": ["spearman_qty_price"],
    "sketch": ["hll_distinct_orders"],
    "graph": ["pagerank_parts"],
    "dedup_text": ["minhash_lsh_pairs"],
}
NAMES = [n for family in MIX.values() for n in family]
#: Mix queries whose operators resolve the hash mode (`functions.hashing`:
#: sketch/hll, dataset/split, operators/shard). Their DuckDB oracles replay
#: md5 hashes, so they are checked in `oracle` mode; every other query gives
#: the same result in both modes.
HASH_DEFINED = {"hll_distinct_orders"}


def pass_order(seed: int, n_pass: int) -> list[str]:
    """The seeded query order of one pass."""
    names = list(NAMES)
    random.Random(seed * 1000 + n_pass).shuffle(names)
    return names


def _checker(root: Path):
    """`tools/check_correctness.py`, loaded by path (tools/ is no package)."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", root / "tools" / "check_correctness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_against_oracle(spark, queries, oracles, sf_dir: str, root: Path,
                         collected: dict) -> dict[str, str]:
    """Compare every mix query with its DuckDB oracle; returns {name: reason}
    for each mismatch (empty when all match). `collected` holds the results
    of the cold pass (production hash mode). Each query of `HASH_DEFINED` is
    run again in oracle hash mode, the only mode its oracle can replay."""
    import duckdb

    cc = _checker(root)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    bad: dict[str, str] = {}
    before = os.environ.get(HASH_ENV)
    os.environ[HASH_ENV] = "oracle"
    try:
        for name in NAMES:
            try:
                if name in HASH_DEFINED:
                    sdf = queries[name](spark, sf_dir).toPandas()
                elif name in collected:
                    sdf = collected[name]
                else:
                    bad[name] = "no result to compare"
                    continue
                ddf = con.execute(oracles[name]).df()
            except Exception as e:  # noqa: BLE001 — an error is a mismatch
                bad[name] = f"error: {str(e)[:200]}"
                continue
            if sorted(sdf.columns) != sorted(ddf.columns):
                bad[name] = "columns differ"
            elif len(sdf) != len(ddf):
                bad[name] = f"rows {len(sdf)} != {len(ddf)}"
            elif cc._dtypes(sdf) != cc._dtypes(ddf):
                bad[name] = "dtype kinds differ"
            elif cc._normalize(sdf) != cc._normalize(ddf):
                bad[name] = "values differ"
    finally:
        if before is None:
            os.environ.pop(HASH_ENV, None)
        else:
            os.environ[HASH_ENV] = before
        con.close()
    return bad
