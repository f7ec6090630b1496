#!/usr/bin/env python
"""Driver-contract rehearsal at sf0.01 (the driver's correctness sf) for a
set of query keys: run each __spark_entry__ query and compare against its
DuckDB oracle exactly as tests/test_oracle_parity.py does at sf0.001.

Usage: python scripts/verify_touched.py key1 key2 ...   (no args = bench set)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from minigraph_spark.relational import ORACLE_SQL, QUERIES  # noqa: E402
from minigraph_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

DEFAULT_KEYS = [
    "pagerank3_mod", "pagerank_weighted_mod", "ppr3_mod", "pagerank_warm_mod",
    "pagerank_minigraph3_mod", "pagerank_mod_converged",
    "wcc_components_snr", "wcc_incremental_snr", "wcc_decremental_snr",
    "wcc_seq_converged", "wcc_csr_components_snr", "lpa2_mod",
    "modularity_lpa_mod", "conductance_lpa_mod", "bfs_csr_mod",
    "bfs_mod", "sssp_weighted_mod", "bfs_incremental_mod", "bfs_decremental_mod",
    "sssp_incremental_mod", "coloring_mod", "hits3_mod",
    "anf3_kc", "nf_curve_kc", "eff_diameter_kc", "triangle_count_mod",
    "transitivity_mod", "clustering_mod", "triangle_count_incremental_mod",
]


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.sql(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _oracle_for(name: str) -> str:
    from minigraph_spark import relational as R

    special = {
        "pagerank_mod_converged": R.pagerank_converged_oracle_sql,
        "kcore14_kc": R.kcore_oracle_sql,
        "ktruss4_kc": R.ktruss_oracle_sql,
        "coreness_kc": R.coreness_oracle_sql,
        "betweenness_kc": R.betweenness_oracle_sql,
    }
    if name in special:
        return special[name](SF_DIR)
    return ORACLE_SQL[name]


def main() -> None:
    keys = sys.argv[1:] or DEFAULT_KEYS
    spark = get_spark("verify_touched")
    failed = []
    for name in keys:
        try:
            got = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
            want = _normalize(_duck(_oracle_for(name)))
            assert list(got.columns) == list(want.columns), (
                f"columns {list(got.columns)} != {list(want.columns)}"
            )
            assert len(got) == len(want), f"{len(got)} rows vs oracle {len(want)}"
            for c in got.columns:
                g, w = got[c].to_numpy(), want[c].to_numpy()
                if np.issubdtype(g.dtype, np.floating) or np.issubdtype(
                    w.dtype, np.floating
                ):
                    np.testing.assert_allclose(
                        g.astype(float), w.astype(float), rtol=0, atol=1e-9,
                        err_msg=f"{name}.{c}",
                    )
                else:
                    assert (g == w).all(), f"{name}.{c} mismatch"
            print(f"PASS {name} ({len(got)} rows)", flush=True)
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: {e}", flush=True)
        spark.catalog.clearCache()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    print(f"{len(keys) - len(failed)}/{len(keys)} passed")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
