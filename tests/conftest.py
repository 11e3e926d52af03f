from __future__ import annotations

import math
import os
import subprocess
import sys
import textwrap

import duckdb
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from excelstream_spark.session import get_spark
from excelstream_spark.tables import TABLE_NAMES, table_path

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("excelstream_spark-tests")
    yield spark


def run_in_retrying_session(code: str, **env: str) -> None:
    """Run ``code`` in a child ``local[2,2]`` session, where a failed task
    gets a second attempt (the tests' own session never retries one).
    ``spark`` is bound, the package imports, the UI is off, ``env`` adds
    to the child's environment; a failing snippet fails the caller with
    the child's stderr."""
    prelude = (
        "from excelstream_spark.session import get_spark\n"
        "spark = get_spark('retry', **{'spark.ui.enabled': 'false'})\n"
    )
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_MASTER": "local[2,2]",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        **env,
    }
    done = subprocess.run(
        [sys.executable, "-c", prelude + textwrap.dedent(code)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]


#: rows each retried write holds; the row with id FAIL_AT fails its
#: task's first attempt
RETRY_ROWS, FAIL_AT = 40_000, 35_000


@pytest.fixture(scope="session")
def retried_writes(tmp_path_factory) -> str:
    """A directory holding three sink outputs, each written in a retrying
    session while one task failed its first attempt part-way: ``xlsx``
    and ``warc`` (two partitions, partition 1 fails) and
    ``single/out.xlsx`` (singleFile, its one task fails).  Each row
    carries its id, ``0 .. RETRY_ROWS - 1``."""
    out = str(tmp_path_factory.mktemp("retried"))
    run_in_retrying_session(f"""
        from pyspark import TaskContext
        from pyspark.sql import functions as F
        from excelstream_spark.sources.warc import register_warc
        from excelstream_spark.sources.xlsx import register_xlsx

        register_xlsx(spark)
        register_warc(spark)

        @F.udf("long")
        def fail_first_attempt(i):
            if i == {FAIL_AT} and TaskContext.get().attemptNumber() == 0:
                raise RuntimeError("first attempt fails")
            return i

        def frame(partitions):
            ids = fail_first_attempt("id").cast("string")
            return spark.range(0, {RETRY_ROWS}, numPartitions=partitions).select(
                ids.alias("record_id"), F.concat(F.lit("doc "), ids).alias("payload")
            )

        frame(2).write.format("xlsx").mode("overwrite").save({out!r} + "/xlsx")
        frame(2).write.format("warc").mode("overwrite").save({out!r} + "/warc")
        frame(1).write.format("xlsx").mode("overwrite").option("singleFile", True) \
            .save({out!r} + "/single/out.xlsx")
    """)
    return out


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_DIR, name)}')"
        )
    yield con
    con.close()


def _norm_value(v):
    """Normalize a cell for order-insensitive comparison (the driver's
    value-hash analogue): floats compared EXACTLY (bit-for-bit — round-1's
    9-sig-fig rounding here masked driver hash-fails on raw double sums;
    catalog queries must be engine-deterministic, see plans/relational.py),
    timestamps stringified."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (pd.Timestamp,)):
        return str(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_value(x) for x in v)
    if pd.isna(v):
        return None
    return v


def normalize_frame(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(_norm_value(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def assert_matches_oracle(spark_df, duck_con, oracle: str, *, approx_float=True):
    actual = spark_df.toPandas()
    expected = duck_con.sql(oracle).df()
    assert sorted(map(str.lower, actual.columns)) == sorted(map(str.lower, expected.columns)), (
        f"column mismatch: spark={sorted(actual.columns)} oracle={sorted(expected.columns)}"
    )
    expected.columns = [c for c in expected.columns]
    # align oracle column case to spark's
    case_map = {c.lower(): c for c in actual.columns}
    expected.columns = [case_map[c.lower()] for c in expected.columns]
    assert len(actual) == len(expected), f"row count: spark={len(actual)} oracle={len(expected)}"
    a = normalize_frame(actual)
    e = normalize_frame(expected)
    mismatches = [(x, y) for x, y in zip(a, e) if x != y]
    assert not mismatches, f"{len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
