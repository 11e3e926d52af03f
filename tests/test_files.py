"""The file-source core (sources/files.py) as both formats see it: one
rule for which files a path or glob names, and one publish-by-rename."""

from __future__ import annotations

import glob
import os

import pytest

from excelstream_spark.sources.warc import register_warc
from excelstream_spark.sources.xlsx import register_xlsx
from tests.conftest import RETRY_ROWS


@pytest.mark.parametrize("fmt", ["xlsx", "warc"])
def test_globs_name_the_same_files_for_every_format(spark, tmp_path, fmt):
    """A file glob reads every part, ``out/*`` skips ``_SUCCESS``, and a
    glob matching two output directories reads both."""
    register_xlsx(spark)
    register_warc(spark)
    schema = "record_id string, payload string"
    for name, n in (("x1", 3), ("x2", 2)):
        rows = [(f"{name}-{i}", f"payload {i}") for i in range(n)]
        spark.createDataFrame(rows, schema).repartition(2).write.format(fmt) \
            .mode("overwrite").save(str(tmp_path / name))
    out = tmp_path / "x1"
    assert len(glob.glob(f"{out}/part-*")) == 2
    assert os.path.exists(out / "_SUCCESS")

    def count(path):
        return spark.read.format(fmt).load(path).count()

    assert count(f"{out}/part-*") == 3
    assert count(f"{out}/*") == 3
    assert count(f"{tmp_path}/x*") == 5


@pytest.mark.parametrize(
    "fmt, path",
    [("xlsx", "xlsx"), ("xlsx", "single/out.xlsx"), ("warc", "warc")],
    ids=["xlsx", "xlsx-singleFile", "warc"],
)
def test_retried_task_publishes_once(spark, retried_writes, fmt, path):
    """A task whose first attempt failed part-way publishes only its
    retry: one part per partition id, no temp left, every row read back
    once."""
    register_xlsx(spark)
    register_warc(spark)
    out = os.path.join(retried_writes, path)
    if path.endswith(".xlsx"):  # singleFile: the target is the only file
        assert os.listdir(os.path.dirname(out)) == ["out.xlsx"]
    else:
        names = sorted(os.listdir(out))
        assert names[0] == "_SUCCESS"
        assert [n[:len("part-00000")] for n in names[1:]] == ["part-00000", "part-00001"]
    ids = spark.read.format(fmt).load(out).selectExpr("cast(record_id as long)")
    assert sorted(r[0] for r in ids.collect()) == list(range(RETRY_ROWS))


@pytest.mark.parametrize("fmt", ["xlsx", "warc"])
def test_failed_overwrite_keeps_previous_output(spark, tmp_path, fmt):
    """An overwrite whose job fails on every attempt leaves the previous
    parts and ``_SUCCESS`` in place, and a read still returns them."""
    from pyspark.sql import functions as F

    register_xlsx(spark)
    register_warc(spark)
    out = str(tmp_path / fmt)
    frame = spark.range(0, 1000, numPartitions=2).selectExpr(
        "cast(id as string) as record_id", "concat('doc ', id) as payload"
    )
    frame.write.format(fmt).mode("overwrite").save(out)
    before = sorted(os.listdir(out))

    @F.udf("string")
    def fail(s):
        raise RuntimeError("every attempt fails")

    with pytest.raises(Exception, match="every attempt fails"):
        frame.withColumn("payload", fail("payload")).write.format(fmt) \
            .mode("overwrite").save(out)
    assert sorted(n for n in os.listdir(out) if not n.startswith(".")) == before
    assert spark.read.format(fmt).load(out).count() == 1000
