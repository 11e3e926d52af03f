"""The file-source core (sources/files.py) as both formats see it: one
rule for which files a path or glob names."""

from __future__ import annotations

import glob
import os

import pytest

from excelstream_spark.sources.warc import register_warc
from excelstream_spark.sources.xlsx import register_xlsx


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
