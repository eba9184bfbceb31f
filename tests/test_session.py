"""The Spark master-string parser: one helper sizes both the JVM
processor pin and the shuffle-partition floor."""

from __future__ import annotations

import pytest

from oculus_crawl_spark.session import local_cores, merge_processor_pin


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local[4]", 4),
        ("local[4,2]", 4),
        ("local[16, 3]", 16),
        ("local[*]", None),
        ("local[*,2]", None),
        ("local", None),
        ("yarn", None),
        ("local-cluster[2,1,4096]", None),
    ],
)
def test_local_cores(master, cores):
    assert local_cores(master) == cores


def test_processor_pin_reads_local_n_f():
    assert merge_processor_pin("local[4,2]", None)[
        "spark.driver.extraJavaOptions"
    ] == "-XX:ActiveProcessorCount=4"
    assert "spark.driver.extraJavaOptions" not in merge_processor_pin("local[*]", None)
