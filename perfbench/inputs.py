"""Seeded synthetic page tables, cached per checkout under WORK/inputs."""

from __future__ import annotations

import os
import random
import shutil

from orthority_spark.sources.pages import synthetic_pages

from . import harness

#: how many distinct key ranges the seeds map to; each range is generated
#: once per checkout, so input generation stays out of most runs
KEY_RANGES = 4


class _KeyRange:
    """Stands in for the SparkSession inside ``synthetic_pages`` so the
    package's own generator emits keys ``[start, start + n)``: every
    contiguous key range keeps the geotag mix (60 % inside, 20 % outside,
    20 % on the mega-cell), so the seed moves the data, not its shape."""

    def __init__(self, spark, start: int):
        self._spark, self._start = spark, start
        self.sparkContext = spark.sparkContext

    def range(self, lo, hi, step, parts):
        return self._spark.range(lo + self._start, hi + self._start, step, parts)


def pages_parquet(spark, kind: str, start: int, n: int, keep: int = KEY_RANGES) -> str:
    """Materialise (url, text) for keys [start, start + n) once per
    checkout; keeps the ``keep`` newest tables of this ``kind``."""
    base = os.path.join(harness.WORK, "inputs", kind)
    path = os.path.join(base, f"{start}-{n}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)
        return path
    shutil.rmtree(path, ignore_errors=True)
    parts = 4 * harness.task_slots()
    synthetic_pages(_KeyRange(spark, start), n, num_partitions=parts).select(
        "url", "text"
    ).write.parquet(path)
    old = sorted(
        (os.path.join(base, d) for d in os.listdir(base)), key=os.path.getmtime
    )
    for stale in old[:-keep]:
        shutil.rmtree(stale, ignore_errors=True)
    return path


def seed_start(seed: int) -> int:
    return random.Random(seed % KEY_RANGES).randrange(10**8)
