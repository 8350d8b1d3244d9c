"""The ledger layer: crash -> resume -> no-op resume through ``OrthoJob``.

Measured in tile_pipeline's traced run (see README.md for why it is not a
workload of its own). Each cycle writes into a fresh local-disk directory
(Hadoop local FS, no fsync): a crash run with ``max_partitions`` at half
the tiles, a resume run that completes the rest, and a no-op resume. The
per-tile commit path (one output directory and one ledger row per tile)
and the resume reads beside it are what the step times measure.
"""

from __future__ import annotations

import os
import shutil
import uuid

from orthority_spark.plans.job import OrthoJob

from . import harness
from .inputs import pages_parquet, seed_start

#: (pages, grid resolution) per size
SIZES = {"full": (50_000, 20), "smoke": (20_000, 20)}
STEP_METRICS = {
    "crash": "plans.ledger.crash_run_s",
    "resume": "plans.ledger.resume_run_s",
    "noop_resume": "plans.ledger.noop_resume_s",
}


def _walk_counts(root: str) -> tuple[int, int, int]:
    """(parquet data files under out/, directories, bytes) below ``root``."""
    files = dirs = size = 0
    for here, subdirs, names in os.walk(root):
        dirs += len(subdirs)
        for n in names:
            size += os.path.getsize(os.path.join(here, n))
            if n.endswith(".parquet") and f"{os.sep}out{os.sep}" in here + os.sep:
                files += 1
    return files, dirs, size


class LedgerProbe:
    """The ledger layer, measured inside a traced run: ``OrthoJob.tiles``
    without writing, then crash -> resume -> no-op resume into a fresh
    directory, checked against ``tiles()`` and timed step by step."""

    def __init__(self, spark, run: harness.Run, size: str):
        self.spark, self.run = spark, run
        self.n_pages, self.res = SIZES[size]
        self.base = os.path.join(harness.WORK, "ledger", uuid.uuid4().hex[:8])
        start = seed_start(run.seed)
        path = pages_parquet(spark, "ledger-pages", start, self.n_pages)
        self.job = OrthoJob(spark, res=self.res)
        self.pages = spark.read.parquet(path)
        self.metrics_read_s = 0.0

    def tiles(self) -> dict:
        return {
            r.cell: (r.n_rows, r.checksum)
            for r in self.job.tiles(self.pages).collect()
        }

    def _cycle(self, out: str) -> dict:
        half = len(self.reference) // 2
        seconds, steps = {}, {}
        for step, limit in (("crash", half), ("resume", None), ("noop_resume", None)):
            with self.run.span(f"plans.ledger.{step}") as sp:
                steps[step] = self.job.process(self.pages, out, max_partitions=limit)
            seconds[step] = sp.seconds
        self.steps = steps
        return seconds

    def _verify(self) -> None:
        steps, ref, run = self.steps, self.reference, self.run
        run.check(
            "crash_processed_half",
            steps["crash"]["partitions_processed"] == len(ref) // 2,
        )
        run.check(
            "every_tile_once",
            steps["crash"]["partitions_processed"]
            + steps["resume"]["partitions_processed"] == len(ref),
        )
        run.check(
            "noop_resume_processed_none",
            steps["noop_resume"]["partitions_processed"] == 0,
        )
        with run.span("plans.ledger.metrics_read") as sp:
            rows = self.job.metrics().select("part_key", "n_rows", "checksum").collect()
        self.metrics_read_s = sp.seconds
        ledger = {r.part_key: (r.n_rows, r.checksum) for r in rows}
        run.check("ledger_equals_tiles", len(rows) == len(ref) and ledger == ref)

    def _disk(self, out: str) -> dict:
        files, dirs, size = _walk_counts(out)
        payload = self.spark.read.parquet(os.path.join(out, "out")).selectExpr(
            "sum(length(url) + length(filename) + 8) AS b"
        ).first().b
        return {
            "plans.ledger.files_per_tile": files / len(self.reference),
            "plans.ledger.dirs_written": float(dirs),
            "plans.ledger.bytes_per_row_byte": size / payload,
        }

    def layers(self, cycles: int) -> dict:
        """``cycles`` checked cycles after one untimed warm-up cycle;
        step times are medians."""
        run = self.run
        tiles_s = []
        for _ in range(cycles):
            with run.span("plans.job.tiles") as sp:
                self.reference = run.op("tiles", self.tiles) or {}
            tiles_s.append(sp.seconds)
        run.check("ledger_reference_nonempty", len(self.reference) > 0)
        out = {"plans.job.tiles_s": harness.median(tiles_s)}
        timed = []
        for i in range(cycles + 1):
            target = os.path.join(self.base, f"cycle{i}")
            try:
                seconds = run.op("ledger_cycle", self._cycle, target)
                if seconds is not None:
                    run.op("ledger_verify", self._verify)
                    if i:
                        timed.append(seconds)
                    if i == cycles:
                        out.update(run.op("ledger_disk", self._disk, target) or {})
            finally:
                shutil.rmtree(target, ignore_errors=True)
        for step, name in STEP_METRICS.items():
            out[name] = harness.median([t[step] for t in timed]) if timed else 0.0
        out["plans.ledger.metrics_read_s"] = self.metrics_read_s
        return out

    def close(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
