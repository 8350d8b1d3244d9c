"""tile_pipeline: the engine's headline scan -> join -> checksum query.

One long whole-stage-codegen scan stage over seeded synthetic pages:
parquet scan -> ``with_geotag`` -> ``assign_cells`` ->
``pip_join_broadcast`` -> ``tile_checksum`` -> collect. Scan, regex and
PIP-kernel changes show here in full; there is no Python boundary and no
write, so boundary, ledger and per-query driver-latency changes should
leave its end-to-end metrics unchanged. Its traced run also measures the
ledger layer (perfbench/ledger.py) over a small page set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from orthority_spark.functions import checksum
from orthority_spark.functions.geotag import with_geotag
from orthority_spark.operators import tile_join
from orthority_spark.sources import footprints as fp

from . import harness
from .inputs import pages_parquet, seed_start
from .ledger import LedgerProbe

SIZES = {"full": 4_000_000, "smoke": 50_000}
#: the near-empty twin that times the plan's fixed driver latency
TWIN_PAGES = 10_000
WARM_PASSES = 2


class Workload:
    min_timed_passes = 3

    def __init__(self, spark, run: harness.Run, size: str):
        self.spark, self.run, self.size = spark, run, size
        self.n_pages = SIZES[size]

    # -- set-up ----------------------------------------------------------
    def make_inputs(self) -> None:
        """Seeded input generation: cached, and outside ``setup_s``."""
        start = seed_start(self.run.seed)
        self.path = pages_parquet(self.spark, "pages", start, self.n_pages)
        self.twin = pages_parquet(self.spark, "twin", start, TWIN_PAGES)

    def build_catalog(self) -> None:
        recs = fp.footprint_records()
        self.flat = fp.footprint_catalog_flat_df(self.spark, recs)
        self.edges = fp.footprint_edges_df(self.spark, recs)

    # -- plan prefixes ---------------------------------------------------
    def _scan(self, path):
        return self.spark.read.parquet(path).select("url", "text")

    def _cells(self, path):
        return tile_join.assign_cells(with_geotag(self._scan(path), token="float"))

    def _joined(self, path, salted=False):
        join = tile_join.pip_join_salted if salted else tile_join.pip_join_broadcast
        return join(self._cells(path), self.flat, self.edges, keep=["cell"])

    def _tiles_df(self, path, salted=False):
        return checksum.tile_checksum(
            self._joined(path, salted), ["cell"],
            checksum.row_hash_fast(F.col("url"), F.col("filename")),
        )

    def tiles(self, path=None, salted=False) -> dict:
        rows = self._tiles_df(path or self.path, salted).collect()
        return {r.cell: (r.n_rows, r.checksum) for r in rows}

    # -- passes ------------------------------------------------------------
    def warm_up(self) -> None:
        """The salted-plan reference (the once-per-run correctness check,
        outside the timed passes), then ``WARM_PASSES`` broadcast passes;
        all checked. With one broadcast pass, the timed passes of a
        contended window still fell by ~15 % from first to third."""
        run = self.run
        self.reference = run.op("reference", self.tiles, salted=True) or {}
        run.check("reference_nonempty", len(self.reference) > 0)
        for _ in range(WARM_PASSES):
            got = run.op("warm_pass", self.tiles)
            run.check("warm_pass_matches_salted", got == self.reference)

    def timed_pass(self, store: harness.StatusStore | None = None):
        """One collect pass; returns (seconds, {"pass": seconds}) or None
        when it raised or its tiles differ from the salted reference."""
        seconds, got = harness.timed(self.run.op, "pass", self.tiles)
        if not self.run.check("pass_matches_salted", got == self.reference):
            return None
        return seconds, {"pass": seconds}

    def e2e(self, pass_s: float) -> dict:
        return {
            "pages_per_s": self.n_pages / pass_s,
            "tiles_per_s": len(self.reference) / pass_s,
        }

    # -- traced layers -----------------------------------------------------
    @staticmethod
    def _sink(df) -> None:
        """Consume every column of a plan prefix into one row: unlike a
        noop write, later cuts that shrink the rows are not charged less
        for materialising them."""
        df.agg(F.max(F.xxhash64(*df.columns))).collect()

    def layers(self, store: harness.StatusStore, passes: list[dict],
               walls: list[float], reps: int) -> dict:
        """Plan prefixes, each timed ``reps`` times (median); a layer's time
        is the increment over the previous prefix, and the last prefix is
        the pass itself."""
        run = self.run
        sink = self._sink
        cuts = [
            ("sources.scan_s", lambda: sink(self._scan(self.path))),
            ("functions.geotag_s",
             lambda: sink(with_geotag(self._scan(self.path), token="float"))),
            ("operators.tile_join.assign_cells_s", lambda: sink(self._cells(self.path))),
            ("operators.tile_join.pip_join_s", lambda: sink(self._joined(self.path))),
            ("functions.checksum_s", self.tiles),
        ]
        out, prev = {}, 0.0
        for name, probe in cuts:
            times = []
            for _ in range(reps):
                with run.span(f"cut:{name}") as sp:
                    run.op(name, probe)
                times.append(sp.seconds)
            out[name] = harness.median(times) - prev
            prev += out[name]
        # the PIP vote is pushed into the join condition, so the join's
        # output-row metric already counts hits; candidates (page x
        # footprint pairs sharing a cell) are counted by their own job
        with run.span("count:candidates"):
            out["operators.tile_join.candidate_rows"] = float(run.op(
                "candidates",
                lambda: self._cells(self.path)
                .join(F.broadcast(self.flat.select("cell", "filename")), "cell")
                .count(),
            ) or 0)
        out["operators.tile_join.hit_rows"] = float(
            sum(n for n, _ in self.reference.values())
        )
        out["trace.residual_s"] = harness.median(walls) - prev
        twin = []
        for _ in range(reps):
            with run.span("driver.fixed") as sp:
                run.op("twin_pass", self.tiles, self.twin)
            twin.append(sp.seconds)
        out["driver.fixed_s"] = harness.median(twin)
        probe = LedgerProbe(self.spark, run, self.size)
        try:
            out.update(probe.layers(cycles=1))
        finally:
            probe.close()
        return out
