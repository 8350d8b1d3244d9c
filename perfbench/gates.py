"""gates: the 50 driver-recorded ``registry.PRIORITY`` queries.

Many short queries over the bundled sf0.01 fixture, each written to a
noop sink with ``clearCache`` in between, in a seed-shuffled order. The
median query is dominated by driver fixed latency (analysis, codegen,
scheduling), the Python-boundary queries by worker time and Arrow bytes,
and the slowest by the shuffle-heavy text family. Only PRIORITY queries
run: DEMOTED twins may be deleted without touching the benchmark.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import re
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from orthority_spark import registry

from . import harness

FIXTURES = {"full": "sf0.01", "smoke": "sf0.001"}
#: the fixture ``driver.fixed_s`` runs every query over
FIXED_FIXTURE = "sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
#: PRIORITY comment-block heading keyword -> family metric
FAMILY_OF_HEADING = {
    "geometry": "geo", "text": "text", "embeddings": "vec",
    "multimodal": "vec", "LLM-training-data": "data", "relational": "rel",
}


def families() -> dict[str, str]:
    """query -> family, following the ``# -- heading --`` comment blocks
    of ``registry.PRIORITY`` (a later plain comment stays in its block)."""
    with open(registry.__file__) as f:
        src = f.read()
    block = src[src.index("PRIORITY = ["):]
    block = block[:block.index("\n]")]
    out, family = {}, None
    for line in block.splitlines():
        line = line.strip()
        if line.startswith("# --"):
            family = next(
                fam for key, fam in FAMILY_OF_HEADING.items() if key in line
            )
        for name in re.findall(r'^"(\w+)"', line):
            out[name] = family
    return out


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(cols, kind="mergesort").reset_index(drop=True)


def matches_oracle(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    """The oracle-parity rule of tests/test_oracle_parity.py: same column
    names and shape, and every value equal after an order-insensitive
    sort (floats exactly, NaN matching NaN)."""
    if sorted(got.columns) != sorted(exp.columns) or got.shape != exp.shape:
        return False
    g, x = _canon(got), _canon(exp)
    for c in g.columns:
        gv, xv = g[c].to_numpy(), x[c].to_numpy()
        if gv.dtype.kind == "f" or xv.dtype.kind == "f":
            if not ((pd.isna(gv) & pd.isna(xv)) | (gv == xv)).all():
                return False
        elif not np.array_equal(gv, xv):
            return False
    return True


def oracle_results(sf_dir: str, sql: dict[str, str]) -> dict[str, pd.DataFrame]:
    """DuckDB results of ``registry.oracle_sql()`` over the fixture,
    cached per (fixture bytes, oracle SQL): the seed only reorders the
    queries, so one oracle run serves every seed."""
    import duckdb

    h = hashlib.sha256(json.dumps(sql, sort_keys=True).encode())
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    path = os.path.join(harness.WORK, "oracle", f"{h.hexdigest()[:16]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {name: con.sql(q).df() for name, q in sql.items()}
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def _observed(df):
    """``df`` plus an order-independent (row count, hash sum) digest
    collected by the action itself (no extra job)."""
    obs = Observation()
    digest = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    )
    return digest, obs


class Workload:
    min_timed_passes = 1

    def __init__(self, spark, run: harness.Run, size: str):
        self.spark, self.run = spark, run
        self.sf_dir = os.path.join(harness.DATA, FIXTURES[size])
        self.fixed_dir = os.path.join(harness.DATA, FIXED_FIXTURE)

    # -- set-up ----------------------------------------------------------
    def make_inputs(self) -> None:
        self.oracle = oracle_results(self.sf_dir, registry.oracle_sql())

    def build_catalog(self) -> None:
        self.queries = {n: fn for n, (fn, _) in registry.all_queries().items()}
        self.order = sorted(self.queries)
        random.Random(self.run.seed).shuffle(self.order)

    # -- passes ------------------------------------------------------------
    def _query(self, name: str, sf_dir: str, collect: bool = False):
        """One query to the noop sink after ``clearCache``, or collected
        (the concurrent warm-up, which must not clear caches of queries
        in flight). Returns (seconds, (rows, hash sum), collected rows)."""
        if not collect:
            self.spark.catalog.clearCache()
        t = time.perf_counter()
        digest, obs = _observed(self.queries[name](self.spark, sf_dir))
        if collect:
            result = digest.toPandas()
        else:
            result = None
            digest.write.format("noop").mode("overwrite").save()
        seconds = time.perf_counter() - t
        return seconds, (obs.get["n"], obs.get["h"]), result

    def warm_up(self) -> None:
        """One untimed pass that runs ``task_slots()`` queries at a time
        (cold queries are mostly single-threaded driver work: analysis,
        codegen compile, JIT) and collects every result. Each is checked
        against the DuckDB oracle; its digests are the reference every
        timed pass is checked against."""
        run = self.run
        with ThreadPoolExecutor(harness.task_slots()) as ex:
            futures = {
                name: ex.submit(self._query, name, self.sf_dir, True)
                for name in self.order
            }
            outs = {name: run.op(name, f.result) for name, f in futures.items()}
        self.digests = {}
        for name, out in outs.items():
            if out is None:
                continue
            _, self.digests[name], got = out
            if name in self.oracle:
                run.check(f"oracle:{name}", matches_oracle(got, self.oracle[name]))
            else:
                run.check(f"rows:{name}", len(got) > 0)

    def timed_pass(self, store: harness.StatusStore | None = None):
        """One noop pass; returns (sum of query times, {query: seconds})
        or None when a query raised or its digest moved."""
        run, samples = self.run, {}
        for name in self.order:
            if store is None:
                out = run.op(name, self._query, name, self.sf_dir)
            else:
                mark = store.mark()
                with run.span(f"q:{name}"):
                    out = run.op(name, self._query, name, self.sf_dir)
                run.counts[f"driver.executions.{name}"] = len(store.executions_since(mark))
            if out is not None and run.check(
                f"digest:{name}", out[1] == self.digests.get(name)
            ):
                samples[name] = out[0]
        if len(samples) != len(self.order):
            return None
        return sum(samples.values()), samples

    def e2e(self, pass_s: float) -> dict:
        orders = pq.ParquetFile(os.path.join(self.sf_dir, "orders.parquet"))
        return {
            # the geo gates derive one page per orders row
            "pages_per_s": orders.metadata.num_rows / pass_s,
            "tiles_per_s": self.digests["tile_checksums"][0] / pass_s,
        }

    # -- traced layers -----------------------------------------------------
    def layers(self, store: harness.StatusStore, passes: list[dict],
               walls: list[float], reps: int) -> dict:
        """Per-query and per-family medians over the untraced timed
        passes, and every query once more over the sf0.001 fixture."""
        run = self.run
        fam = families()
        out = {}
        per_query = {
            name: harness.median([p[name] for p in passes]) for name in self.order
        }
        for name, s in per_query.items():
            out[f"gates.q.{name}_s"] = s
        for name, s in per_query.items():
            key = f"gates.family.{fam[name]}_s"
            out[key] = out.get(key, 0.0) + s
        # pass wall time not spent inside a query: clearCache, digest checks
        out["trace.residual_s"] = harness.median(walls) - sum(per_query.values())
        fixed = {}
        for name in self.order:
            with run.span(f"fixed:{name}"):
                got = run.op(f"fixed:{name}", self._query, name, self.fixed_dir)
            if got is not None:
                fixed[name] = got[0]
        run.counts.update({f"driver.fixed.{n}": s for n, s in fixed.items()})
        out["driver.fixed_s"] = sum(fixed.values())
        return out
