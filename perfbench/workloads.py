"""The benchmark's workloads: what one operation is and how it is checked.

An operation has two phases, ``build`` (Python/py4j construction, plus any
eager jobs the program launches while building) and ``materialize``.
run.py times both and, in the warm pass, replaces ``materialize`` with a
checked materialization that compares the result with its DuckDB oracle.
"""

from __future__ import annotations

import math
import os
import random
import re
import shutil
import time
from typing import NamedTuple

from pyspark.sql import functions as F

# Query ids from the relational SQL surface: short queries where the fixed
# per-query cost (py4j, Catalyst, task dispatch) dominates, with no pins and
# no literal-heavy vector expressions.
RELATIONAL_MIX = (
    "q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q10", "q11", "q12",
    "q13", "q14", "q16", "q17", "q19", "q20", "q83", "q93", "q96", "q114",
    "q115", "q170",
)


class _CollectedFrame(NamedTuple):
    """DataFrame stand-in for tests/oracle.py's compare(): rows collected
    once, so the Spark collect and the oracle comparison are timed apart."""

    columns: list
    rows: list

    def collect(self):
        return self.rows


class Op:
    """One operation: ``build() -> handle`` then ``materialize(handle)``.

    ``frame(handle)`` names the DataFrame whose Catalyst phases a traced
    run records (None when the operation has no single plan); ``outputs``
    are the directories it writes."""

    def __init__(self, name, build, materialize, frame=None, outputs=()):
        self.name, self.build, self.materialize = name, build, materialize
        self.frame = frame or (lambda handle: None)
        self.outputs = outputs


class Checked:
    """Outcome of one oracle check: ``own_s`` is the time the benchmark
    spent on its own comparison work (excluded from ``setup_s``)."""

    def __init__(self, ok: bool, error: str | None, own_s: float):
        self.ok, self.error, self.own_s = ok, error, own_s


# the oracle SQL with every ROUND(x, d) replaced by x
_UNROUNDED = "perfbench_unrounded"
_UNROUNDED_MACRO = f"CREATE OR REPLACE MACRO {_UNROUNDED}(x, d) AS x"
_ROUND_CALL = re.compile(r"\bROUND\s*\(", re.IGNORECASE)


def _by_exact_columns(rows: list[tuple]) -> dict | None:
    """Rows keyed by their non-float values; None if a key repeats."""
    out = {}
    for r in rows:
        key = tuple(v for v in r if not isinstance(v, float))
        if key in out:
            return None
        out[key] = r
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class RelationalMix:
    name = "relational_mix"

    def __init__(self, spark, data_dir, work_dir, oracle):
        import __spark_entry__

        self.spark, self.data, self.oracle = spark, data_dir, oracle
        by_id = {n.split("_")[0]: n for n in __spark_entry__.ALL_QUERIES}
        queries = __spark_entry__.queries()
        sqls = __spark_entry__.oracle_sql()
        self.names = [by_id[q] for q in RELATIONAL_MIX]
        self.fns = {n: queries[n] for n in self.names}
        self.sql = {n: sqls[n] for n in self.names}
        self.rounding_ties: dict[str, list] = {}

    def pass_ops(self, rng: random.Random) -> list[Op]:
        names = list(self.names)
        rng.shuffle(names)
        return [Op(n, self._builder(n), _noop, frame=lambda df: df) for n in names]

    def _builder(self, name):
        fn, spark, data = self.fns[name], self.spark, self.data
        return lambda: fn(spark, data)

    def checked_materialize(self, op: Op, df, duck) -> Checked:
        """Materialize by collecting, then compare with the oracle; a
        mismatch made only of rounding ties (``_rounding_ties``) passes."""
        frame = _CollectedFrame(df.columns, [tuple(r) for r in df.collect()])
        t = time.perf_counter()
        try:
            self.oracle.compare(frame, duck, self.sql[op.name])
            err = None
        except AssertionError as e:
            ties = self._rounding_ties(op.name, frame, duck)
            if ties is None:
                err = f"oracle mismatch: {e}"
            else:
                self.rounding_ties[op.name] = ties
                err = None
        return Checked(err is None, err, time.perf_counter() - t)

    def _rounding_ties(self, name: str, frame: _CollectedFrame, duck) -> list | None:
        """The float pairs where Spark and the oracle print the two 4-place
        roundings of a value that lies on their half-way point, or None if
        any difference is something else.

        Both engines sum doubles, so where the exact value is a tie (64
        two-decimal values summing to 3812.88 have the mean 59.57625) the
        summation order decides which neighbour ROUND(·, 4) prints. A pair
        counts as a tie only if the values are one unit of the fourth place
        apart and the oracle's unrounded value (the same SQL with ROUND as
        the identity) is their midpoint to 1e-11. Rows are paired by their
        non-float columns, which must identify each row in all three
        results; anything else is a mismatch."""
        import duckdb

        norm, sql = self.oracle.normalize, self.sql[name]
        results = [norm(frame.columns, frame.rows)]
        try:
            duck.execute(_UNROUNDED_MACRO)
            for q in (sql, _ROUND_CALL.sub(_UNROUNDED + "(", sql)):
                rel = duck.execute(q)
                results.append(norm([c[0] for c in rel.description], rel.fetchall()))
        except duckdb.Error:
            return None
        if any(cols != results[0][0] for cols, _ in results):
            return None
        spark, oracle, unrounded = (_by_exact_columns(rows) for _, rows in results)
        if (None in (spark, oracle, unrounded) or spark.keys() != oracle.keys()
                or not spark.keys() <= unrounded.keys()):
            return None
        cols, ties = results[0][0], []
        for key, a in spark.items():
            b, u = oracle[key], unrounded[key]
            for j, (x, y) in enumerate(zip(a, b)):
                if not (isinstance(x, float) and isinstance(y, float)):
                    if x != y:
                        return None
                elif not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    if not (math.isclose(abs(x - y), 1e-4, rel_tol=1e-6)
                            and isinstance(u[j], float)
                            and math.isclose(u[j], (x + y) / 2,
                                             rel_tol=1e-11, abs_tol=1e-11)):
                        return None
                    ties.append({"row": list(key), "column": cols[j], "spark": x,
                                 "oracle": y, "unrounded": u[j]})
        return ties

    def check_pass(self, duck) -> dict[str, Checked]:
        return {}

    def duck_sql(self) -> list[str]:
        return [self.sql[n] for n in self.names]

    def close(self) -> None:
        pass


class PipelineWrite:
    """The paper's headline job, one iteration per pass, each in a fresh
    directory: raw pixels → pipeline + sinks, NetCDF export of the written
    cube, an ordered three-batch streaming EWMA ingest of the events, and the
    read-back of the streamed state."""

    name = "pipeline_write"

    def __init__(self, spark, data_dir, work_dir, oracle):
        import __spark_entry__

        self.spark, self.data, self.oracle = spark, data_dir, oracle
        self.root = os.path.join(work_dir, "pipeline_write")
        self.iteration = 0
        self.dir = None
        sqls = __spark_entry__.oracle_sql()
        self.q38 = sqls["q38_bloomy_end_to_end"]
        self.q144 = sqls["q144_streaming_ewma_state"]

    def pass_ops(self, rng: random.Random) -> list[Op]:
        from bloomy_etl_spark.operators.bloomy_queries import synthetic_pixels
        from bloomy_etl_spark.pipeline import run_pipeline, write_outputs
        from bloomy_etl_spark.sinks.netcdf import export_netcdf
        from bloomy_etl_spark.streaming.ingest import (
            read_ewma_state,
            streaming_ewma_ingest,
        )
        from bloomy_etl_spark.streaming.sources import replay_dir_ordered

        if self.dir is not None:
            shutil.rmtree(self.dir, ignore_errors=True)
        self.dir = d = os.path.join(self.root, f"iter{self.iteration}")
        self.iteration += 1
        os.makedirs(d)
        spark, data = self.spark, self.data
        out, nc = os.path.join(d, "out"), os.path.join(d, "nc")
        replay, state = os.path.join(d, "replay"), os.path.join(d, "state")

        def stream_build():
            replay_dir_ordered(spark, data, replay, n_files=3)
            schema = spark.read.parquet(replay).schema
            events = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(replay)
                .select("user_id", F.unix_micros("ts").alias("eus"), "event_id",
                        F.floor(F.col("value") * 10000).cast("long").alias("v"))
            )
            return streaming_ewma_ingest(events, state,
                                         checkpoint_dir=os.path.join(d, "ckpt"))

        def stream_wait(query):
            if not query.awaitTermination(300):
                query.stop()
                raise RuntimeError("replay stream did not finish in 300 s")
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))

        ops = {
            "pipeline": Op(
                "pipeline",
                lambda: run_pipeline(synthetic_pixels(spark, data)),
                lambda res: write_outputs(res, out), outputs=(out,)),
            "netcdf": Op(
                "netcdf",
                lambda: export_netcdf(spark.read.parquet(os.path.join(out, "cube")), nc),
                lambda manifest: manifest.collect(),
                frame=lambda manifest: manifest, outputs=(nc,)),
            "stream": Op("stream", stream_build, stream_wait,
                         outputs=(replay, state)),
            "ewma_state": Op(
                "ewma_state", lambda: read_ewma_state(spark, state), _noop,
                frame=lambda df: df),
        }
        # the seed picks one interleaving of the two dependent chains
        chains = [["pipeline", "netcdf"], ["stream", "ewma_state"]]
        order = []
        while chains[0] or chains[1]:
            live = [c for c in chains if c]
            order.append(live[rng.randrange(len(live))].pop(0))
        return [ops[n] for n in order]

    def checked_materialize(self, op: Op, handle, duck) -> Checked:
        op.materialize(handle)
        return Checked(True, None, 0.0)

    def check_pass(self, duck) -> dict[str, Checked]:
        """Read back the written cube's daily summary against q38's oracle
        (the columns the default pipeline shares with it), the NetCDF files
        against the oracle's day count, and the streamed EWMA state against
        q144's oracle. All of it is the benchmark's own work."""
        t = time.perf_counter()
        rel = duck.execute(self.q38)
        cols = [c[0] for c in rel.description]
        want = {r[cols.index("day")]: dict(zip(cols, r)) for r in rel.fetchall()}
        out = {
            "pipeline": _guarded(self._check_cube, want),
            "netcdf": _guarded(self._check_netcdf, want),
            "ewma_state": _guarded(self._check_state, duck),
        }
        out["stream"] = out["ewma_state"]
        out["pipeline"].own_s = time.perf_counter() - t
        return out

    def _check_cube(self, want: dict) -> str | None:
        cube = self.spark.read.parquet(os.path.join(self.dir, "out", "cube"))
        got = cube.groupBy(F.to_date("time").alias("day")).agg(
            F.count(F.lit(1)).alias("n_px"),
            F.sum("ndvi").alias("sum_ndvi"), F.sum(F.abs("ndvi")).alias("abs_ndvi"),
            F.sum("evi").alias("sum_evi"), F.sum(F.abs("evi")).alias("abs_evi"),
            F.max("num_granules_merged").alias("n_granules"),
        ).collect()
        if sorted(r["day"] for r in got) != sorted(want):
            return f"cube days differ: {len(got)} written vs {len(want)} expected"
        for r in got:
            w = want[r["day"]]
            for c in ("n_px", "n_granules"):
                if r[c] != w[c]:
                    return f"day {r['day']} {c}: written {r[c]} vs oracle {w[c]}"
            for c, a in (("sum_ndvi", "abs_ndvi"), ("sum_evi", "abs_evi")):
                # the cube sink stores float32; allow its rounding on the sum
                tol = 1e-6 * (r[a] or 0.0) + 1e-4
                if not math.isclose(r[c] or 0.0, w[c] or 0.0, abs_tol=tol):
                    return f"day {r['day']} {c}: written {r[c]} vs oracle {w[c]}"
        return None

    def _check_netcdf(self, want: dict) -> str | None:
        n = len([f for f in os.listdir(os.path.join(self.dir, "nc")) if f.endswith(".nc")])
        return None if n == len(want) else f"{n} NetCDF files for {len(want)} days"

    def _check_state(self, duck) -> str | None:
        from bloomy_etl_spark.streaming.ingest import read_ewma_state

        state = read_ewma_state(self.spark, os.path.join(self.dir, "state"))
        rows = [tuple(r) for r in state.collect()]
        self.oracle.compare(_CollectedFrame(state.columns, rows), duck, self.q144)
        return None

    def duck_sql(self) -> list[str]:
        return [self.q38, self.q144]

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def _guarded(check, *args) -> Checked:
    """Run one read-back check; a mismatch or an error fails it."""
    try:
        err = check(*args)
    except AssertionError as e:
        err = f"oracle mismatch: {e}"
    except Exception as e:  # an output that cannot be read back is a failure
        err = f"{type(e).__name__}: {e}"
    return Checked(err is None, err, 0.0)


WORKLOADS = {w.name: w for w in (RelationalMix, PipelineWrite)}
