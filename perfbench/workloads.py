"""The benchmark's workloads: fixed lists of steps, run in order.

A step is one user-visible query. ``run(ctx, rec, check)`` executes
it once. A ``check_only`` step runs in the checking pass alone, not
in the timed passes. With ``check`` it collects the result and verifies it,
raising ``CheckFailed`` on a wrong answer; otherwise it executes the
result to Spark's noop sink, as the timed passes do. ``rec`` is the
pass's recorder (see ``layers``); each step times the public calls
it makes into the program under it.
"""

from __future__ import annotations

import hashlib
import math
import operator
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fsharp_mapreduce_spark.compat.job import (
    MapReduceJob,
    dice_map_fn,
    dice_reduce_fn,
    range_source,
)
from fsharp_mapreduce_spark.registry import QUERIES
from fsharp_mapreduce_spark.sources.pull_source import (
    PULL_CHUNK,
    PULL_ROWS,
    GimmeDiceReader,
    register_pull_source,
)
from fsharp_mapreduce_spark.streaming.loader import run_to_completion


class CheckFailed(Exception):
    """A step returned a wrong answer."""


def canon(cols, rows):
    """Order-free canonical form of a result: columns sorted by name,
    floats to 9 significant digits, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "|".join("%.9g" % r[i] if isinstance(r[i], float) else str(r[i]) for i in order)
        for r in rows
    )


def result_hash(cols, rows):
    body = "\n".join([",".join(sorted(cols))] + canon(cols, rows))
    return hashlib.sha1(body.encode()).hexdigest()[:16]


def wins_of(rows: int) -> int:
    """Win count of the deterministic dice sources (roll = id % 6 + 1,
    Win on roll 3) over ids 0..rows-1."""
    return (rows - 3) // 6 + 1 if rows >= 3 else 0


def _execute(df: DataFrame, name: str, rec, check: bool):
    """Plan and run a returned DataFrame: to the noop sink, or, when
    checking, collect it and return (columns, rows)."""
    if check:
        return df.columns, [tuple(r) for r in df.collect()]
    with rec.span(f"{name}/plan", metric="plan.s"):
        rec.force_plan(df)
    with rec.span(f"{name}/exec", jobs="exec", metric="exec.s"):
        df.write.format("noop").mode("overwrite").save()
    return None


class Registered:
    """A query from ``registry.QUERIES``, checked against its DuckDB
    oracle (or, without one, required to return rows)."""

    check_only = False

    def __init__(self, name: str):
        self.name = name

    def run(self, ctx, rec, check):
        with rec.span(f"{self.name}/build", jobs="build", metric="registry.build_s"):
            df = QUERIES[self.name].fn(ctx.spark, ctx.sf_dir)
        out = _execute(df, self.name, rec, check)
        if check:
            cols, rows = out
            ctx.results[self.name] = (cols, rows)
            oracle = ctx.oracle(self.name)
            if oracle is None:
                if not rows:
                    raise CheckFailed(f"{self.name}: no rows and no oracle")
            else:
                rel = ctx.duck.sql(oracle)
                if sorted(cols) != sorted(rel.columns) or canon(cols, rows) != canon(
                    rel.columns, rel.fetchall()
                ):
                    raise CheckFailed(f"{self.name}: differs from its DuckDB oracle")
            return result_hash(cols, rows)
        return None


def _dice_counter(records, pairs):
    """The example job's map fn, counting records in and pairs out
    through accumulators. A closure, so it is pickled by value."""

    def map_fn(row):
        out = dice_map_fn(row)
        records.add(1)
        pairs.add(len(out))
        return out

    return map_fn


class CompatDice:
    """The paper's dice job through ``compat.job.MapReduceJob``: the
    example map and reduce fns over ``rows`` rolls, either seeded
    random rolls (``source="rolls"``) or the ``gimme_dice`` pull
    connector read in batch (``source="pull"``)."""

    def __init__(self, name, rows, source="rolls", ordered=False, check_only=False):
        self.name, self.rows, self.source = name, rows, source
        self.ordered, self.check_only = ordered, check_only

    def _source(self, ctx, rec):
        if self.source == "rolls":
            return range_source(self.rows, seed=ctx.seed)
        opts = {"rows": self.rows, "chunk": PULL_CHUNK}

        def load(spark):
            with rec.span(f"{self.name}/read", metric="sources.pull_s"):
                register_pull_source(spark)
                df = spark.read.format("gimme_dice").options(**opts).load()
            rec.add("sources.pulls", len(GimmeDiceReader(opts).partitions()))
            return df

        return load

    def run(self, ctx, rec, check):
        source = self._source(ctx, rec)
        job = MapReduceJob(
            source,
            _dice_counter(ctx.records, ctx.pairs),
            dice_reduce_fn,
            zero=0,
            merge_fn=operator.add,
            group_on="value",
            ordered=self.ordered,
        )
        records, pairs = ctx.records.value, ctx.pairs.value
        with rec.span(f"{self.name}/run", jobs="compat", metric="compat.run_s"):
            result = job.run(ctx.spark)
        rec.add("compat.map_pairs", ctx.pairs.value - pairs)
        rec.add("pyhop.rows", ctx.records.value - records)
        if not check:
            return None
        win, lose = result.get("Win", 0), result.get("Lose", 0)
        if win + lose != self.rows:
            raise CheckFailed(f"{self.name}: Win + Lose = {win + lose}, rows = {self.rows}")
        if self.source == "rolls":
            want = source(ctx.spark).where(F.col("roll") == 3).count()
        else:
            want = wins_of(self.rows)
        if win != want:
            raise CheckFailed(f"{self.name}: Win = {win}, expected {want}")
        ctx.wins[self.name] = win
        return result_hash(["outcome", "n"], sorted(result.items()))


class PullStream:
    """A stream read through the ``gimme_dice`` connector and driven
    to completion by ``streaming.loader.run_to_completion``: one
    trigger per pull of ``chunk`` rows. It must equal its batch twin,
    the same connector read with ``spark.read``."""

    check_only = False

    def __init__(self, name, rows, chunk):
        self.name, self.rows, self.chunk = name, rows, chunk

    def _outcome(self, df):
        outcome = F.when(F.col("roll") == 3, "Win").otherwise("Lose")
        return df.groupBy(outcome.alias("outcome")).agg(F.count(F.lit(1)).alias("n"))

    def run(self, ctx, rec, check):
        opts = {"rows": self.rows, "chunk": self.chunk}
        spark = ctx.spark
        with rec.span(f"{self.name}/read", metric="sources.pull_s"):
            register_pull_source(spark)
            src = spark.readStream.format("gimme_dice").options(**opts).load()
        rec.add("sources.pulls", math.ceil(self.rows / self.chunk))
        with rec.span(f"{self.name}/stream", jobs="build", metric="streaming.run_s"):
            table = run_to_completion(self._outcome(src), f"{self.name}_out")
        out = _execute(table, self.name, rec, check)
        if not check:
            return None
        cols, rows = out
        twin = self._outcome(spark.read.format("gimme_dice").options(**opts).load())
        if canon(cols, rows) != canon(twin.columns, [tuple(r) for r in twin.collect()]):
            raise CheckFailed(f"{self.name}: stream differs from its batch twin")
        if dict(rows).get("Win") != wins_of(self.rows):
            raise CheckFailed(f"{self.name}: Win = {dict(rows).get('Win')}")
        return result_hash(cols, rows)


def _same_wins(ctx):
    """The dice paths that read the same input agree on Win."""
    compat = ctx.wins.get("compat_pull")
    rows = ctx.results.get("q40_dice_pull_source")
    if compat is not None and rows is not None:
        q40 = dict(rows[1]).get("Win")
        if compat != q40:
            raise CheckFailed(f"compat_pull Win {compat} != q40 Win {q40}")


# Why each workload exists is in BENCHMARK.json; the layers each one
# should move are in perfbench/README.md.
WORKLOADS = {
    "dice_pull": [
        CompatDice("compat_unordered", 300_000),
        CompatDice("compat_ordered", 50_000, ordered=True),
        CompatDice("compat_pull", PULL_ROWS, source="pull", check_only=True),
        Registered("q27_dice_frequency"),
        Registered("q40_dice_pull_source"),
        PullStream("pull_stream", 16_384, 8_192),
    ],
    "relational_dedup": [
        Registered("q58_merge_upsert_lifecycle"),
        Registered("t22_winnow_containment_pairs"),
        Registered("s06_knn_join"),
    ],
}

# checks across steps, run after the check pass
CROSS_CHECKS = {"dice_pull": [_same_wins]}


class Shape(NamedTuple):
    """How a run of a workload is laid out after its check pass:
    ``warmup`` untimed passes, then timed passes sized by
    ``pass_s``, the seconds of one warm pass on a 4-CPU machine."""

    warmup: int
    pass_s: float

    def timed_passes(self, seconds: float) -> int:
        """Timed passes of a run of ``seconds``: at least two, so that
        a traced run has one untraced and one traced pass."""
        return max(2, round(seconds / self.pass_s))


# The dice steps run at full speed from their first warm pass; the
# relational steps keep getting faster for a few passes as the JVM
# compiles their code paths, so their timed passes start later.
SHAPES = {
    "dice_pull": Shape(warmup=0, pass_s=9.0),
    "relational_dedup": Shape(warmup=1, pass_s=7.0),
}
