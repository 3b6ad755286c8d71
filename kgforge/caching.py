"""Plan and size helpers shared by the operators: the pushdown guard
(``no_pushdown``), the bounded size gate (``fits``) behind the
driver-or-distributed decisions, driver rows as a local relation
(``local_strings``) and per-round lineage truncation
(``truncate_lineage``).

No module keeps a cached DataFrame between calls. A derived table that
feeds several actions of one call is a ``localCheckpoint`` owned by that
call (its blocks go with the frame); inputs that are already leaves (a
pipeline stage) are read as they are.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def no_pushdown(cond: Column) -> Column:
    """OR an always-false non-deterministic guard onto a filter predicate so
    Catalyst cannot push it below the projection/exchange that computes the
    predicate's inputs. Needed when the predicate references an EXPENSIVE
    derived column (``from_json``, a regex chain): the pushed copy re-derives
    the expression below the fan-out exchange — i.e. on the unsplittable
    single-row-group scan side, in ONE task, for every row (measured: the
    wikidata 10x entity parse ran twice, once single-threaded — 44 s → 22 s
    after guarding; the engine namespace gate likewise). The guard must be an
    OR-ed always-FALSE arm: an AND-ed always-true arm is split off and the
    deterministic conjunct pushed anyway, and ``rand() < -1`` is constant-
    folded by Spark 4 (rand's range is known). ``monotonically_increasing_id()
    < -1`` ≡ false (ids are non-negative), is non-deterministic (never
    pushed/reordered) and is not folded, so results are unchanged and task
    retries are safe (the arm is false on every draw).

    Rule: wrap only predicates over DERIVED, non-scan columns. The guard
    disables pruning — a wrapped predicate over a scan column never reaches
    the scan, so partition pruning and pushed row-group filters are lost.
    Keep cheap scan-column predicates in a separate, unwrapped ``filter`` so
    they still reach the scan.
    tests/test_plan_shape.py pins that the guard survives the optimizer."""
    return cond | (F.monotonically_increasing_id() < F.lit(-1))


def fits(df: DataFrame, cap: int) -> bool:
    """True when ``df`` has at most ``cap`` rows. The probe stops counting at
    ``cap + 1`` rows, so its cost is bounded by the cap, not by ``df``. A
    ``cap`` of 0 or less never fits and runs no job: tests pass 0 to force
    the distributed (or shuffle) path on small fixtures."""
    return cap > 0 and df.limit(cap + 1).count() <= cap


def local_strings(spark, names: tuple[str, ...], rows) -> DataFrame:
    """A table of string columns ``names`` from driver-side ``rows``, made
    through Arrow so that it is a local relation: plans read it (collect,
    broadcast) without a Spark job, where ``createDataFrame`` of a list
    parallelizes an RDD that costs one."""
    cols = list(zip(*rows)) or [()] * len(names)
    return spark.createDataFrame(pa.table([pa.array(c, pa.string()) for c in cols], names=list(names)))


_REGISTERED_CKPT_DIR: list = []  # first checkpoint dir registered on the context


def truncate_lineage(df: DataFrame, *, eager: bool, checkpoint_dir: str | None = None) -> DataFrame:
    """Per-round lineage truncation for iterative operators.

    ``checkpoint_dir=None`` → ``localCheckpoint``: fastest, but blocks live
    in executor storage — on a real cluster an executor loss kills the job
    instead of recomputing (fine on local[*], the default here). With a
    ``checkpoint_dir`` (HDFS/S3 path on a cluster) the truncation goes
    through a RELIABLE ``checkpoint()`` so iterative jobs survive executor
    loss; the dir is registered on the SparkContext on first use."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(checkpoint_dir)
        _REGISTERED_CKPT_DIR.append(checkpoint_dir)
    elif _REGISTERED_CKPT_DIR and _REGISTERED_CKPT_DIR[0] != checkpoint_dir:
        import warnings

        warnings.warn(
            f"truncate_lineage: checkpoint_dir {checkpoint_dir!r} differs from the "
            f"SparkContext's already-registered {_REGISTERED_CKPT_DIR[0]!r}; "
            f"checkpoints will land under the registered dir (ADVICE r5: one "
            f"checkpoint dir per SparkContext — set it before the first iterative "
            f"job)"
        )
    return df.checkpoint(eager=eager)
