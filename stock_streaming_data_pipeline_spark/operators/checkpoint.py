"""The engine's one way to materialize an intermediate DataFrame.

Every operator that reuses a frame or cuts a loop's lineage calls
:func:`materialize`, or :func:`truncate_lineage`, which builds on it;
``tests/test_materialize_guard.py`` fails on a direct
``localCheckpoint``/``checkpoint`` call anywhere else in the package.

Policy:

- A master whose executors run inside the driver JVM (``local``,
  ``local[N]``, ``local[*]``, ``local[N,F]``) gets
  ``Dataset.localCheckpoint``: its blocks can only be lost together with
  the session.
- Every other master (``local-cluster[...]``, ``spark://``, YARN,
  Kubernetes) gets the reliable ``Dataset.checkpoint``, because a lost
  executor takes its localCheckpoint blocks with it and they cannot be
  recomputed. Spark raises unless ``spark.checkpoint.dir`` is set; set
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` with it so
  the files go with the frame. An eager reliable checkpoint writes in
  one job, like an eager local one; a lazy one adds a job after the
  first action that recomputes the frame (from its last shuffle output,
  if any) to write it.
- Neither branch touches the session's CacheManager, which a long-lived
  driver session may never clear. The one ``persist()`` in the package
  (the rotated subvectors in ``similarity.opq_train``) stays: its
  ``unpersist()`` follows, in the same call, the action that consumed
  it.
- Only a frame consumed more than once, or carried through a loop, is
  materialized; for a single consumer outside any loop it would buy one
  job and nothing else.
- ``eager=False`` lets the frame's first action store it, for a caller
  whose next action reads it anyway; ``eager=True`` stores it now.

Lineage truncation for iterative loops that self-join their own
checkpoints:

``Dataset.localCheckpoint`` in Spark 4.1 stores the checkpointed rows but
keeps a LAZY stats/constraints rewrite referencing the origin plan
(``LogicalRDD$.rewriteStatsAndConstraints``, ExistingRDD.scala — observed
live in a jstack of the stuck driver). In an iterative loop whose body
SELF-JOINS the previous iteration's checkpoint (pointer jumping,
label propagation), forcing those stats walks the whole checkpoint
chain, and the self-join's deduplicated clone re-copies the unforced
thunk — so the walk doubles per generation. Measured on this host: a
50-row self-join + localCheckpoint loop runs ~0.2 s/iteration flat
until ~iteration 18, then grows ~2.5x per iteration (132 s by
iteration 25) with CONSTANT job, task, and partition counts — pure
driver-side planning time, while fresh unrelated jobs stay at 0.1 s.
Joining a STATIC relation instead stays flat for 40+ iterations
(single shared stats instance, forced once), which is why the repo's
bounded-round operators (connected components, PageRank) never hit
this. Disabling constraint propagation does not help; there is no
stats off-switch for the default SizeInBytesOnlyStatsPlanVisitor.

:func:`truncate_lineage` breaks the chain: it re-wraps the query's
execution RDD (``queryExecution.toRdd``) in a fresh LogicalRDD with NO
origin reference (``SparkSession.internalCreateDataFrame`` — a
``private[sql]`` API, public in bytecode, stable across Spark 3.x/4.x;
guarded by a fallback to the plain materialized frame should it move).
The re-verified loop runs 40 self-join iterations flat at ~0.2 s.
Cost of losing origin stats: the planner sees default sizeInBytes, so
tiny relations are not broadcast at PLAN time — AQE re-plans the join
from actual shuffle sizes at runtime, which these iterative loops rely
on anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from stock_streaming_data_pipeline_spark.session import _executors_in_driver


def materialize(df: DataFrame, *, eager: bool) -> DataFrame:
    """Store ``df``'s rows and return a frame that reads them back, with
    the lineage cut at this point (see the module doc for the policy)."""
    master = df.sparkSession.conf.get("spark.master", "")
    if _executors_in_driver(master):
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def truncate_lineage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and return a DataFrame whose plan is a bare
    LogicalRDD with no origin-plan reference (see module doc).

    With ``eager=False`` the checkpoint RDD is only marked; the first
    action over the returned frame materializes it — use when the
    caller's next action (a convergence ``count()``) should ride the
    same job.

    Implementation note: the raw ``queryExecution.toRdd()`` iterator
    REUSES UnsafeRow buffers, so wrapping it directly would alias every
    stored row in a partition to the last one. ``Dataset.localCheckpoint``
    and ``Dataset.checkpoint`` insert the required per-row copy before
    storage — so we let :func:`materialize` do the copy + store, then
    discard its Dataset (whose LogicalRDD holds the problematic
    origin-stats thunk) and re-wrap the materialized checkpoint RDD in a
    bare LogicalRDD.
    """
    spark = df.sparkSession
    ck = materialize(df, eager=eager)
    try:
        qe = ck._jdf.queryExecution()
        out = DataFrame(
            spark._jsparkSession.internalCreateDataFrame(
                qe.toRdd(), qe.analyzed().schema(), False
            ),
            spark,
        )
    except Exception:  # pragma: no cover - internal API moved
        out = ck
    return out
