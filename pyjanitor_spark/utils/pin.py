"""The pin policy: ``pin`` is the one place the library materialises a
reused intermediate; ``share`` is the one "pin unless replay-stable"
decision, taken by every verb that reads its input in more than one
branch (a whole-column statistic attached to the rows, a running sum
joined back, a dedup keep-set); and ``probe`` (``share`` plus one
``collect``) is the one way a verb reads data before it can plan.  ``partitioned_cumsum`` instead pins the output of
its own range exchange when its two branches cannot share one
execution of it (see its docstring).

A verb call runs no Spark job unless its docstring names the action.
``share`` is lazy except on a frame it pins: under adaptive query
execution (the default) that pin runs the upstream's shuffle and
broadcast stages as Spark jobs when it is taken (see ``pin``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Row

__all__ = ["pin", "probe", "share"]


def pin(df: DataFrame) -> DataFrame:
    """Materialise ``df`` once and return the frame that reads it (a
    ``LogicalRDD`` leaf in every downstream plan).

    The pin is requested lazily (``eager=False``), but that does NOT
    make the call free: Spark executes ``df``'s physical plan to build
    the pinned RDD, and with adaptive query execution on
    (``spark.sql.adaptive.enabled``, the default) that runs every
    shuffle and broadcast stage of the upstream as Spark jobs at call
    time.  The final stage's rows are stored in executor block storage
    (``localCheckpoint``) by the first action that reads the result,
    each partition computed once, so every later reader sees the same
    rows even when the upstream is nondeterministic.  An exchange-free
    upstream runs no job here.  Nothing is stored until that first
    action; in ``probe`` it is the probe's ``collect``.

    Durability is the deployment's choice, not the caller's: when
    ``SparkContext.setCheckpointDir`` (or ``spark.checkpoint.dir``) is
    set, a reliable ``checkpoint`` is layered on the local one.  After
    the first action that reads the pin finishes, Spark writes the
    stored blocks to the checkpoint dir with one more job (it reads the
    blocks and does not recompute ``df``), and from then on the pin
    survives executor loss.  Spark deletes those files only when the
    pinned frame is garbage-collected AND
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is true (it is
    false by default), so a long-lived session that pins repeatedly
    should set it or clear the dir itself.  Without a checkpoint dir, a
    later query that needs a block from a lost executor fails."""
    local = df.localCheckpoint(eager=False)
    if df.sparkSession.sparkContext.getCheckpointDir():
        return local.checkpoint(eager=False)
    return local


def share(df: DataFrame) -> DataFrame:
    """The frame a verb that reads ``df`` more than once builds from:
    ``df`` itself when ``_plan_is_deterministic(df)`` holds (narrow and
    deterministic: every re-read replays the same rows), else
    ``pin(df)``, so every read sees one run of the upstream.

    A replay-stable ``df`` runs no job.  A pinned one runs, when
    ``share`` is called, the upstream's shuffle and broadcast stages
    (adaptive query execution materialises them, see ``pin``); the
    first action that reads the result stores its rows."""
    return df if _plan_is_deterministic(df) else pin(df)


def probe(
    df: DataFrame, query: Callable[[DataFrame], DataFrame]
) -> tuple[DataFrame, list[Row]]:
    """Run a verb's pre-flight query and hand back the frame to build
    the output from, so the probe and the output share ONE run of the
    upstream.  Returns ``(frame, rows)``: ``frame`` is ``share(df)``
    and ``rows`` is ``query(frame).collect()``, the helper's one
    action.

    On a pinned frame the call runs the pin's upstream shuffle and
    broadcast stages (see ``share``), then the query's jobs, which also
    store the pinned rows; the caller's output later reads those stored
    rows instead of recomputing the upstream.  Keep ``query`` small (an
    aggregate, a ``distinct`` of a few columns or a ``limit``): its
    rows come to the driver."""
    frame = share(df)
    return frame, query(frame).collect()


# Analyzed-plan node names that can NEVER have an Exchange inserted
# beneath their physical translation: leaf scans plus narrow (partition-
# preserving) operators.  Everything else — Aggregate, Join (broadcast
# included: BroadcastExchange also diverges between separately re-executed
# branch reads), Window, Sort, Repartition, Deduplicate, limits — is
# absent, so it fails closed to the pin.
_SAFE_NODES = frozenset({
    "Project", "Filter", "Generate", "Union", "SubqueryAlias", "View",
    "LogicalRelation", "Relation", "LogicalRDD", "LocalRelation",
    "DataSourceV2Relation", "DataSourceV2ScanRelation", "Range", "Sample",
})


def _plan_is_deterministic(df: DataFrame) -> bool:
    """True only for provably replay-stable plans, decided entirely on
    the ANALYZED logical tree (one walk, no optimizer or physical
    planning, whose driver latency per call is measurable):

    * every node's name is in ``_SAFE_NODES`` — leaf scans and narrow
      operators only.  Narrow-only analyzed trees translate to
      exchange-free physical plans (no node introduces a distribution
      requirement), which is load-bearing even with all expressions
      deterministic: the branch reads of a shared frame (e.g. in
      ``positional_index``) are separately column-pruned subtrees, so
      exchange reuse is not guaranteed, and AQE may coalesce each
      branch's re-executed shuffle into a different partition count
      (pruned byte sizes differ) — diverging ``__pid`` assignments
      between the branches.  The node check runs first and
      short-circuits, so the common pin-needed inputs (anything with
      an Aggregate/Join/Window on top) cost two py4j calls, not a
      planner run.
    * every expression in every node reports
      ``Expression.deterministic`` (walked via the JVM tree, so
      nondeterministic Python UDFs marked ``.asNondeterministic()``,
      ``rand``/``uuid``/``monotonically_increasing_id``, etc. are all
      covered — no string matching).

    Anything unprovable (py4j failure, unseen node name) returns
    False — the pin is the safe side."""
    try:
        qe = df._jdf.queryExecution()
        stack = [qe.analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() not in _SAFE_NODES:
                return False
            exprs = node.expressions()
            for i in range(exprs.size()):
                if not exprs.apply(i).deterministic():
                    return False
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return True
    except Exception:
        return False
