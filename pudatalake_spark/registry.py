"""Query registry: the SURVEY §2 inventory as named builders.

Every operator module registers its queries here with an optional
DuckDB oracle SQL string. ``__spark_entry__`` exposes the dicts to
the driver; tests iterate the same dicts (one source of truth).

Determinism rules enforced by convention (SURVEY §5.2):
- every query is a pure function of (spark, sf_dir);
- floating AGGREGATES are rounded (4-6 dp) in BOTH engine and oracle;
  per-row arithmetic is NOT rounded (bit-identical IEEE on both sides);
- ties at LIMIT/top-k boundaries broken by a unique key;
- no rand(), no nondeterministic dropDuplicates, seeded hashes only.
"""

from __future__ import annotations

import contextlib
import functools
from collections.abc import Callable, Iterator
from typing import Any

QUERIES: dict[str, Callable[[Any, str], Any]] = {}
ORACLES: dict[str, str] = {}

# One process-wide list, not thread-local: foreachBatch callbacks run
# on py4j threads.
_HELD: list[Any] = []

_LOADED = False


def register(name: str, oracle: str | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder.

    ``QUERIES[name]`` calls ``release()`` before the builder, so each
    registered build frees what the previous one persisted or
    checkpointed. The decorator returns the builder itself: a builder
    that calls another by name nests inside one build and releases
    nothing."""

    def deco(fn):
        fn.query_name = name

        @functools.wraps(fn)
        def build(spark, sf_dir):
            release()
            return fn(spark, sf_dir)

        QUERIES[name] = build
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so its registrations run."""
    global _LOADED
    if _LOADED:
        return
    # Imports are side-effecting (decorators fill QUERIES/ORACLES).
    from .operators import aggregates, analytics, graph, joins, lake, relational, setops, sorts, stats, tpch, windows  # noqa: F401
    from .functions import scalar  # noqa: F401
    from .sources import ingest, sinks  # noqa: F401
    from .streaming import batch_windows, streams  # noqa: F401
    from .llmops import dedup, multimodal, pipeline, similarity, text, udfs  # noqa: F401

    _LOADED = True


def hold(item: Any) -> None:
    """Record an intermediate of the running build or scope: a frame
    ``loaders.cached`` persisted, or the ``(SparkContext, rdd id)`` of
    a frame ``session.superstep_checkpoint`` checkpointed. An id, not
    the frame, so superseded supersteps stay collectable."""
    _HELD.append(item)


def release(mark: int = 0) -> None:
    """Free the intermediates recorded past ``mark``, newest first, and
    forget them; a bare ``release()`` frees all of them.

    ``QUERIES[key]`` calls it before each build, so a frame a builder
    returns is valid until the next registered build starts: after
    that, a frame that relied on ``cached()`` recomputes, and one that
    relied on a local checkpoint fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. Intermediates of a stopped
    SparkContext went with it and are skipped."""
    held = _HELD[mark:]
    del _HELD[mark : mark + len(held)]
    # Newest first: a frame cached over another cached frame is dropped
    # before its input, so Spark has no dependent cache to re-plan.
    for item in reversed(held):
        if isinstance(item, tuple):
            sc, rdd_id = item
            if sc._jsc is not None:
                rdd = sc._jsc.getPersistentRDDs().get(rdd_id)
                if rdd is not None:
                    rdd.unpersist(False)
        elif item.sparkSession.sparkContext._jsc is not None:
            item.unpersist()


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Free, on exit (also by exception), what the body recorded.

    For intermediates a build is done with before it returns: a
    foreachBatch body's, or a phase's whose frames are written out.
    Relies on the body running to its end before other code records:
    one query's foreachBatch calls run one at a time, while the builder
    blocks in ``awaitTermination``."""
    mark = len(_HELD)
    try:
        yield
    finally:
        release(mark)


def queries() -> dict[str, Callable[[Any, str], Any]]:
    load_all()
    return dict(QUERIES)


def oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)
