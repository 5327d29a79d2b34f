"""The one place that cuts lineage, and the profile record of what it built.

Every eager checkpoint in the library goes through ``materialize``, so each
build job carries a Spark job description naming its call site, and a tool
can time and audit every build of a query inside ``profile(name)`` without
patching Spark's DataFrame class.
"""

from __future__ import annotations

import contextlib
import sys
import time
from contextvars import ContextVar
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_DESCRIPTION = "spark.job.description"


@dataclass
class Profile:
    """Builds of one named unit of work: ``(site, seconds, frame)`` per
    ``materialize`` call, where ``frame`` is the frame before the cut."""

    name: str
    builds: list[tuple[str, float, DataFrame]] = field(default_factory=list)


_active: ContextVar[Profile | None] = ContextVar("obs_profile", default=None)


def materialize(df: DataFrame, durable: bool = False) -> DataFrame:
    """Build ``df`` now and return a frame whose plan is a scan of the result.

    Use it where a subtree is consumed more than once, or where a plan must
    stop reading a path before that path is overwritten or appended to. An
    eager ``localCheckpoint`` is the rule, never ``persist()``: a lazy cache
    is populated racily when both consumers run in one job (both recompute
    the subtree), and a cached plan is re-executed against a mutated path.
    ``durable=True`` uses the reliable ``checkpoint()`` into the context's
    checkpoint dir instead, which survives executor loss.

    The build job's description is ``<profile>/<module.function>`` of the
    caller (just the site outside a profile); the previous description is
    restored afterwards, even when the build fails.
    """
    caller = sys._getframe(1)
    site = "{}.{}".format(
        caller.f_globals.get("__name__", "?").rsplit(".", 1)[-1],
        caller.f_code.co_name,
    )
    rec = _active.get()
    sc = df.sparkSession.sparkContext
    previous = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, f"{rec.name}/{site}" if rec else site)
    t0 = time.perf_counter()
    try:
        out = df.checkpoint(eager=True) if durable else df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty(_DESCRIPTION, previous)
    if rec is not None:
        rec.builds.append((site, time.perf_counter() - t0, df))
    return out


@contextlib.contextmanager
def profile(name: str):
    """Record every ``materialize`` in this context (this thread) into the
    yielded ``Profile``; nested profiles record into the innermost."""
    rec = Profile(name)
    token = _active.set(rec)
    try:
        yield rec
    finally:
        _active.reset(token)
