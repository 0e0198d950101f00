"""Physical-plan capture hook for EAGER code paths.

The battery-wide plan lint (tests/test_plan_lint.py) reads each lazy
entry's formatted plan before any action runs.  Eager entries — the plan
pipelines (p-family), streaming drains (v-family), and the custom-sink
write (u07) — execute their real work at build time, so linting their
*returned* frame would miss the executed pipelines.  This module is the
bridge: action sites in runtime.py / streaming/events.py / the u07 entry
call ``note(label, df)`` (or ``note_text`` with a renderer for a
streaming execution plan) immediately before/after their action, and the
lint wraps the entry in ``capture()`` to receive every executed plan.

Zero overhead when no capture is active: ``note`` and ``note_text`` are
a None-check, and neither renders a plan outside ``capture()``.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable

#: Active sink for (label, formatted_plan) pairs, or None outside capture().
_SINK: list[tuple[str, str]] | None = None


@contextlib.contextmanager
def capture():
    """Collect every noted plan executed inside the block."""
    global _SINK
    prev = _SINK
    _SINK = []
    try:
        yield _SINK
    finally:
        _SINK = prev


def note(label: str, df) -> None:
    """Record ``df``'s formatted physical plan under ``label`` (no-op
    outside capture())."""
    if _SINK is None:
        return
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    _SINK.append((label, plan))


def note_text(label: str, render: Callable[[], str]) -> None:
    """Record the plan string ``render()`` returns (streaming executions
    expose their last micro-batch plan as text, not as a DataFrame).
    ``render`` runs only inside capture(): rendering a stream plan costs
    a JVM explain per drain."""
    if _SINK is None:
        return
    _SINK.append((label, render()))
