"""Shared readers of physical-plan text for the plan tests."""

from __future__ import annotations

import re


def n_partitionless(plan: str) -> int:
    """Count window specs with no partitionBy in executed-plan text.

    A windowspecdefinition lists partition columns first (bare attributes),
    then ordering columns (``attr ASC/DESC ...``), then the frame. So a spec
    whose FIRST argument carries a sort direction has no partitionBy, and
    an ORDER-less empty-partition spec (e.g.
    ``F.sum(x).over(Window.partitionBy())``, VERDICT r9 item 3) starts with
    the frame itself (``specifiedwindowframe(...)``). Either runs on a
    single partition.
    """
    return sum(
        1
        for m in re.finditer(r"windowspecdefinition\(([^,]+),", plan)
        if " ASC" in m.group(1)
        or " DESC" in m.group(1)
        or m.group(1).startswith("specifiedwindowframe(")
    )
