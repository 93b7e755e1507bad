"""Physical-plan inspection helpers.

The scale contract of each operator ("one shuffle", "filter pushed to
the scan", "UDFs fused into one Arrow node") is asserted in tests with
these helpers rather than hoped for — plan regressions fail CI instead
of surfacing as 2x shuffles at 100 TB. See PLANS.md for the audited
merge plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (what ``df.explain(mode)`` prints).

    Prefers the JVM fast path, but degrades to capturing
    ``df.explain(mode)`` stdout so the plan helpers keep working under
    Spark Connect / across PySpark internal-API drift.
    """
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), mode)
    except Exception:
        import contextlib
        import io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode=mode)
        return buf.getvalue()


def own_plan(df: DataFrame) -> str:
    """The frame's physical plan (``simple`` mode) without the plans of
    the caches it reads: an ``InMemoryRelation`` prints the plan that
    filled its cache, shuffles included, at every reference."""
    lines, cache_depth = [], None
    for line in explain_str(df, "simple").splitlines():
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        if cache_depth is not None and depth > cache_depth:
            continue
        cache_depth = depth if node.startswith("InMemoryRelation") else None
        lines.append(line)
    return "\n".join(lines)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes the frame itself runs (excludes
    reused exchanges, AQE shuffle-read wrappers and the shuffles inside
    a cached relation's plan)."""
    return len(re.findall(r"\bExchange (?:hash|range|single|rebalance)",
                          own_plan(df), flags=re.IGNORECASE))


def pushed_filters(df: DataFrame) -> list[str]:
    """All parquet/DSv2 pushed-filter lists found in the plan."""
    plan = explain_str(df, "formatted")
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def python_eval_nodes(df: DataFrame) -> int:
    """Count of ArrowEvalPython / BatchEvalPython nodes — adjacent
    vectorized UDFs should fuse into ONE Arrow node (one JVM↔python
    round trip per batch)."""
    plan = explain_str(df, "simple")
    return len(re.findall(r"(?:Arrow|Batch)EvalPython", plan))


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans — wider/fewer is better."""
    plan = explain_str(df, "simple")
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))


def has_window_group_limit(df: DataFrame) -> bool:
    """True if the rank<=k filter was pushed into a WindowGroupLimit
    (top-k pruning before full window evaluation)."""
    return "WindowGroupLimit" in explain_str(df, "simple")
