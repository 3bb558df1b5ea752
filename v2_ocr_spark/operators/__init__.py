"""DataFrame operators: extraction, assembly, relational surface,
dedup, similarity, text analysis, multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialized(df: DataFrame) -> DataFrame:
    """persist + count: the one way an eager operator materializes a
    result or intermediate. If the count fails, the persist is released
    before the error propagates — a failed materialization must not
    leave a cached copy that no caller ever sees."""
    out = df.persist()
    try:
        out.count()
    except BaseException:
        out.unpersist()
        raise
    return out
