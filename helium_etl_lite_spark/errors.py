"""Shared Spark error classification.

One place that answers "did this read fail because the path does not
exist yet?" — the benign first-write case that a plain-parquet writer
(etl/pipeline.py write_block_range_idempotent, the rollup's store) may
treat as empty, while every OTHER failure (corrupt footer, permission,
IO) must raise. Spark's message text is version/locale-dependent (r7
ADVICE), so the error class leads. Snapshot stores need no such
check: their readers go by the manifest.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException


def is_path_not_found(exc: BaseException) -> bool:
    """True iff ``exc`` is Spark's missing-input-path error.

    The stable error class leads (``getCondition()`` is the Spark 4
    name, ``getErrorClass()`` its pre-4 alias); the historical message
    substrings are only a fallback for exceptions that carry no error
    class (older Sparks, hand-constructed AnalysisExceptions).  A
    present-but-different class is authoritative: it returns False even
    if the message text happens to contain the words.
    """
    if isinstance(exc, AnalysisException):
        for getter in ("getCondition", "getErrorClass"):
            fn = getattr(exc, getter, None)
            if fn is None:
                continue
            try:
                cond = fn()
            except Exception:  # pragma: no cover - defensive, API drift
                cond = None
            if cond:
                return cond == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)
