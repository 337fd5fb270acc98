"""Scalar/array functions that need Python (Arrow-batched, never per-row
Python UDFs) — the reference's string algorithms that aren't relational.

- hmac_sha256_hex: webhook payload signing (reference
  call_to_webhook.py:90-100)
"""

from __future__ import annotations

import hmac
import hashlib
from typing import Iterator

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# pure functions (unit-testable, shared with any oracle)
# ---------------------------------------------------------------------------


def hmac_sha256_hex(key: bytes, payload: bytes) -> str:
    return hmac.new(key, payload, hashlib.sha256).hexdigest()


# ---------------------------------------------------------------------------
# Spark wrappers: mapInPandas (Arrow batches)
# ---------------------------------------------------------------------------


def with_hmac_signature(df: DataFrame, key: bytes, payload_col: str) -> DataFrame:
    """Append ``signature string`` = HMAC-SHA256 hex of the payload
    column (reference webhook signing). Key is closed over (small) —
    fine to re-pickle per task."""
    in_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def fn(batch_iter: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        for pdf in batch_iter:
            pdf = pdf.copy()
            pdf["signature"] = [
                hmac_sha256_hex(key, (p or "").encode("utf-8"))
                for p in pdf[payload_col]
            ]
            yield pdf

    return df.mapInPandas(fn, schema=f"{in_ddl}, signature string")
