"""Vector math over ``array<float>`` embedding columns.

Expression-based (JVM, codegen'd — preferred for joins/aggregations that
Catalyst should see through) with float64 accumulation, matching the
DuckDB oracle's ``list_cosine_similarity`` to ~1e-15; results are rounded
to 6 decimals before any ranking/thresholding so both engines make
identical cut decisions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def l2_norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        )
    )


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_rounded(a: str, b: str, digits: int = 6) -> Column:
    return F.round(cosine(a, b), digits)


# --------------------------------------------------------------------------
# scalar int8 quantization (the memory-bandwidth lever for ANN at scale:
# 4 bytes/dim -> 1 byte/dim; IVF/LSH shortlists scan quantized codes and
# only the final rerank touches full-precision vectors)
# --------------------------------------------------------------------------


def maxabs_scale(vec: str) -> str:
    """SQL expression for the per-vector max-abs quantization scale
    s = max(max(|v|), 1e-30). Interpreted HOFs don't get common-subexpression
    elimination, so callers that need the scale in more than one place
    should project it ONCE (``withColumn``) and pass the column name to
    :func:`quantize_int8` / :func:`dequant_mse` via ``scale=`` — inlining
    it re-runs this O(dim) fold per *element*, turning the audit O(dim^2)."""
    return (
        f"greatest(aggregate({vec}, cast(0.0 as double),"
        f" (m, y) -> greatest(m, abs(cast(y as double)))), cast(1e-30 as double))"
    )


def quantize_int8(vec: str, scale: str | None = None) -> Column:
    """Per-vector max-abs scalar quantization: q_i = round(v_i / s * 127)
    with s = max(|v|). Symmetric, zero maps to zero, codes in [-127, 127].
    All expression-level (transform + aggregate) — map-side, codegen-free
    but embarrassingly parallel, no shuffle. Pass ``scale`` (a column name
    or SQL expression for the precomputed scale) to avoid re-deriving s
    inside the per-element lambda."""
    s = scale if scale is not None else maxabs_scale(vec)
    return F.expr(
        f"transform({vec}, x -> cast(round(cast(x as double) / ({s}) * 127) as int))"
    )


def dequant_mse(vec: str, digits: int = 6, scale: str | None = None) -> Column:
    """Round-trip reconstruction MSE of :func:`quantize_int8`, computed
    without materializing the codes twice: mean((v - q*s/127)^2). Like
    :func:`quantize_int8`, pass a precomputed ``scale`` to keep the fold
    O(dim) instead of O(dim^2)."""
    s = scale if scale is not None else maxabs_scale(vec)
    return F.round(
        F.expr(
            f"""aggregate({vec}, cast(0.0 as double),
                  (acc, x) -> acc + pow(cast(x as double)
                      - round(cast(x as double) / ({s}) * 127)
                        * ({s}) / 127, 2))
                / greatest(size({vec}), 1)"""
        ),
        digits,
    )


def sql_quant_audit(vec: str, digits: int = 6) -> dict[str, str]:
    """DuckDB mirrors of the quantization audit columns (same arithmetic,
    same rounding) keyed by output column name."""
    scale = (
        f"GREATEST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform({vec}, y -> ABS(CAST(y AS DOUBLE)))),"
        f" (m, y) -> GREATEST(m, y)), CAST(1e-30 AS DOUBLE))"
    )
    mse = (
        f"ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform({vec}, x -> POW(CAST(x AS DOUBLE)"
        f" - ROUND(CAST(x AS DOUBLE) / ({scale}) * 127)"
        f" * ({scale}) / 127, 2))), (acc, x) -> acc + x)"
        f" / GREATEST(len({vec}), 1), {digits})"
    )
    return {
        "scale": f"ROUND({scale}, {digits})",
        "mse": mse,
        "max_code": (
            f"CAST(list_reduce(list_prepend(CAST(0 AS INT),"
            f" list_transform({vec}, x -> CAST(ABS(ROUND(CAST(x AS DOUBLE)"
            f" / ({scale}) * 127)) AS INT))), (m, x) -> GREATEST(m, x)) AS INT)"
        ),
    }
