"""Exact fixed-point base-2 logarithm for cross-engine scoring.

log2 is transcendental, so operators that need log probabilities
(query likelihood, entropy, NDCG discounts) score in **lg-fxp
units** — floor(65536 · log2(x)) computed EXACTLY
by integer arithmetic: n = floor(log2 x) from the binary-string
length, then 16 fractional bits from the classic squaring recurrence
(normalize the mantissa m to [2^16, 2^17); square; a doubled bit is 1
iff m² crosses 2^17; 16 iterations as one expression-level fold).
Spark and DuckDB run the identical integer recurrence — no libm, no
ulp drift — so every oracle replays the scores bit-for-bit.
"""

from __future__ import annotations

FXP = 65536  # 2^16 fixed-point scale for log2

# One squaring step of the fractional-log2 recurrence over the packed
# accumulator acc = y * 2^18 + m  (m in [2^16, 2^17), y = bits so far).
# {D} is the engine's integer floor-division operator.
_STEP = (
    "CASE WHEN ((acc % 262144) * (acc % 262144)) {D} 65536 >= 131072 "
    "THEN ((acc {D} 262144) * 2 + 1) * 262144 "
    "+ (((acc % 262144) * (acc % 262144)) {D} 65536) {D} 2 "
    "ELSE ((acc {D} 262144) * 2) * 262144 "
    "+ ((acc % 262144) * (acc % 262144)) {D} 65536 END"
)


def ilog2_fxp_spark(x: str) -> str:
    """Spark SQL expression: floor(65536 * log2(x)) exactly, x >= 1
    integer (x <= 2^46 so the mantissa scale never overflows)."""
    n = f"(length(bin({x})) - 1)"
    m0 = f"((({x}) * 65536L) div shiftleft(1L, cast({n} as int)))"
    step = _STEP.format(D="div")
    fold = f"aggregate(sequence(1, 16), {m0}, (acc, i) -> {step})"
    return f"(({n}) * 65536 + ({fold}) div 262144)"


def ilog2_fxp_duck(x: str) -> str:
    """DuckDB twin of :func:`ilog2_fxp_spark` — identical recurrence,
    list_reduce with a packed scalar accumulator (the struct-fold
    storage-aliasing hazard documented on the Hilbert oracle)."""
    n = f"(length(bin({x})) - 1)"
    m0 = f"((({x})::BIGINT * 65536) // (1::BIGINT << ({n})))"
    step = _STEP.format(D="//")
    lst = ", ".join(str(i) for i in range(1, 17))
    fold = f"list_reduce(list_prepend({m0}, [{lst}]), (acc, e) -> {step})"
    return f"(({n}) * 65536 + ({fold}) // 262144)"
