"""Deterministic hash kernels.

The engine never uses ``F.rand()`` (not reproducible across partition
layouts or task retries). All randomness is a pure function of
``(seed, row-sequence-number)`` via a SplitMix64 + XorShift64 scrambler
normalized to [0, 1) — the same construction the reference engine uses
(semantics per /root/reference internal/generator/usecase/general/
generator/utils.go:180-196).

Three synchronized implementations, bit-identical to each other:

* :func:`frf_np`    — numpy uint64, used inside the engine's Arrow UDFs
* :func:`frf_col`   — native Spark Column ops (JVM-side, codegen-able);
                      requires ``spark.sql.ansi.enabled=false`` so signed
                      longs wrap (two's-complement == mod 2^64)
* :func:`frf_sql`   — DuckDB SQL string emitter, used to build oracle
                      queries that must reproduce engine output exactly
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

U64 = 1 << 64
MASK64 = U64 - 1

_SM64_GAMMA = 0x9E3779B97F4A7C15
_SM64_MUL1 = 0xBF58476D1CE4E5B9
_SM64_MUL2 = 0x94D049BB133111EB
# float64(2^64 - 1) rounds to 2^64 exactly; keep the same constant the
# reference divides by so normalization matches bit-for-bit.
_NORM = float(np.float64(np.uint64(MASK64)))


def dlit(v: float) -> str:
    """Emit a float as a DuckDB DOUBLE literal. Bare decimal literals
    parse as DECIMAL (different rounding!); an exponent forces DOUBLE,
    so append e0 when repr lacks one."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"


def derive_seed(base_seed: int, key: str) -> int:
    """Per-column seed: base seed plus the byte-sum of sha1(key).

    ``key`` is ``"model.column"``. Mirrors reference getSeed
    (generator/utils.go:80-90). ``base_seed == 0`` means
    non-deterministic in the reference; ``parse_config`` resolves 0 to
    a wall-clock seed at parse time (recorded in backup.json for
    resume), so engine callers always hand this a concrete seed.
    """
    s = base_seed & MASK64
    for b in hashlib.sha1(key.encode("utf-8")).digest():
        s = (s + b) & MASK64
    return s


# ---------------------------------------------------------------------------
# numpy kernel


def splitmix64_np(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer + XorShift64 scramble over uint64 arrays."""
    s = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        s += np.uint64(_SM64_GAMMA)
        s ^= s >> np.uint64(30)
        s *= np.uint64(_SM64_MUL1)
        s ^= s >> np.uint64(27)
        s *= np.uint64(_SM64_MUL2)
        s ^= s >> np.uint64(31)
        s ^= s >> np.uint64(12)
        s ^= (s << np.uint64(25)) & np.uint64(MASK64)
        s ^= s >> np.uint64(27)
    return s


def frf_np(x: np.ndarray) -> np.ndarray:
    """fastRandomFloat over a uint64 numpy array -> float64 in [0, 1)."""
    return splitmix64_np(np.asarray(x, dtype=np.uint64)) / _NORM


def frf_scalar(x: int) -> float:
    return float(frf_np(np.array([x & MASK64], dtype=np.uint64))[0])


# ---------------------------------------------------------------------------
# native Spark Column kernel (signed-long wrap arithmetic, ANSI off)


def _s64(v: int) -> int:
    """Reinterpret a uint64 constant as signed int64 for F.lit."""
    v &= MASK64
    return v - U64 if v >= (1 << 63) else v


def u64_to_unit_double(c: Column) -> Column:
    """float64(uint64(c)) / float64(MaxUint64) for a signed-long column.

    Split into exact hi/lo 32-bit halves so the float64 conversion
    rounds ONCE — ``double(s) + 2^64`` double-rounds and drifts 1 ULP
    from the numpy kernel on ~8% of inputs.
    """
    hi = F.shiftrightunsigned(c, 32).cast("double") * F.lit(float(1 << 32))
    lo = c.bitwiseAND(F.lit(0xFFFFFFFF)).cast("double")
    return (hi + lo) / F.lit(_NORM)


def splitmix64_col(c: Column) -> Column:
    """SplitMix64+XorShift64 on a long Column. Needs ANSI off (wrap mul)."""
    s = c + F.lit(_s64(_SM64_GAMMA))
    s = s.bitwiseXOR(F.shiftrightunsigned(s, 30))
    s = s * F.lit(_s64(_SM64_MUL1))
    s = s.bitwiseXOR(F.shiftrightunsigned(s, 27))
    s = s * F.lit(_s64(_SM64_MUL2))
    s = s.bitwiseXOR(F.shiftrightunsigned(s, 31))
    s = s.bitwiseXOR(F.shiftrightunsigned(s, 12))
    s = s.bitwiseXOR(F.shiftleft(s, 25))
    s = s.bitwiseXOR(F.shiftrightunsigned(s, 27))
    return s


def frf_col(c: Column) -> Column:
    """fastRandomFloat as a native Column expression (double in [0,1))."""
    return u64_to_unit_double(splitmix64_col(c))


# ---------------------------------------------------------------------------
# DuckDB SQL emitter (for exact oracles)


def _sql_mulmod(a: str, b_const: int) -> str:
    """(a * b) mod 2^64 in DuckDB HUGEINT arithmetic, b a constant.

    Split into 32-bit halves so no intermediate exceeds HUGEINT range.
    """
    blo = b_const & 0xFFFFFFFF
    bhi = (b_const >> 32) & 0xFFFFFFFF
    t = 1 << 32
    return (
        f"((({a}) % {t}) * {blo} + "
        f"(((({a}) // {t}) * {blo} + (({a}) % {t}) * {bhi}) % {t}) * {t}) "
        f"% {U64}"
    )


def _sql_xor(a: str, b: str) -> str:
    """xor of two HUGEINT expressions in [0, 2^64) via 32-bit halves.

    DuckDB's xor() works on BIGINT; halves always fit.
    """
    t = 1 << 32
    return (
        f"(xor((({a}) // {t})::BIGINT, (({b}) // {t})::BIGINT)::HUGEINT * {t} + "
        f"xor((({a}) % {t})::BIGINT, (({b}) % {t})::BIGINT)::HUGEINT)"
    )


def splitmix64_cte_chain(
    source: str,
    seed_expr: str,
    carry: list[str],
    out: str = "s",
    prefix: str = "sm",
) -> tuple[str, str]:
    """Emit a DuckDB CTE chain computing raw SplitMix64+XorShift64 of
    ``seed_expr`` as a HUGEINT in [0, 2^64) — the integer the numpy /
    Column kernels produce before normalization.

    Returns ``(cte_sql, final_cte_name)``; splice ``cte_sql`` into a
    WITH clause. ``carry`` columns pass through unchanged; the result
    column is named ``out``. A chain (rather than one expression) keeps
    the SQL linear in size.
    """
    steps = [
        f"(((({seed_expr})::HUGEINT) % {U64} + {U64}) % {U64} + {_SM64_GAMMA}) % {U64}",
        _sql_xor("s", f"(s // {1 << 30})"),
        _sql_mulmod("s", _SM64_MUL1),
        _sql_xor("s", f"(s // {1 << 27})"),
        _sql_mulmod("s", _SM64_MUL2),
        _sql_xor("s", f"(s // {1 << 31})"),
        _sql_xor("s", f"(s // {1 << 12})"),
        _sql_xor("s", f"((s * {1 << 25}) % {U64})"),
        _sql_xor("s", f"(s // {1 << 27})"),
    ]
    cols = ", ".join(carry) + (", " if carry else "")
    parts = []
    prev = source
    for i, step in enumerate(steps):
        name = f"{prefix}{i}"
        parts.append(f"{name} AS (SELECT {cols}({step}) AS s FROM {prev})")
        prev = name
    final = f"{prefix}_out"
    if out != "s":
        parts.append(f"{final} AS (SELECT {cols}s AS {out} FROM {prev})")
    else:
        final = prev
    return ", ".join(parts), final


def frf_cte_chain(
    source: str,
    seed_expr: str,
    carry: list[str],
    out: str = "r",
    prefix: str = "frf",
) -> tuple[str, str]:
    """Emit a DuckDB CTE chain computing fastRandomFloat(seed_expr):
    the :func:`splitmix64_cte_chain` integer normalized to [0, 1)."""
    cte, prev = splitmix64_cte_chain(source, seed_expr, carry, out="s", prefix=prefix)
    cols = ", ".join(carry) + (", " if carry else "")
    final = f"{prefix}_out"
    # MATERIALIZED is load-bearing: a WHERE on the chain's output would
    # otherwise be pushed down THROUGH the CTE projections, substituting
    # the exponentially self-referencing splitmix expression into the
    # predicate (each level references the previous `s` ~6 times —
    # measured 529 s for `WHERE u < 0.5` over 5000 rows vs 0.3 s as a
    # plain SELECT). The fence caps the expression at one level.
    return (
        f"{cte}, {final} AS MATERIALIZED (SELECT {cols}(s::DOUBLE / {dlit(_NORM)}) AS {out} FROM {prev})",
        final,
    )
