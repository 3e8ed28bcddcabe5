"""Vector/embedding functions (SURVEY.md §2.9): the random-hyperplane
projection and signature that the LSH paths bucket by, the adaptive
plane count, and their DuckDB twins. Every product is snapped to the
2^-40 grid and folded as integers, so values are order-independent and
replay bit-for-bit in the oracle. Exact cosine scoring lives in
operators/similarity.py (``_rerank_side`` / ``_pair_cosine``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Snap grid for the signature's exact dot products (2^40; see
# operators/similarity._GRID for the rationale).
_SIG_GRID = float(1 << 40)


def plane_components(i: int, seed: int, dim: int) -> list[float]:
    """Driver-side replay of the hyperplane derivation: component p of
    plane i is ±1 from the parity of the first sha256 hex digit of
    "seed:plane:pos" — hashlib.sha256 over the identical UTF-8 bytes
    Spark's sha2(concat_ws(':', ...)) hashes, so the matrix is the same
    whether an executor, the driver, or DuckDB derives it."""
    import hashlib

    return [
        1.0
        if int(hashlib.sha256(f"{seed}:{i}:{p}".encode()).hexdigest()[0], 16) % 2
        else -1.0
        for p in range(dim)
    ]


def _plane_dot(vec: Column, i: int, seed: int, dim: int | None = None) -> Column:
    """Exact snapped <v, h_i> (as a 2^40-scaled long): h_i has ±1
    components derived from the parity of the first sha256 hex digit of
    "seed:plane:pos" — no stored hyperplane matrix; any executor (or any
    engine: DuckDB replays the same sha256) regenerates it. Each ±val
    product is snapped to the 2^-40 grid and folded as longs (dims ×
    2^40-scaled values stay far below 2^63), so the value is identical
    under any fold order and in the DuckDB oracle.

    ``dim``: when the (fixed) vector width is known, the ±1 components
    are precomputed ONCE driver-side (:func:`plane_components`) and baked
    into the plan as a literal array — identical values, but the per-row
    per-component sha256 expression tree disappears, which is the hot
    path of every signature scan (dims × planes hashes per row
    otherwise). Rows must then have exactly ``dim`` elements (zip_with
    null-pads a mismatch into a null dot)."""
    if dim is not None:
        lits = F.array(*[F.lit(c) for c in plane_components(i, seed, dim)])
        prods = F.zip_with(
            vec,
            lits,
            lambda x, h: F.floor(
                x.cast("double") * h * F.lit(_SIG_GRID) + F.lit(0.5)
            ).cast("long"),
        )
        return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)

    def component(p: Column) -> Column:
        digit = F.conv(
            F.substring(
                F.sha2(F.concat_ws(":", F.lit(seed), F.lit(i), p.cast("string")), 256),
                1, 1,
            ),
            16, 10,
        ).cast("int")
        return F.when(digit % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))

    prods = F.zip_with(
        vec,
        F.sequence(F.lit(0), F.size(vec) - 1),
        lambda x, p: F.floor(
            x.cast("double") * component(p) * F.lit(_SIG_GRID) + F.lit(0.5)
        ).cast("long"),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def projection_dots(
    vec: Column, n_planes: int, seed: int = 42, dim: int | None = None
) -> Column:
    """Random ±1 projection of a vector onto ``n_planes`` hash-derived
    hyperplanes, as an array<double> of the exact grid-snapped dot
    products — the Johnson-Lindenstrauss dimensionality-reduction step
    (d dims → n_planes dims) that ANN indexes, clustering, and
    visualization consume. Same hyperplanes as
    :func:`random_hyperplane_signature`, which is exactly the SIGNS of
    this projection. ``dim`` (when the fixed vector width is known)
    switches to driver-precomputed literal hyperplanes — same values,
    no per-row sha256 (see :func:`_plane_dot`)."""
    arr = F.array(
        *[(_plane_dot(vec, i, seed, dim) / F.lit(_SIG_GRID)) for i in range(n_planes)]
    )
    if dim is not None:
        arr = F.when(F.size(vec) == dim, arr).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"projection: expected {dim}-dim vector, got "),
                    F.size(vec).cast("string"),
                )
            )
        )
    return arr


def random_hyperplane_signature(
    vec: Column, n_planes: int = 16, seed: int = 42, dim: int | None = None
) -> Column:
    """Sign-random-projection (SimHash-for-cosine) signature: bit i is the
    sign of <v, h_i> (see :func:`_plane_dot` for the exact hash-derived
    hyperplanes and grid-snapped accumulation). Returns a compact integer
    bucket key in [0, 2^n_planes). ``dim`` (when the fixed vector width
    is known) switches to driver-precomputed literal hyperplanes — same
    values, no per-row sha256."""
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        sig = sig.bitwiseOR(
            F.shiftleft(
                F.when(_plane_dot(vec, i, seed, dim) > 0, F.lit(1))
                .otherwise(F.lit(0)).cast("long"),
                i,
            )
        )
    if dim is not None:
        # the literal-hyperplane path silently null-pads a width mismatch;
        # fail loudly instead (one check per row, not per component)
        sig = F.when(F.size(vec) == dim, sig).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"hyperplane signature: expected {dim}-dim vector, got "),
                    F.size(vec).cast("string"),
                )
            )
        )
    return sig


def adaptive_n_planes(
    n_rows: int, target_bucket: int = 32, min_planes: int = 4,
    max_planes: int = 16,
) -> int:
    """Corpus-size-derived LSH plane count: the smallest ``p`` with
    ``2^p * target_bucket >= n_rows`` — i.e. the expected bucket
    population under a uniform split stays <= ``target_bucket`` — clamped
    to [min_planes, max_planes]. This is the size dispatcher
    (:func:`operators.similarity.topk`'s pattern) applied to the
    bucket-join family: planes grow with log(N), so per-bucket pair work
    stays ~constant instead of quadratic at a fixed plane count.

    Integer-only arithmetic (ceil-div + bit_length), so the DuckDB twin
    :func:`adaptive_n_planes_sql` computes the identical value with no
    float-log2 boundary risk."""
    need = -(-max(int(n_rows), 1) // target_bucket)
    p = (need - 1).bit_length()
    return max(min_planes, min(max_planes, p))


def adaptive_n_planes_sql(
    count_from_sql: str, target_bucket: int = 32, min_planes: int = 4,
    max_planes: int = 16,
) -> str:
    """Scalar DuckDB expression computing exactly
    :func:`adaptive_n_planes` over ``COUNT(*)`` of ``count_from_sql``
    (a relation name or subquery). Usable anywhere a scalar fits —
    including as a ``generate_series`` bound."""
    return (
        f"(SELECT GREATEST({min_planes}, MIN(p)) "
        f"FROM (SELECT unnest(generate_series(0, {max_planes})) AS p), "
        f"(SELECT COUNT(*) AS n FROM ({count_from_sql})) "
        f"WHERE (1::BIGINT << p) * {target_bucket} >= n OR p = {max_planes})"
    )


def projection_sql(
    source_sql: str, n_planes: int | str, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB subquery replaying the exact snapped plane dots of
    :func:`projection_dots` over ``source_sql`` rows: returns
    (id_col, plane, d) with d the 2^40-scaled long dot.

    ``n_planes`` may be an int literal or a scalar SQL expression string
    (e.g. :func:`adaptive_n_planes_sql`) evaluated by DuckDB."""
    grid = "1099511627776.0"
    comp = (
        f"CASE WHEN ('0x' || substr(sha256(CAST({seed} AS VARCHAR) || ':' || "
        f"CAST(plane AS VARCHAR) || ':' || CAST(pos - 1 AS VARCHAR)), 1, 1))::BIGINT % 2 = 1 "
        f"THEN 1.0 ELSE -1.0 END"
    )
    last_plane = (
        f"{n_planes - 1}" if isinstance(n_planes, int) else f"({n_planes}) - 1"
    )
    return f"""
    SELECT {id_col}, plane,
           SUM(CAST(floor(val * ({comp}) * {grid} + 0.5) AS BIGINT)) AS d
    FROM (
      SELECT {id_col},
             unnest(generate_series(1, len({vec_col}))) AS pos,
             CAST(unnest({vec_col}) AS DOUBLE) AS val
      FROM ({source_sql})
    ) CROSS JOIN (SELECT unnest(generate_series(0, {last_plane})) AS plane)
    GROUP BY 1, 2
"""


def hyperplane_signature_sql(
    source_sql: str, n_planes: int | str, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB CTE body replaying :func:`random_hyperplane_signature` over
    ``source_sql`` rows: returns (id_col, bucket) — the signs of
    :func:`projection_sql`'s dots packed into a bucket key."""
    return f"""
  SELECT {id_col}, CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << plane)
                               ELSE 0::BIGINT END) AS BIGINT) AS bucket
  FROM (
{projection_sql(source_sql, n_planes, seed, id_col, vec_col)}
  ) GROUP BY 1
"""
