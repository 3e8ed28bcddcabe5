"""Vector/embedding functions (SURVEY.md §2.9): the random-hyperplane
projection and signature that the LSH paths bucket by, the adaptive
plane count, and their DuckDB twins.

The ±1 hyperplanes are derived once on the driver
(:func:`plane_components`) and written into one SQL fold per plane
(:func:`_plane_dots`), which the projection and the signature share.
Every product is snapped to the 2^-40 grid and folded as integers, so
values are order-independent and replay bit-for-bit in the oracle,
whose twins (:func:`projection_sql`, :func:`hyperplane_signature_sql`)
re-derive the same planes with DuckDB's sha256. Exact cosine scoring
lives in operators/similarity.py (``_rerank_side`` / ``_pair_cosine``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Snap grid for the signature's exact dot products (2^40; see
# operators/similarity._GRID for the rationale).
_SIG_GRID = float(1 << 40)

# The hyperplane family's seed: every LSH bucket key and projection, and
# their DuckDB twins, hash under it, so it is part of the answer.
PLANE_SEED = 42

# Clamp of the corpus-size-derived plane count, read by both
# :func:`adaptive_n_planes` and its DuckDB twin.
MIN_PLANES, MAX_PLANES = 4, 16


def plane_components(i: int, dim: int) -> list[float]:
    """The ``dim`` components of hyperplane ``i``: component p is ±1
    from the parity of the first sha256 hex digit of "PLANE_SEED:i:p". No
    hyperplane matrix is stored; DuckDB's sha256 over the same UTF-8
    bytes re-derives it in the oracle twins."""
    import hashlib

    return [
        1.0
        if int(hashlib.sha256(f"{PLANE_SEED}:{i}:{p}".encode()).hexdigest()[0], 16) % 2
        else -1.0
        for p in range(dim)
    ]


def _plane_dots(vec_col: str, n_planes: int, dim: int) -> list[str]:
    """SQL for the exact snapped <v, h_i>, i < ``n_planes``, of the array
    column named ``vec_col``, each a 2^40-scaled long. The planes come
    from :func:`plane_components` as literal arrays. Each ±val product
    is snapped to the 2^-40 grid and folded as longs (dims × 2^40-scaled
    values stay far below 2^63), so the value is identical under any
    fold order and in the DuckDB oracle.

    The fold is SQL text for the reason given in
    similarity._exact_dot_cols: built through the Column API (one
    ``F.lit`` per component) an 8-plane signature over 64 dims took
    0.4–0.6 s of py4j calls on a 4-vCPU VM; as SQL text it builds in
    about 1 ms and analyzes to the same fold."""
    dots = []
    for i in range(n_planes):
        h = ", ".join(f"{c!r}D" for c in plane_components(i, dim))
        dots.append(
            f"aggregate(zip_with(`{vec_col}`, CAST(array({h}) AS ARRAY<DOUBLE>), "
            f"(x, h) -> CAST(floor(CAST(x AS DOUBLE) * h * {_SIG_GRID!r}D + 0.5D) "
            f"AS BIGINT)), 0L, (acc, y) -> acc + y)"
        )
    return dots


def _width_checked(vec_col: str, dim: int, what: str, sql: str) -> Column:
    """``sql`` for rows whose vector has exactly ``dim`` elements, null
    for a null vector, and a failed job otherwise: zip_with would
    null-pad a width mismatch silently. One check per row, not per
    component."""
    v = f"`{vec_col}`"
    return F.expr(
        f"CASE WHEN {v} IS NULL THEN NULL WHEN size({v}) = {dim} THEN {sql} "
        f"ELSE raise_error(concat('{what}: expected {dim}-dim vector, got ', "
        f"CAST(size({v}) AS STRING))) END"
    )


def projection_dots(vec_col: str, n_planes: int, *, dim: int) -> Column:
    """Random ±1 projection of the ``dim``-wide vectors in column
    ``vec_col`` onto ``n_planes`` hyperplanes, as an array<double> of the
    exact grid-snapped dot products: the Johnson-Lindenstrauss
    dimensionality-reduction step (d dims → n_planes dims) that ANN
    indexes, clustering, and visualization consume. Same hyperplanes as
    :func:`random_hyperplane_signature`, which is exactly the SIGNS of
    this projection."""
    dots = ", ".join(
        f"{d} / {_SIG_GRID!r}D" for d in _plane_dots(vec_col, n_planes, dim)
    )
    return _width_checked(
        vec_col, dim, "projection", f"CAST(array({dots}) AS ARRAY<DOUBLE>)"
    )


def random_hyperplane_signature(
    vec_col: str, n_planes: int = 16, *, dim: int
) -> Column:
    """Sign-random-projection (SimHash-for-cosine) signature of the
    ``dim``-wide vectors in column ``vec_col``: bit i is the sign of
    <v, h_i> (:func:`_plane_dots`). Returns a compact integer bucket key
    in [0, 2^n_planes); ``n_planes=0`` puts every vector in bucket 0."""
    bits = [
        f"IF({d} > 0, {1 << i}L, 0L)"
        for i, d in enumerate(_plane_dots(vec_col, n_planes, dim))
    ]
    return _width_checked(
        vec_col, dim, "hyperplane signature", " | ".join(bits) or "0L"
    )


def adaptive_n_planes(n_rows: int, target_bucket: int = 32) -> int:
    """Corpus-size-derived LSH plane count: the smallest ``p`` with
    ``2^p * target_bucket >= n_rows`` — i.e. the expected bucket
    population under a uniform split stays <= ``target_bucket`` — clamped
    to [MIN_PLANES, MAX_PLANES]. This is the size dispatcher
    (:func:`operators.similarity.topk`'s pattern) applied to the
    bucket-join family: planes grow with log(N), so per-bucket pair work
    stays ~constant instead of quadratic at a fixed plane count.

    Integer-only arithmetic (ceil-div + bit_length), so the DuckDB twin
    :func:`adaptive_n_planes_sql` computes the identical value with no
    float-log2 boundary risk."""
    need = -(-max(int(n_rows), 1) // target_bucket)
    p = (need - 1).bit_length()
    return max(MIN_PLANES, min(MAX_PLANES, p))


def adaptive_n_planes_sql(count_from_sql: str, target_bucket: int = 32) -> str:
    """Scalar DuckDB expression computing exactly
    :func:`adaptive_n_planes` over ``COUNT(*)`` of ``count_from_sql``
    (a relation name or subquery). Usable anywhere a scalar fits —
    including as a ``generate_series`` bound."""
    return (
        f"(SELECT GREATEST({MIN_PLANES}, MIN(p)) "
        f"FROM (SELECT unnest(generate_series(0, {MAX_PLANES})) AS p), "
        f"(SELECT COUNT(*) AS n FROM ({count_from_sql})) "
        f"WHERE (1::BIGINT << p) * {target_bucket} >= n OR p = {MAX_PLANES})"
    )


def projection_sql(
    source_sql: str, n_planes: int | str,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB subquery replaying the exact snapped plane dots of
    :func:`projection_dots` over ``source_sql`` rows: returns
    (id_col, plane, d) with d the 2^40-scaled long dot.

    ``n_planes`` may be an int literal or a scalar SQL expression string
    (e.g. :func:`adaptive_n_planes_sql`) evaluated by DuckDB."""
    grid = "1099511627776.0"
    comp = (
        f"CASE WHEN ('0x' || substr(sha256(CAST({PLANE_SEED} AS VARCHAR) || ':' || "
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
    source_sql: str, n_planes: int | str,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB CTE body replaying :func:`random_hyperplane_signature` over
    ``source_sql`` rows: returns (id_col, bucket) — the signs of
    :func:`projection_sql`'s dots packed into a bucket key."""
    return f"""
  SELECT {id_col}, CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << plane)
                               ELSE 0::BIGINT END) AS BIGINT) AS bucket
  FROM (
{projection_sql(source_sql, n_planes, id_col, vec_col)}
  ) GROUP BY 1
"""
