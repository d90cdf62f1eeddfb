"""JVM-side S2 stab keys as Spark SQL text.

Why: the default "jvm" flagship strategy keeps the whole stab inside
whole-stage codegen. A full Catalyst S2 cell id needs the Hilbert
lookup rounds (the expression tree blows up), but the JOIN does not
need Hilbert ids — any injective encoding of the ancestor cell works.
An S2 cell at level L is exactly (face, i >> (30-L), j >> (30-L)), so
the stab key is pure bit math over the (face, i, j) projection:

    key(L) = face<<61 | L<<56 | (i>>s)<<28 | (j>>s)   with s = 30-L

(valid for L <= 28 — cover levels are far below that). The index side
computes the same keys from its uint64 cell ids once at build time
(geo.s2.fij_keys). Cell ids remain the public tile identifiers; only
the join key space changes.

Why SQL text: every PySpark Column operation is a Py4J round trip, so
the Column-built `pip_join` plan cost ~3,300-3,900 of them (229 now),
and inlining face/u/v into i and j gave Catalyst large copied trees
to optimize. The expressions are plain strings (cached per
signature, holding no JVM references, so they survive a session
restart) applied in staged projections: each stage reads the previous
stage's columns, and CollapseProject keeps the stages apart because
merging them would duplicate non-trivial expressions. On local[4]
(4 cores) the median `geocode_communes` benchmark cycle (100k pages)
went from 2.93 s to 1.92 s.

Spark SQL parses a bare `0.5` as DECIMAL, so every double literal
carries a `D` suffix; bit math stays shiftleft/shiftrightunsigned/`|`
because ANSI mode makes integer `*`/`+` overflow throw.

JVM Math trig can differ from numpy by 1 ulp, so i/j may differ in the
last bit for points within ~1e-16 of a cell boundary; at cover levels
(>= 2 bits truncated) this is vanishingly rare and only moves a point
to the adjacent cell of a conservative cover (tests/test_s2_keys.py
pins the keys to the numpy kernel).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

from ..geo import s2 as geo_s2

_TMP_COLS = ("__s2x", "__s2y", "__s2z", "__s2f", "__s2u", "__s2v", "__s2i", "__s2j")


def quote(name: str) -> str:
    """`name` as a Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _st_ij_sql(uu: str) -> str:
    """uv -> st (quadratic projection) -> leaf ij, clamped to the face."""
    s = (
        f"CASE WHEN {uu} >= 0.0D THEN 0.5D * sqrt(greatest(1.0D + 3.0D * {uu}, 0.0D)) "
        f"ELSE 1.0D - 0.5D * sqrt(greatest(1.0D - 3.0D * {uu}, 0.0D)) END"
    )
    top = (1 << geo_s2.MAX_LEVEL) - 1
    return f"least(greatest(floor(({s}) * {float(1 << geo_s2.MAX_LEVEL)!r}D), 0L), {top}L)"


@functools.lru_cache(maxsize=64)
def _fij_key_sql(lat_col: str, lng_col: str, min_level: int, max_level: int) -> tuple:
    """The staged projections of `with_fij_keys` as SQL text: one tuple
    of `expr AS name` strings per stage, the last one the exploded key
    array (aliased by the caller)."""
    lat, lng = f"radians({quote(lat_col)})", f"radians({quote(lng_col)})"
    xyz = (
        f"cos({lat}) * cos({lng}) AS __s2x",
        f"cos({lat}) * sin({lng}) AS __s2y",
        f"sin({lat}) AS __s2z",
    )
    # largest-|component| axis (x wins ties over y over z), +3 when negative
    face = (
        "CAST(CASE WHEN abs(__s2x) >= abs(__s2y) AND abs(__s2x) >= abs(__s2z) "
        "THEN CASE WHEN __s2x >= 0.0D THEN 0 ELSE 3 END "
        "WHEN abs(__s2y) >= abs(__s2z) THEN CASE WHEN __s2y >= 0.0D THEN 1 ELSE 4 END "
        "ELSE CASE WHEN __s2z >= 0.0D THEN 2 ELSE 5 END END AS BIGINT) AS __s2f",
    )
    uv = (
        "CASE __s2f WHEN 0 THEN __s2y / __s2x WHEN 1 THEN -__s2x / __s2y "
        "WHEN 2 THEN -__s2x / __s2z WHEN 3 THEN __s2z / __s2x "
        "WHEN 4 THEN __s2z / __s2y ELSE -__s2y / __s2z END AS __s2u",
        "CASE __s2f WHEN 0 THEN __s2z / __s2x WHEN 1 THEN __s2z / __s2y "
        "WHEN 2 THEN -__s2y / __s2z WHEN 3 THEN __s2y / __s2x "
        "WHEN 4 THEN -__s2x / __s2y ELSE -__s2x / __s2z END AS __s2v",
    )
    ij = (f"{_st_ij_sql('__s2u')} AS __s2i", f"{_st_ij_sql('__s2v')} AS __s2j")
    keys = []
    for lv in range(min_level, max_level + 1):
        s = geo_s2.MAX_LEVEL - lv
        keys.append(
            f"shiftleft(__s2f, 61) | {lv << 56}L"
            f" | shiftleft(shiftrightunsigned(__s2i, {s}), 28)"
            f" | shiftrightunsigned(__s2j, {s})"
        )
    return xyz, face, uv, ij, f"explode(array({', '.join(keys)}))"


def with_fij_keys(
    df: DataFrame, lat_col: str, lng_col: str, min_level: int, max_level: int,
    key_col: str = "fij_key",
) -> DataFrame:
    """Adds an exploded `fij_key` column with the point's ancestor keys
    for every cover level — all whole-stage codegen, one projection per
    stage of the (face, i, j) computation."""
    *stages, keys = _fij_key_sql(lat_col, lng_col, min_level, max_level)
    for stage in stages:
        df = df.selectExpr("*", *stage)
    return df.selectExpr("*", f"{keys} AS {quote(key_col)}").drop(*_TMP_COLS)
