"""The vector kernel: every fold over ``array<float>`` embeddings, its
DuckDB-SQL twin, the norm-carrying vector handle and the centroid
literal panel. No other module writes these.

Folds. ``F.zip_with`` + ``F.aggregate`` keep per-row vector math on JVM
built-ins, with no Python round-trip. Every fold casts each element to
double and accumulates left to right from ``0.0``; the SQL twins
(``sql_cos``, ``sql_l2sq``) spell the same ``list_reduce`` fold in the
same association order, so Spark and the DuckDB oracle agree bit for
bit on float32 inputs (SURVEY §4).

CodegenFallback. Higher-order functions are CodegenFallback in Spark
4.x: the lambdas run interpreted, boxed per element, outside
whole-stage codegen. A pair scorer (corpus × broadcast query panel)
that folds both norms inline spends two thirds of its per-pair work
recomputing row-constant values.

Hoist. ``normed`` projects a vector's L2 norm as a column next to the
vector, folded once per ROW below the pair join, and ``cosine_normed``
folds only the dot per PAIR, dividing by the two hoisted norms. They
are the same doubles ``cosine_similarity`` divides by, so the quotient
is bit-identical. sf60de A/B, 1.2 M vectors, bruteforce shape: 3.71 →
2.29 s min, and the warm-run spread collapsed from 3.7–13.1 s to
2.3–3.1 s (less per-pair garbage); SCALING.md, "Round 10, session 3".
The same A/B rejected an unrolled 64-term ``element_at`` dot (15.0 s,
4× worse: the Add chain blows past codegen limits into a worse
interpreter), so the lambda fold stays for the dot itself. A handle
keeps its vector and norm paired through renames, so a cosine cannot
divide by the norm of some other vector. Where a join is selective
(most corpus rows meet no probe), ``inline`` keeps that side's norm as
a fold evaluated on matched pairs only: a hoisted column would fold
once per corpus row to save work on a few pairs.

Panel. A driver-known k×d centroid set becomes ONE literal
``array<struct<id, vec>>`` column, bound by name (constant-folded once;
inlining the literal tree into every consumer measurably bloats
planning and evaluation). Each row scores it with ``F.transform``, so
an argmin / argmax / top-n over the panel is a struct min / max / sort
on (score, id): map-only, no corpus shuffle.

Zero vectors. Both cosines divide with ``try_divide``, so a zero norm
gives NULL, as the oracle's ``0.0 / 0.0`` does; plain division raises
``DIVIDE_BY_ZERO`` under ANSI mode.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PANEL_COL = "cents"


def _col(a: Column | str) -> Column:
    return F.col(a) if isinstance(a, str) else a


def dot_product(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(
            _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm_sq(a: Column | str) -> Column:
    return F.aggregate(
        _col(a),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(l2_norm_sq(a))


def l2_distance_sq(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(
            _col(a),
            _col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return F.try_divide(dot_product(a, b), l2_norm(a) * l2_norm(b))


class Normed:
    """A vector and its L2 norm, paired. ``vec`` and ``nrm`` are what
    ``cosine_normed`` reads; ``cols`` is the (vector, norm) projection
    that puts the pair into a frame (index it to place the two apart);
    ``names`` passes the pair through a later select. Made only by
    ``normed``, ``inline`` and ``renamed``."""

    __slots__ = ("vec", "nrm", "cols", "names")

    def __init__(
        self, vec: Column, nrm: Column, cols: tuple, names: tuple
    ) -> None:
        self.vec, self.nrm, self.cols, self.names = vec, nrm, cols, names

    def renamed(self, vec: str, nrm: str) -> Normed:
        """The same pair under new column names."""
        old_vec, old_nrm = self.names
        return Normed(
            F.col(vec),
            F.col(nrm),
            (F.col(old_vec).alias(vec), F.col(old_nrm).alias(nrm)),
            (vec, nrm),
        )


def normed(vec: str, nrm: str, src: Column | None = None) -> Normed:
    """Project ``src`` (default: the column ``vec``) as ``vec``, and its
    L2 norm, folded once per row, as ``nrm``."""
    if src is None:
        src = proj = F.col(vec)
    else:
        proj = src.alias(vec)
    return Normed(
        F.col(vec), F.col(nrm), (proj, l2_norm(src).alias(nrm)), (vec, nrm)
    )


def inline(vec: str) -> Normed:
    """The column ``vec`` with its norm left as a fold, evaluated
    wherever the cosine is: for the selective side of a join."""
    return Normed(F.col(vec), l2_norm(vec), (F.col(vec),), (vec,))


def cosine_normed(a: Normed, b: Normed) -> Column:
    """``cosine_similarity`` over hoisted norms: one dot fold per pair."""
    return F.try_divide(dot_product(a.vec, b.vec), a.nrm * b.nrm)


def vector_lit(v: Iterable[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def vectors_lit(vs: Iterable[Iterable[float]]) -> Column:
    """``array<array<double>>`` literal, indexable by position."""
    return F.array(*[vector_lit(v) for v in vs])


class Panel:
    """Driver-known ``(id, vector)`` rows as one literal
    ``array<struct<id_field: bigint, vec_field: array<double>>>``,
    bound to a frame as the column ``PANEL_COL``. Ids are data: a
    caller that wants a descending-id tie break passes negated ids."""

    def __init__(
        self,
        rows: Iterable[Sequence],
        id_field: str = "centroid_id",
        vec_field: str = "c_emb",
    ) -> None:
        self.id_field, self.vec_field = id_field, vec_field
        self.lit = F.array(
            *[
                F.struct(
                    F.lit(int(i)).cast("bigint").alias(id_field),
                    vector_lit(v).alias(vec_field),
                )
                for i, v in rows
            ]
        )

    def bind(self, df: DataFrame) -> DataFrame:
        return df.withColumn(PANEL_COL, self.lit)

    def scored(self, score: Callable[[Column], Column], field: str) -> Column:
        """Per panel entry ``struct(score(vector) AS field, id)``: a
        struct min / max / sort orders by (score, id)."""
        return F.transform(
            F.col(PANEL_COL),
            lambda c: F.struct(
                score(c[self.vec_field]).alias(field),
                c[self.id_field].alias(self.id_field),
            ),
        )

    def l2sq(self, v: Column | str) -> Column:
        """``scored`` by squared L2 distance, as field ``d2``."""
        return self.scored(lambda c: l2_distance_sq(v, c), "d2")


def sql_cos(a: str, b: str) -> str:
    """DuckDB twin of ``cosine_similarity`` between list columns."""
    return f"""(
  list_reduce(list_transform(range(1, 1 + len({a})),
    i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),
    (x, y) -> x + y)
  / (sqrt(list_reduce(list_transform({a},
       v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
   * sqrt(list_reduce(list_transform({b},
       v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)))
)"""


def sql_l2sq(a: str, b: str) -> str:
    """DuckDB twin of ``l2_distance_sq`` between list columns."""
    return f"""list_reduce(list_transform(range(1, 1 + len({a})),
  i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
     * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))),
  (x, y) -> x + y)"""
