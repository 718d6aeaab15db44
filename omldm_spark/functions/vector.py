"""Vector ops over ARRAY<DOUBLE> columns — all Catalyst expressions.

The reference's Breeze vectors (src/main/scala/omldm/utils/CommonUtils.scala:
22-23) become plain array columns; dot products and norms stay JVM-side via
higher-order functions (zip_with/aggregate), so linear-model scoring over a
DataFrame runs no Python. Those two functions are ``CodegenFallback``
expressions: they are interpreted, and the generated code of the projection
around them reaches them through its ``references`` array instead of
compiling them. Training kernels (numpy) live in learners/.

A micro-batch small enough to be collected is scored on the driver instead
(``streaming/training_loop``): :func:`linear_predict_np` is
:func:`linear_predict_sql`'s form over a numpy matrix, and
:func:`spark_round` is Spark's ``round(v, 0)``, both bit for bit.
:func:`matrix` and :func:`list_column` convert an Arrow ``list<double>``
column to that matrix and back; :func:`matrix` is the one checked
conversion, for the training kernel, the chains and the scoring alike.

Expressions built from model or scaler state (one literal per coefficient)
are rendered as Spark SQL text and parsed by the JVM in one call
(``F.expr`` / ``selectExpr``), not assembled from one py4j round trip per
literal. :func:`sql_double` renders every double and :func:`sql_col` every
column name in that text. Every state literal sits inside a
``CodegenFallback`` expression: a literal outside one is written into the
generated Java source, so each new model or scaler state would miss the
codegen cache and compile fresh classes.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def sql_double(x: float) -> str:
    """A DOUBLE literal in Spark SQL that parses back to the same bits.

    ``repr`` is the shortest round-tripping decimal, and the ``D`` suffix
    makes it a double (a bare ``1.0`` is ``DECIMAL(2,1)``); NaN and the
    infinities have no literal form and go through a string cast."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'' if x > 0 else '-'}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def sql_col(name: str) -> str:
    """A column name as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ a_i * b_i (arrays of equal length)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def linear_predict_sql(col: str, weights: list[float], bias: float) -> str:
    """SQL text of w·x + b over the ARRAY<DOUBLE> column ``col``: Σ x_i * w_i
    summed left to right, then + b in ``aggregate``'s finish lambda, for
    embedding in a larger expression. The weights and the bias sit inside
    the two ``CodegenFallback`` functions, so a new model changes no
    generated code."""
    ws = ", ".join(sql_double(w) for w in weights)
    return (f"aggregate(zip_with({sql_col(col)}, array({ws}), (x, w) -> x * w), "
            f"0.0D, (acc, v) -> acc + v, acc -> acc + {sql_double(bias)})")


def linear_predict_np(X: np.ndarray, weights: list[float],
                      bias: float) -> np.ndarray:
    """:func:`linear_predict_sql` over the rows of ``X``, bit for bit: the
    products ``x_i * w_i`` added left to right from 0.0, then the bias."""
    acc = np.zeros(len(X))
    for i, w in enumerate(weights):
        acc = acc + X[:, i] * w
    return acc + bias


def spark_round(v: np.ndarray) -> np.ndarray:
    """Spark's ``round(v, 0)`` of doubles: half away from zero on the exact
    double. Spark rounds the shortest decimal string of ``v``, and every
    decimal string that parses back to ``v`` lies on the same side of k.5
    as ``v`` itself, so the string and the exact value round alike.
    ``|v| - floor(|v|)`` is exact. A zero result is +0.0, as Spark's
    decimal rounding has no negative zero (the ``+ 0.0``); NaN and the
    infinities pass through."""
    a = np.abs(v)
    f = np.floor(a)
    with np.errstate(invalid="ignore"):  # inf - inf
        return np.copysign(f + (a - f >= 0.5), v) + 0.0


def fits(col: pa.Array | pa.ChunkedArray, dim: int) -> bool:
    """Does every row of the Arrow list column ``col`` hold ``dim``
    non-null doubles?"""
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    return (pa.types.is_float64(col.type.value_type)
            and bool((lengths == dim).all())
            and pc.list_flatten(col).null_count == 0)


def matrix(col: pa.Array | pa.ChunkedArray, dim: int) -> np.ndarray:
    """An Arrow ``list<double>`` column as an ``(rows, dim)`` float matrix.
    Raises ``ValueError`` unless every row holds ``dim`` non-null doubles
    (:func:`fits`): flattened, a NULL or short row would shift every later
    row against its label."""
    if not fits(col, dim):
        raise ValueError(
            f"a features row does not hold {dim} non-null doubles")
    return np.asarray(pc.list_flatten(col)).reshape(-1, dim)


def list_column(X: np.ndarray) -> pa.Array:
    """The rows of ``X`` as an Arrow ``list<double>`` column."""
    n, d = X.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * d)
    return pa.ListArray.from_arrays(offsets, pa.array(X.ravel(), pa.float64()))


def linear_predict(col: str, weights: list[float], bias: float) -> Column:
    return F.expr(linear_predict_sql(col, weights, bias))


def norm2(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either norm is 0."""
    num = dot(a, b)
    den = norm2(a) * norm2(b)
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def to_double_array(col: Column | str) -> Column:
    """Cast ARRAY<FLOAT> (e.g. embeddings) to ARRAY<DOUBLE> for stable math."""
    return F.transform(_c(col), lambda x: x.cast("double"))
