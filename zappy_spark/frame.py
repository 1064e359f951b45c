"""ZappyFrame — the reference's distributed-ndarray API on a DataFrame.

The reference models one abstraction: a dense 2-D numeric array
chunked along axis 0, with numpy-ufunc elementwise ops, axis
aggregations, broadcast binary arithmetic, and boolean row masking
(public repo ``zappy/base.py::ZappyArray``; per-backend factories in
``zappy/spark.py`` etc. — checkout empty this round, see SURVEY §0).

Our encoding: a DataFrame with an explicit ``row_id BIGINT`` plus one
``vec ARRAY<DOUBLE>`` column. Differences from the reference, all
deliberate (SURVEY §1.2):

- **Explicit row identity.** zappy keeps implicit positional order
  via ``partition_row_counts`` bookkeeping; at 1000-executor scale
  implicit order is fragile, so rows carry ids. A row vector (an
  axis=1 reduction, or scalar arithmetic and comparisons on one)
  remembers the DataFrame it was reduced from. Meeting a frame over
  that same DataFrame object, it is evaluated in the frame's own
  projection: a mask is a row filter, a broadcast operand a
  ``transform`` — no join, one scan. Any other operand (a vector
  from another frame, a same-shape frame) is an equi-join on
  ``row_id`` (co-partitioned joins stay shuffle-light).
- **Lazy via Catalyst, not RDD lineage.** Every method composes
  Column expressions; nothing executes until ``asndarray()`` /
  ``to_parquet()`` / an action. No Python runs per element — all
  elementwise ops are JVM HigherOrderFunctions.
- **axis=0 results are small** (ncols values) and return a local
  numpy array, matching zappy's driver-side reduce semantics. The
  per-column statistics come from one aggregation pass, memoized on
  the frame at the first axis=0 call: later calls read that snapshot
  of the source, not the source as it is then.
- **axis=1 results stay distributed** as a (row_id, value) frame,
  matching zappy's same-chunking column vector.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_D = "double"


def _lit_vec(arr: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in arr])


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.
    Interpreted higher-order functions have no common-subexpression
    elimination, so a row scalar referenced inside an element lambda
    would be recomputed per element (O(n²) per row); binding it as
    the one element of an array evaluates it once."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _vector_op(fn):
    """A ZappyVector operator: ``fn(value, scalar)`` composed onto the
    vector's per-row expression."""
    return lambda self, other: self._arith(lambda v: fn(v, float(other)))


class ZappyVector:
    """A distributed column vector: (row_id, value) — the result of an
    axis=1 reduction, usable as a broadcast operand (zappy's
    ``X / X.sum(axis=1)[:, np.newaxis]`` pattern) or a row mask.

    It is kept as the DataFrame it was reduced from (``_base``) plus
    a per-row Column expression over that DataFrame's ``vec``
    (``_expr``). Scalar arithmetic and comparisons compose onto the
    expression, so the vector stays fusable with its source frame."""

    def __init__(self, base: DataFrame, expr: Column):
        self._base = base
        self._expr = expr

    @property
    def df(self) -> DataFrame:  # columns: row_id, value
        return self._base.select("row_id", self._expr.alias("value"))

    def asndarray(self) -> np.ndarray:
        pdf = self.df.orderBy("row_id").toPandas()
        return pdf["value"].to_numpy()

    def _arith(self, fn) -> "ZappyVector":
        return ZappyVector(self._base, fn(self._expr))

    __add__ = __radd__ = _vector_op(operator.add)
    __sub__ = _vector_op(operator.sub)
    __rsub__ = _vector_op(lambda v, o: o - v)
    __mul__ = __rmul__ = _vector_op(operator.mul)
    __truediv__ = _vector_op(operator.truediv)
    __rtruediv__ = _vector_op(lambda v, o: o / v)
    # comparisons build masks, like numpy (== / != included)
    __gt__ = _vector_op(operator.gt)
    __ge__ = _vector_op(operator.ge)
    __lt__ = _vector_op(operator.lt)
    __le__ = _vector_op(operator.le)
    __eq__ = _vector_op(operator.eq)  # type: ignore[assignment]
    __ne__ = _vector_op(operator.ne)  # type: ignore[assignment]

    # __eq__ overridden for mask semantics; keep identity hashing
    __hash__ = object.__hash__


class ZappyFrame:
    """Distributed dense 2-D float matrix over a Spark DataFrame."""

    def __init__(self, df: DataFrame, ncols: int):
        self.df = df  # columns: row_id BIGINT, vec ARRAY<DOUBLE>
        self.ncols = ncols
        self._col_stats: dict[str, np.ndarray] | None = None

    # -- constructors ------------------------------------------------------

    @classmethod
    def from_ndarray(
        cls, spark: SparkSession, arr: np.ndarray, num_partitions: int | None = None
    ) -> "ZappyFrame":
        """zappy ``from_ndarray``: parallelize a local matrix.

        Chunk count maps to DataFrame partitions; Arrow handles the
        transfer batch-wise."""
        import pandas as pd

        arr = np.asarray(arr, dtype=np.float64)
        if arr.ndim != 2:
            raise ValueError("ZappyFrame models 2-D arrays")
        pdf = pd.DataFrame(
            {
                "row_id": np.arange(arr.shape[0], dtype=np.int64),
                # plain lists + explicit schema: works on any session,
                # with or without Arrow (ndarray cells break inference)
                "vec": [[float(v) for v in row] for row in arr],
            }
        )
        df = spark.createDataFrame(pdf, schema="row_id bigint, vec array<double>")
        if num_partitions:
            df = df.repartition(num_partitions, "row_id")
        return cls(df, arr.shape[1])

    @classmethod
    def from_columns(
        cls, df: DataFrame, cols: list[str], row_id_col: str | None = None
    ) -> "ZappyFrame":
        """Wide → tall: named numeric columns become the vec array
        (SURVEY §1.2's wide encoding — fine up to low-thousands of
        columns; lineitem's numeric columns are this shape). Without
        an id column, row ids are derived zipWithIndex-style with NO
        global sort: ``monotonically_increasing_id`` encodes
        ``(partition_id << 33) + local_index``; a per-partition count
        aggregate (one tiny job, ≤ num_partitions rows to the driver)
        yields cumulative offsets that are broadcast back as a map
        literal. Contiguous 0..n-1 ids, zero data shuffles — stable
        whenever the source partitioning is (files, cached frames).
        Pass row_id_col whenever the source has a real key."""
        if row_id_col is None:
            df = df.withColumn("_mid", F.monotonically_increasing_id())
            pid = F.shiftright(F.col("_mid"), 33)
            local = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
            parts = sorted(
                (r["_pid"], r["count"])
                for r in df.groupBy(pid.alias("_pid")).count().collect()
            )
            offsets, acc = [], 0
            for p, n in parts:
                offsets += [F.lit(int(p)).cast("bigint"), F.lit(acc)]
                acc += n
            off_map = F.create_map(*offsets) if offsets else F.lit(None)
            df = df.withColumn(
                "_rid",
                (F.element_at(off_map, pid) + local).cast("bigint"),
            )
            row_id_col = "_rid"
        vec = F.array(*[F.col(c).cast(_D) for c in cols])
        return cls(
            df.select(
                F.col(row_id_col).cast("bigint").alias("row_id"),
                vec.alias("vec"),
            ),
            len(cols),
        )

    def to_columns(self, names: list[str] | None = None) -> DataFrame:
        """Tall → wide: explode the vec back to named columns."""
        names = names or [f"c{i}" for i in range(self.ncols)]
        if len(names) != self.ncols:
            raise ValueError(f"need {self.ncols} names, got {len(names)}")
        return self.df.select(
            "row_id",
            *[
                F.element_at("vec", i + 1).alias(n)
                for i, n in enumerate(names)
            ],
        )

    @classmethod
    def from_parquet(
        cls, spark: SparkSession, path: str, vec_col: str, row_id_col: str
    ) -> "ZappyFrame":
        """zappy ``from_zarr`` analog: chunked columnar store → frame;
        one Spark input split per parquet row-group (the engine's
        ``get_chunk_indices``)."""
        df = spark.read.parquet(path).select(
            F.col(row_id_col).cast("bigint").alias("row_id"),
            F.transform(F.col(vec_col), lambda x: x.cast(_D)).alias("vec"),
        )
        first = df.select(F.size("vec")).first()
        if first is None:
            raise ValueError(
                f"empty dataset at {path}: column width is unknowable; "
                "construct via ZappyFrame(df, ncols) directly"
            )
        return cls(df, first[0])

    # -- internals ---------------------------------------------------------

    def _map(self, fn) -> "ZappyFrame":
        """Elementwise unary: one JVM ``transform`` lambda, no Python."""
        return ZappyFrame(
            self.df.select(
                "row_id", F.transform("vec", lambda x: fn(x)).alias("vec")
            ),
            self.ncols,
        )

    def _zip_other(self, other: "ZappyFrame", fn) -> "ZappyFrame":
        """Same-shape binary: equi-join on row_id + zip_with.

        The reference zips aligned RDD partitions (``rdd.zip``); a
        keyed join is the scale-safe equivalent (alignment survives
        repartitioning, AQE handles skew)."""
        o = other.df.select(
            F.col("row_id").alias("row_id_r"), F.col("vec").alias("vec_r")
        )
        j = self.df.join(o, F.col("row_id") == F.col("row_id_r"))
        return ZappyFrame(
            j.select(
                "row_id", F.zip_with("vec", "vec_r", fn).alias("vec")
            ),
            self.ncols,
        )

    def _zip_vector(self, vec: ZappyVector, fn) -> "ZappyFrame":
        """Column-vector broadcast (nrows×1 operand). A vector reduced
        from this frame's own DataFrame is one projection, its row
        scalar let-bound once per row; any other vector joins on
        row_id."""
        if vec._base is self.df:
            out = _let(
                vec._expr, lambda s: F.transform("vec", lambda x: fn(x, s))
            )
            return ZappyFrame(
                self.df.select("row_id", out.alias("vec")), self.ncols
            )
        o = vec.df.select(
            F.col("row_id").alias("row_id_r"), F.col("value").alias("value_r")
        )
        j = self.df.join(o, F.col("row_id") == F.col("row_id_r"))
        return ZappyFrame(
            j.select(
                "row_id",
                F.transform("vec", lambda x: fn(x, F.col("value_r"))).alias("vec"),
            ),
            self.ncols,
        )

    def _binary(self, other, fn) -> "ZappyFrame":
        if isinstance(other, ZappyFrame):
            return self._zip_other(other, fn)
        if isinstance(other, ZappyVector):
            return self._zip_vector(other, fn)
        if isinstance(other, (list, tuple, np.ndarray)):
            rv = _lit_vec(other)  # row-vector broadcast (1×ncols)
            return ZappyFrame(
                self.df.select(
                    "row_id", F.zip_with("vec", rv, fn).alias("vec")
                ),
                self.ncols,
            )
        lit = F.lit(float(other))  # scalar broadcast
        return ZappyFrame(
            self.df.select(
                "row_id", F.transform("vec", lambda x: fn(x, lit)).alias("vec")
            ),
            self.ncols,
        )

    # -- elementwise unary (numpy ufunc surface) ---------------------------

    def log1p(self):
        return self._map(F.log1p)

    def log(self):
        return self._map(F.log)

    def exp(self):
        return self._map(F.exp)

    def expm1(self):
        return self._map(F.expm1)

    def sqrt(self):
        return self._map(F.sqrt)

    def square(self):
        return self._map(lambda x: x * x)

    def abs(self):
        return self._map(F.abs)

    def sign(self):
        return self._map(F.signum)

    def floor(self):
        return self._map(lambda x: F.floor(x).cast(_D))

    def ceil(self):
        return self._map(lambda x: F.ceil(x).cast(_D))

    def negative(self):
        return self._map(lambda x: -x)

    def log2(self):
        return self._map(lambda x: F.log2(x))

    def log10(self):
        return self._map(lambda x: F.log10(x))

    def tanh(self):
        return self._map(F.tanh)

    def rint(self):
        # numpy rint = banker's rounding; Spark bround matches
        return self._map(lambda x: F.bround(x, 0))

    def clip(
        self,
        lo: float | None = None,
        hi: float | None = None,
        out=None,
        **_np_kwargs,
    ):
        """numpy clip (scanpy's post-log1p standard step).

        Signature accepts numpy's method-dispatch extras (``np.clip``
        forwards ``out=None`` positionally-after-bounds; rejecting it
        makes numpy silently fall back to returning the input)."""
        if out is not None:
            raise ValueError("out= is not supported on a distributed frame")
        if lo is None and hi is None:
            raise ValueError("clip needs at least one bound")

        def k(x):
            if lo is not None:
                x = F.greatest(x, F.lit(float(lo)))
            if hi is not None:
                x = F.least(x, F.lit(float(hi)))
            return x

        return self._map(k)

    def astype(self, dtype: str):
        spark_t = {
            "float64": "double", "float32": "float",
            "int64": "bigint", "int32": "int", "bool": "boolean",
        }.get(str(dtype), str(dtype))
        # vec stays ARRAY<DOUBLE> internally (values floored/clamped by
        # the round-trip cast); the numpy dtype tag applies when THIS
        # frame materializes. Further ops return untagged (float64)
        # frames — unlike numpy's dtype propagation; re-cast at the
        # end or pass asndarray(dtype=...) explicitly.
        out = self._map(lambda x: x.cast(spark_t).cast(_D))
        out._np_dtype = np.dtype(dtype)  # type: ignore[attr-defined]
        return out

    # -- numpy interop: np.log1p(zf) etc. dispatch here --------------------

    def __array_ufunc__(self, ufunc, method, *inputs, **kwargs):
        if method != "__call__":
            return NotImplemented
        name = ufunc.__name__
        unary = {
            "log1p": self.log1p, "log": self.log, "exp": self.exp,
            "expm1": self.expm1, "sqrt": self.sqrt, "square": self.square,
            "absolute": self.abs, "sign": self.sign, "floor": self.floor,
            "ceil": self.ceil, "negative": self.negative,
            "log2": self.log2, "log10": self.log10, "tanh": self.tanh,
            "rint": self.rint,
        }
        if len(inputs) == 1 and name in unary:
            return unary[name]()
        if name == "clip" and len(inputs) == 3 and inputs[0] is self:
            return self.clip(inputs[1], inputs[2])
        binary = {
            "add": "__add__", "subtract": "__sub__", "multiply": "__mul__",
            "true_divide": "__truediv__", "divide": "__truediv__",
            "power": "__pow__",
        }
        if len(inputs) == 2 and name in binary:
            a, b = inputs
            if a is self:
                return getattr(self, binary[name])(b)
            # reflected: scalar/ndarray op frame
            return getattr(self, {
                "add": "__radd__", "subtract": "__rsub__",
                "multiply": "__rmul__", "true_divide": "__rtruediv__",
                "divide": "__rtruediv__", "power": "__rpow__",
            }[name])(a)
        return NotImplemented

    # -- binary arithmetic (four broadcast shapes, SURVEY §2.1) ------------

    def __add__(self, other):
        return self._binary(other, lambda x, y: x + y)

    __radd__ = __add__

    def __sub__(self, other):
        return self._binary(other, lambda x, y: x - y)

    def __rsub__(self, other):
        return self._binary(other, lambda x, y: y - x)

    def __mul__(self, other):
        return self._binary(other, lambda x, y: x * y)

    __rmul__ = __mul__

    def __truediv__(self, other):
        return self._binary(other, lambda x, y: x / y)

    def __rtruediv__(self, other):
        return self._binary(other, lambda x, y: y / x)

    def __pow__(self, other):
        return self._binary(other, lambda x, y: F.pow(x, y))

    def __rpow__(self, other):
        return self._binary(other, lambda x, y: F.pow(y, x))

    def __neg__(self):
        return self.negative()

    # -- comparisons → boolean frame ---------------------------------------

    def _compare(self, other, fn) -> "ZappyFrame":
        # booleans kept as 0.0/1.0 doubles so the vec type is uniform;
        # asndarray(bool) recovers numpy bool semantics.
        return self._binary(
            other, lambda x, y: F.when(fn(x, y), 1.0).otherwise(0.0)
        )

    def __gt__(self, other):
        return self._compare(other, lambda x, y: x > y)

    def __ge__(self, other):
        return self._compare(other, lambda x, y: x >= y)

    def __lt__(self, other):
        return self._compare(other, lambda x, y: x < y)

    def __le__(self, other):
        return self._compare(other, lambda x, y: x <= y)

    def eq(self, other):
        return self._compare(other, lambda x, y: x == y)

    def ne(self, other):
        return self._compare(other, lambda x, y: x != y)

    # ==/!= build masks like the other comparisons (numpy semantics);
    # identity hashing retained explicitly
    __eq__ = eq
    __ne__ = ne
    __hash__ = object.__hash__

    def where(self, cond: "ZappyFrame", other) -> "ZappyFrame":
        """numpy ``np.where(cond, self, other)`` elementwise: keep
        this frame's value where ``cond`` is truthy (a 0/1 mask frame
        from the comparison operators), else ``other`` (scalar or
        same-shape frame). One row_id equi-join per operand frame +
        a single ``arrays_zip``+``transform`` projection — scan-side,
        no Python."""
        if isinstance(other, ZappyFrame):
            c = cond.df.select(
                F.col("row_id").alias("_rc"), F.col("vec").alias("_vc")
            )
            o = other.df.select(
                F.col("row_id").alias("_ro"), F.col("vec").alias("_vo")
            )
            j = (
                self.df.join(c, F.col("row_id") == F.col("_rc"))
                .join(o, F.col("row_id") == F.col("_ro"))
            )
            zipped = F.arrays_zip(
                F.col("vec").alias("a"),
                F.col("_vc").alias("c"),
                F.col("_vo").alias("o"),
            )
            out = F.transform(
                zipped,
                lambda s: F.when(s["c"] != 0.0, s["a"]).otherwise(s["o"]),
            )
            return ZappyFrame(
                j.select("row_id", out.alias("vec")), self.ncols
            )
        val = float(other)
        return self._zip_other(
            cond,
            lambda x, c: F.when(c != 0.0, x).otherwise(F.lit(val)),
        )

    def argmax(self, axis: int = 1):
        """Index of the max, numpy semantics (0-based, FIRST
        occurrence on ties). axis=1: one array_position over the
        row, JVM-side, zero shuffles → ZappyVector. axis=0 (round
        6; was a documented NotImplementedError): per-column
        aggregate → local int ndarray, same driver contract as
        sum(axis=0)."""
        return self._arg_extreme(axis, "max")

    def argmin(self, axis: int = 1):
        """Index of the min (np.argmin); same axis semantics as
        argmax."""
        return self._arg_extreme(axis, "min")

    def _arg_extreme(self, axis: int, kind: str):
        if axis == 0:
            # Per-column argmax = the SMALLEST row_id attaining the
            # extreme. One struct-aggregate per column: max of
            # (x, -row_id) orders by value first then by negated id,
            # so ties resolve to the first occurrence exactly as
            # numpy does — deterministic with zero window stages,
            # the same posexplode + groupBy(pos) shuffle shape as
            # _col_agg (ncols keys, partial-agg'd map-side).
            ex = self.df.select(
                "row_id", F.posexplode("vec").alias("pos", "x")
            )
            if kind == "max":
                s = F.struct(
                    F.col("x").cast(_D).alias("x"),
                    (-F.col("row_id")).alias("nr"),
                )
                rid = -F.max(F.col("s"))["nr"]
            else:
                s = F.struct(
                    F.col("x").cast(_D).alias("x"),
                    F.col("row_id").alias("r"),
                )
                rid = F.min(F.col("s"))["r"]
            rows = (
                ex.select("pos", s.alias("s"))
                .groupBy("pos")
                .agg(rid.alias("v"))
                .collect()
            )
            rows.sort(key=lambda r: r["pos"])  # ncols rows: driver-side
            return np.array([r["v"] for r in rows], dtype=np.int64)
        extreme_fn = F.array_max if kind == "max" else F.array_min
        v = F.transform("vec", lambda x: x.cast(_D))
        idx = (F.array_position(v, extreme_fn(v)) - 1).cast("double")
        return ZappyVector(self.df, idx)

    def median(self, axis: int = 1) -> "ZappyVector":
        """Per-row median (np.median(axis=1) — scanpy's
        normalize_per_cell gather, SURVEY §2.1 MED row): sort the
        row's array once and interpolate the middle, all JVM-side
        (array_sort + element_at), one scan, zero shuffles. axis=0
        (per-column median over all rows) is the z20 aggregate form —
        use percentile on to_columns output for that."""
        if axis != 1:
            raise NotImplementedError(
                "median(axis=0) is an aggregate — use the z20 form "
                "(F.percentile on to_columns output)"
            )
        n = self.ncols
        srt = F.array_sort(F.transform("vec", lambda x: x.cast(_D)))
        if n % 2 == 1:
            med = F.element_at(srt, n // 2 + 1)
        else:
            med = (
                F.element_at(srt, n // 2) + F.element_at(srt, n // 2 + 1)
            ) / 2.0
        return ZappyVector(self.df, med)

    def cumsum(self, axis: int = 1) -> "ZappyFrame":
        """numpy ``cumsum`` along rows (axis=1): per-row prefix sums
        via one array-accumulator ``aggregate`` lambda — scan-side at
        any nrows. axis=0 (a running sum DOWN the rows) is a global
        ordered window — single-partition by semantics; use the
        bucketed two-pass ranking pattern (operators/ranking.py) for
        that shape instead."""
        if axis != 1:
            raise NotImplementedError(
                "cumsum(axis=0) is a global ordered window; see "
                "operators/ranking.py for the scale-safe two-pass form"
            )
        prefix = lambda v: F.aggregate(  # noqa: E731
            v,
            F.array().cast("array<double>"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(0.0))
                    + x.cast("double")
                ),
            ),
        )
        return ZappyFrame(
            self.df.select("row_id", prefix(F.col("vec")).alias("vec")),
            self.ncols,
        )

    # -- aggregations ------------------------------------------------------

    def _row_reduce(self, col_fn) -> ZappyVector:
        return ZappyVector(self.df, col_fn(F.col("vec")))

    _COL_STATS = {
        "sum": F.sum, "mean": F.avg, "var0": F.var_pop, "var1": F.var_samp,
        "min": F.min, "max": F.max,
    }

    def _col_agg(self, stat: str) -> np.ndarray:
        """axis=0: a per-column statistic → local ndarray (zappy
        returns a driver-side array here too). One posexplode +
        groupBy(pos) pass computes every ``_COL_STATS`` entry with
        Spark's own (numerically stable) aggregates and memoizes them
        on the frame, so mean then var reads the source once. Partial
        aggregation makes the shuffle ncols×npartitions rows,
        independent of nrows; the ncols result rows are sorted on the
        driver (an orderBy would add a range-sampling job)."""
        if self._col_stats is None:
            ex = self.df.select(F.posexplode("vec").alias("pos", "x"))
            rows = ex.groupBy("pos").agg(
                *[fn("x").alias(k) for k, fn in self._COL_STATS.items()]
            ).collect()
            rows.sort(key=lambda r: r["pos"])
            self._col_stats = {
                k: np.array([r[k] for r in rows], dtype=np.float64)
                for k in self._COL_STATS
            }
        return self._col_stats[stat].copy()

    def dot(self, w):
        """zappy ``X @ w``: matrix–vector (1-D ``w`` → ZappyVector)
        or matrix–matrix against a LOCAL weight matrix (2-D ``w``,
        ncols×m → ZappyFrame with m columns). Weights ship as array
        literals; every output value is a scan-side
        ``zip_with``+``aggregate`` lambda — fully distributed, zero
        shuffles, no Python in the loop (the PCA projection in
        operators/linalg.py is this same literal-broadcast pattern).
        A distributed-right-operand matmul is out of scope by design:
        at 100 TB you broadcast the small side or you don't matmul."""
        w_arr = np.asarray(w, dtype=np.float64)
        if w_arr.ndim == 1:
            arr = [float(v) for v in w_arr]
            if len(arr) != self.ncols:
                raise ValueError(
                    f"weight length {len(arr)} != ncols {self.ncols}"
                )
            return self._row_reduce(
                lambda v: F.aggregate(
                    F.zip_with(
                        v, _lit_vec(arr), lambda x, y: x.cast("double") * y
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            )
        if w_arr.ndim != 2 or w_arr.shape[0] != self.ncols:
            raise ValueError(
                f"weight shape {w_arr.shape} incompatible with ncols "
                f"{self.ncols}"
            )

        def col_dot(v, col):
            return F.aggregate(
                F.zip_with(
                    v,
                    _lit_vec([float(x) for x in col]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )

        out = F.array(
            *[col_dot(F.col("vec"), w_arr[:, j]) for j in range(w_arr.shape[1])]
        )
        return ZappyFrame(
            self.df.select("row_id", out.alias("vec")), int(w_arr.shape[1])
        )

    __matmul__ = dot

    def sum(self, axis: int | None = None):
        if axis == 1:
            return self._row_reduce(
                lambda v: F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
            )
        if axis == 0:
            return self._col_agg("sum")
        return float(
            self.df.select(
                F.sum(F.aggregate("vec", F.lit(0.0), lambda a, x: a + x))
            ).first()[0]
        )

    def mean(self, axis: int | None = None):
        if axis == 1:
            return self._row_reduce(
                lambda v: F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
                / F.size(v)
            )
        if axis == 0:
            return self._col_agg("mean")
        return self.sum() / (self.count_rows() * self.ncols)

    def _row_var(self, ddof: int):
        """Per-row variance of the array column: E[x²] − mean², with
        the ddof correction applied n/(n−ddof) — one array-lambda
        expression, fully distributed."""
        def expr(v):
            n = F.size(v).cast("double")
            m_expr = (
                F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double"))
                / n
            )

            # r12: LET-BIND the mean — interpreted HOFs have no CSE,
            # so referencing the mean fold inside the ssd lambda
            # re-ran it per ELEMENT (O(n²) per row). Same value,
            # bit-identical result.
            def _ssd(m):
                # centered sum of squares, not E[x²]−mean²
                # (cancellation)
                ssd = F.aggregate(
                    v,
                    F.lit(0.0),
                    lambda a, x: a
                    + (x.cast("double") - m) * (x.cast("double") - m),
                )
                # numpy returns nan for n <= ddof; 0/0 reproduces that
                return ssd / (n - F.lit(float(ddof)))

            return _let(m_expr, _ssd)

        return expr

    def var(self, axis: int | None = 0, ddof: int = 0):
        if axis == 1:
            return self._row_reduce(self._row_var(ddof))
        if axis != 0:
            raise NotImplementedError("var: axis in (0, 1) only")
        return self._col_agg("var1" if ddof == 1 else "var0")

    def std(self, axis: int | None = 0, ddof: int = 0):
        if axis == 1:
            inner = self._row_var(ddof)
            return self._row_reduce(lambda v: F.sqrt(inner(v)))
        if axis != 0:
            raise NotImplementedError("std: axis in (0, 1) only")
        # Spark's stddev_* is sqrt(var_*): the same value
        return np.sqrt(self._col_agg("var1" if ddof == 1 else "var0"))

    def min(self, axis: int | None = None):
        if axis == 1:
            return self._row_reduce(F.array_min)
        if axis == 0:
            return self._col_agg("min")
        return float(self.df.select(F.min(F.array_min("vec"))).first()[0])

    def max(self, axis: int | None = None):
        if axis == 1:
            return self._row_reduce(F.array_max)
        if axis == 0:
            return self._col_agg("max")
        return float(self.df.select(F.max(F.array_max("vec"))).first()[0])

    def count_nonzero(self) -> int:
        return int(
            self.df.select(
                F.sum(
                    F.size(F.filter("vec", lambda x: x != 0.0))
                )
            ).first()[0]
        )

    def any(self) -> bool:
        return bool(
            self.df.select(
                F.max(F.exists("vec", lambda x: x != 0.0))
            ).first()[0]
        )

    def all(self) -> bool:
        return bool(
            self.df.select(
                F.min(F.forall("vec", lambda x: x != 0.0))
            ).first()[0]
        )

    def count_rows(self) -> int:
        return self.df.count()

    @property
    def shape(self) -> tuple[int, int]:
        return (self.count_rows(), self.ncols)

    # -- selection / indexing (zappy __getitem__) ---------------------------

    def __getitem__(self, key):
        rows, cols = key if isinstance(key, tuple) else (key, slice(None))
        zf = self
        # row selector
        if isinstance(rows, ZappyVector) and rows._base is zf.df:
            # boolean mask reduced from this DataFrame: a row filter
            # in the same scan. The vec is nulled on dropped rows and
            # the nulls filtered, never a plain filter on the mask:
            # Catalyst merges a plain filter with filters pushed down
            # from later steps (posexplode's not-null / non-empty),
            # and subexpression elimination then evaluates the later
            # steps' lambdas (x / rowsum) on rows the mask drops —
            # DIVIDE_BY_ZERO under ANSI. A higher-order function over
            # a NULL array returns NULL without running its lambda.
            keep = F.when(rows._expr.cast("boolean"), F.col("vec"))
            zf = ZappyFrame(
                zf.df.select("row_id", keep.alias("vec")).where(
                    F.col("vec").isNotNull()
                ),
                zf.ncols,
            )
        elif isinstance(rows, ZappyVector):
            # boolean mask from another frame (zappy EP3): semi-join
            mask = rows.df.filter(F.col("value").cast("boolean")).select(
                F.col("row_id").alias("row_id_m")
            )
            zf = ZappyFrame(
                zf.df.join(
                    mask, F.col("row_id") == F.col("row_id_m"), "left_semi"
                ),
                zf.ncols,
            )
        elif isinstance(rows, slice):
            if not (
                rows.start is None and rows.stop is None and rows.step is None
            ):
                if rows.step == 0:
                    raise ValueError("slice step cannot be zero")
                if (rows.step or 1) < 0:
                    raise NotImplementedError(
                        "negative slice steps (row reversal) are not "
                        "supported: results materialize in row_id order"
                    )
                # slices are POSITIONAL over the current frame (numpy
                # semantics) — row_ids of a derived frame (after a
                # mask or prior slice) are not dense, so positions are
                # derived with a row_number window. Global window:
                # same single-ordering cost as zappy's positional
                # model; selected rows KEEP their row_ids (consistent
                # with boolean masking).
                from pyspark.sql import Window

                pos = F.row_number().over(Window.orderBy("row_id")) - 1
                with_pos = zf.df.withColumn("_pos", pos)
                if (rows.start or 0) < 0 or (
                    rows.stop is not None and rows.stop < 0
                ):
                    lo, hi, step = rows.indices(zf.count_rows())
                else:
                    lo, hi, step = rows.start or 0, rows.stop, rows.step or 1
                cond = F.col("_pos") >= lo
                if hi is not None:
                    cond = cond & (F.col("_pos") < hi)
                if step != 1:
                    cond = cond & ((F.col("_pos") - lo) % step == 0)
                zf = ZappyFrame(
                    with_pos.filter(cond).drop("_pos"), zf.ncols
                )
        else:
            raise TypeError(f"unsupported row selector: {type(rows)}")
        # column selector
        if isinstance(cols, slice):
            if cols.start is None and cols.stop is None:
                return zf
            idx = list(range(*cols.indices(zf.ncols)))
        elif isinstance(cols, (list, tuple, np.ndarray)):
            arr = np.asarray(cols)
            if arr.dtype == bool:
                idx = [i for i, b in enumerate(arr) if b]
            else:
                idx = [int(i) for i in arr]
        else:
            raise TypeError(f"unsupported column selector: {type(cols)}")
        picked = F.array(
            *[F.element_at("vec", i + 1) for i in idx]
        )  # element_at is 1-based
        return ZappyFrame(
            zf.df.select("row_id", picked.alias("vec")), len(idx)
        )

    # -- materialization ----------------------------------------------------

    def asndarray(self, dtype=None) -> np.ndarray:
        """Collect to the driver (zappy ``asndarray``); Arrow-batched.
        ``dtype`` overrides the frame's astype tag if given."""
        pdf = self.df.orderBy("row_id").toPandas()
        out = np.stack(pdf["vec"].to_numpy()) if len(pdf) else np.empty(
            (0, self.ncols)
        )
        dtype = dtype if dtype is not None else getattr(self, "_np_dtype", None)
        return out.astype(dtype) if dtype is not None else out

    def to_parquet(self, path: str, num_chunks: int | None = None) -> None:
        """zappy ``to_zarr`` analog: rechunk + parallel aligned write.

        ``repartitionByRange`` on row_id reproduces the reference's
        ``_repartition_chunks`` uniform-chunk rebuild (its only
        shuffle) with a range shuffle."""
        df = self.df
        if num_chunks:
            df = df.repartitionByRange(num_chunks, "row_id")
        df.write.mode("overwrite").parquet(path)

    def repartition(self, n: int) -> "ZappyFrame":
        return ZappyFrame(self.df.repartitionByRange(n, "row_id"), self.ncols)

    # -- zarr-analog chunked store (sources/zarrlite.py) -------------------

    def to_zarrlite(self, path: str, chunk_rows: int) -> None:
        """zappy ``to_zarr``: uniform rechunk + parallel aligned chunk
        writes by executors, store metadata by the driver."""
        from zappy_spark.sources.zarrlite import write_zarrlite

        write_zarrlite(self.df, path, chunk_rows, self.ncols)

    @classmethod
    def from_zarrlite(cls, spark: SparkSession, path: str) -> "ZappyFrame":
        """zappy ``from_zarr``: one Spark input partition per stored
        chunk via the Python DataSource API. Accepts both the legacy
        layout and real zarr v2 stores (``.zarray`` auto-detected)."""
        from zappy_spark.sources.zarrlite import _load_meta, read_zarrlite

        meta = _load_meta(path)
        return cls(read_zarrlite(spark, path), meta["shape"][1])

    def to_zarr_v2(
        self, path: str, chunk_rows: int, compressor: str | None = None
    ) -> None:
        """Write a real zarr v2 store (``.zarray`` + raw C-order
        chunks) readable by the actual ``zarr`` library — see
        sources/zarrlite.py::write_zarr_v2."""
        from zappy_spark.sources.zarrlite import write_zarr_v2

        write_zarr_v2(self.df, path, chunk_rows, self.ncols, compressor)
