"""Per-file column statistics from parquet FOOTERS — zero data I/O.

Merge/compact/delete commits need per-file ``numRecords`` /
``minValues`` / ``maxValues`` / ``nullCount`` for the add actions
(Delta) or ``lower_bounds`` / ``upper_bounds`` (Iceberg manifests).
The engine used to re-read every byte it had just written with a
grouped Spark aggregate — a second full pass over the merge output per
commit, which at 100 TB merge throughput doubles write-path I/O.

Parquet footers already carry exact chunk statistics (min / max /
null_count per row group, written by parquet-mr under Spark), so this
module reads them driver-side via :mod:`pyarrow.parquet` metadata —
the files were just written locally and a footer read is a few KB per
file, no executors involved.

Exactness contract: a value is used ONLY when it is provably identical
to what the old Spark aggregate would have computed — same Python
type, same ordering semantics. Anything unprovable (missing stats,
INT96 timestamps, NaN or signed-zero float bounds, unknown logical
types) returns ``None`` and the caller falls back to the Spark job,
so this is strictly an I/O optimization, never a semantics change.

Per-type notes (probed against pyarrow + Spark 4 parquet-mr output):

- int8/16/32/64 → python int, exact.
- float/double → exact, BUT parquet-mr's comparator (Double.compare)
  and Spark's aggregate ordering differ on signed zero, and NaN
  poisons footer min/max — either bound being NaN or ±0.0 triggers
  fallback.
- string → pyarrow decodes UTF-8; parquet-mr chunk statistics are NOT
  truncated (only column indexes are), and unsigned-byte UTF-8 order
  equals code-point order, which is Spark's UTF8String order.
- date → ``datetime.date``, exact.
- timestamp_ntz → naive ``datetime``, exact.
- timestamp (LTZ) → requires TIMESTAMP_MICROS output (session default
  — see ``session.SCALE_CONF``; INT96 carries no usable stats);
  pyarrow returns an aware-UTC datetime, converted here to the naive
  session-timezone datetime that ``df.collect()`` yields.
- decimal(p, s) → pyarrow casts FLBA-backed stats natively; for
  INT32/INT64-backed small precisions it raises, so the raw unscaled
  int is rescaled by hand (``Decimal(raw).scaleb(-s)`` keeps trailing
  zeros, matching Spark's collected ``Decimal``).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
from zoneinfo import ZoneInfo

from pyspark.sql import types as T

__all__ = [
    "file_stats",
    "footer_file_stats",
    "kind_of_spark_type",
    "kind_of_iceberg_type",
    "norm_float_zero",
]


def norm_float_zero(v):
    """Canonicalize -0.0 to +0.0 (numerically equal, sign-ambiguous in
    parquet footers); everything else passes through. The Spark
    fallback aggregates apply this to their float min/max so footer
    and fallback stats are interchangeable byte-for-byte."""
    if isinstance(v, float) and v == 0.0:
        return 0.0
    return v


def kind_of_spark_type(dt: T.DataType):
    """Map a Spark type to this module's conversion kind, or None for
    types whose footer stats we do not prove (→ caller falls back)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "ts_ntz"
    if isinstance(dt, T.TimestampType):
        return "ts_ltz"
    if isinstance(dt, T.DecimalType):
        return ("dec", dt.scale)
    return None


def kind_of_iceberg_type(ice_t: str):
    """Mapping from an Iceberg primitive type name — but only for the
    types ``encode_bound`` serializes (int/long/float/double/string);
    for every other type the manifest entry carries null counts but no
    bounds, so footer min/max need not be proven (``nulls_only``)."""
    if ice_t in ("int", "long"):
        return "int"
    if ice_t in ("float", "double"):
        return "float"
    if ice_t == "string":
        return "string"
    return "nulls_only"


def _convert(kind, v, tz: str):
    """Convert one pyarrow statistics value to the exact Python object
    ``df.collect()`` would yield, or raise ``ValueError`` (unprovable)."""
    if kind == "int":
        if isinstance(v, bool) or not isinstance(v, int):
            raise ValueError("int stat not int")
        return v
    if kind == "float":
        if not isinstance(v, float):
            raise ValueError("float stat not float")
        if math.isnan(v):  # NaN poisons footer min/max ordering
            raise ValueError("NaN float bound")
        # A ±0.0 bound is sign-ambiguous (parquet writers adjust a
        # +0.0 min to -0.0 / a -0.0 max to +0.0 per PARQUET-1246, and
        # Spark's own min/max keeps whichever equal zero it saw
        # first), but the two zeros compare EQUAL in every consumer —
        # stats-JSON pruning, Iceberg bound evaluation, query
        # predicates — so both the footer path and the Spark-aggregate
        # fallback canonicalize to +0.0 (norm_float_zero) and the
        # values are provably interchangeable. Rejecting zero bounds
        # outright forced a full re-scan of every commit whose floats
        # merely touch 0.0.
        return 0.0 if v == 0.0 else v
    if kind == "string":
        if not isinstance(v, str):
            raise ValueError("string stat not decoded")
        return v
    if kind == "bool":
        if not isinstance(v, bool):
            raise ValueError("bool stat not bool")
        return v
    if kind == "date":
        if not isinstance(v, datetime.date) or isinstance(
            v, datetime.datetime
        ):
            raise ValueError("date stat not date")
        return v
    if kind == "ts_ntz":
        if not isinstance(v, datetime.datetime) or v.tzinfo is not None:
            raise ValueError("ntz stat not naive datetime")
        return v
    if kind == "ts_ltz":
        if not isinstance(v, datetime.datetime) or v.tzinfo is None:
            # INT96 (no stats) or unadjusted int64 — unprovable
            raise ValueError("ltz stat not aware datetime")
        return v.astimezone(ZoneInfo(tz)).replace(tzinfo=None)
    if isinstance(kind, tuple) and kind[0] == "dec":
        scale = kind[1]
        with decimal.localcontext() as ctx:
            ctx.prec = 50
            if isinstance(v, decimal.Decimal):
                return +v
            if isinstance(v, bool):
                raise ValueError("decimal stat bool")
            if isinstance(v, int):  # raw unscaled INT32/INT64
                return decimal.Decimal(v).scaleb(-scale)
            if isinstance(v, bytes):  # raw FLBA big-endian two's compl.
                return decimal.Decimal(
                    int.from_bytes(v, "big", signed=True)
                ).scaleb(-scale)
        raise ValueError("decimal stat unconvertible")
    raise ValueError(f"unknown kind {kind!r}")


def _col_stat(st, kind, tz: str):
    """(min, max, nulls, n_values) for one row-group column chunk, or
    raise ``ValueError`` when the footer cannot prove the values."""
    if st is None or not st.has_null_count:
        raise ValueError("no statistics")
    nulls = int(st.null_count)
    if not st.has_min_max:
        return None, None, nulls, None  # legal iff the chunk is all-null
    if isinstance(kind, tuple) and kind[0] == "dec":
        try:
            mn, mx = st.min, st.max
        except Exception:  # INT32/INT64-backed: pyarrow can't cast
            mn, mx = st.min_raw, st.max_raw
    else:
        mn, mx = st.min, st.max
    return _convert(kind, mn, tz), _convert(kind, mx, tz), nulls, None


def footer_file_stats(
    paths: list[str],
    stat_cols: list[str],
    kinds: dict,
    session_tz: str = "UTC",
) -> dict | None:
    """Exact per-file stats for ``stat_cols`` from parquet footers.

    Returns ``{basename: {"rows": int, "min": {col: v}, "max": {col: v},
    "nulls": {col: int}}}`` (a column is absent from min/max when all
    its values in the file are null — matching the Spark aggregate's
    ``F.min == None``), with zero-row files omitted (matching the
    grouped aggregate, where they contribute no group).

    Returns ``None`` whenever ANY column of ANY file is not provably
    exact — the caller must then run the Spark-aggregate fallback.
    """
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    for c in stat_cols:
        if kinds.get(c) is None:
            return None
    out: dict[str, dict] = {}
    for path in paths:
        local = path[7:] if path.startswith("file://") else path
        try:
            md = pq.read_metadata(local)
        except Exception:
            return None
        rows = int(md.num_rows)
        if rows == 0:
            continue
        # column-chunk index by dotted path (stat cols are top-level)
        idx: dict[str, int] = {}
        rg0 = md.row_group(0) if md.num_row_groups else None
        if rg0 is None:
            continue
        for j in range(rg0.num_columns):
            idx[rg0.column(j).path_in_schema] = j
        st: dict = {"rows": rows, "min": {}, "max": {}, "nulls": {}}
        try:
            for c in stat_cols:
                if c not in idx:
                    raise ValueError(f"column {c!r} missing from footer")
                kind = kinds[c]
                mn = mx = None
                nulls = 0
                n_vals = 0
                for g in range(md.num_row_groups):
                    cc = md.row_group(g).column(idx[c])
                    n_vals += int(cc.num_values)
                    if kind == "nulls_only":
                        cst = cc.statistics
                        if cst is None or not cst.has_null_count:
                            raise ValueError("no null count")
                        nulls += int(cst.null_count)
                        continue
                    g_mn, g_mx, g_nulls, _ = _col_stat(
                        cc.statistics, kind, session_tz
                    )
                    nulls += g_nulls
                    if g_mn is None:
                        # chunk carried no min/max: provable only if
                        # every value in the chunk is null
                        if g_nulls != int(cc.num_values):
                            raise ValueError("missing min/max, not all-null")
                        continue
                    mn = g_mn if mn is None else min(mn, g_mn)
                    mx = g_mx if mx is None else max(mx, g_mx)
                if n_vals != rows:
                    raise ValueError("column chunk rows != file rows")
                if mn is not None:
                    st["min"][c] = mn
                    st["max"][c] = mx
                st["nulls"][c] = nulls
        except ValueError:
            return None
        out[os.path.basename(local)] = st
    return out


def file_stats(
    spark,
    paths: list[str],
    stat_cols: list[str],
    kinds: dict,
    schema: T.StructType | None = None,
) -> dict[str, dict]:
    """Per-file stats of just-written parquet files, in
    ``footer_file_stats``' shape: from the footers when every value is
    provably exact, else from ONE grouped Spark aggregate over all the
    files (``schema``, when given, spares that read its inference job).
    Both paths key files by basename, omit zero-row files and
    canonicalize float zeros, so callers cannot tell them apart; each
    table format encodes the result into its own metadata. An
    unreadable footer falls back too: the aggregate then either
    answers or fails the commit before anything is published."""
    from pyspark.sql import functions as F

    ft = footer_file_stats(
        paths,
        stat_cols,
        kinds,
        session_tz=spark.conf.get("spark.sql.session.timeZone", "UTC"),
    )
    if ft is not None:
        return ft
    reader = spark.read if schema is None else spark.read.schema(schema)
    frame = reader.parquet(*paths)
    if stat_cols:
        frame = frame.select(*stat_cols)
    aggs = [F.count(F.lit(1)).alias("rows")]
    for i, c in enumerate(stat_cols):
        aggs += [
            F.min(c).alias(f"__mn{i}"),
            F.max(c).alias(f"__mx{i}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn{i}"),
        ]
    out: dict[str, dict] = {}
    for r in (
        frame.withColumn("__f", F.input_file_name())
        .groupBy("__f")
        .agg(*aggs)
        .collect()
    ):
        st: dict = {"rows": int(r["rows"]), "min": {}, "max": {}, "nulls": {}}
        for i, c in enumerate(stat_cols):
            mn = norm_float_zero(r[f"__mn{i}"])
            if mn is not None:
                st["min"][c] = mn
                st["max"][c] = norm_float_zero(r[f"__mx{i}"])
            st["nulls"][c] = int(r[f"__nn{i}"])
        out[r["__f"].rsplit("/", 1)[-1]] = st
    return out
