"""The format-neutral core of a copy-on-write commit.

The Delta (``delta_table.py``), Iceberg (``iceberg_table.py``) and
manifest (``manifest_table.py``) tables all upsert the same way; this
module owns every step that does not depend on the table format, and
each format module keeps only its own metadata (log actions, manifests
and snapshots, JSON manifests), partition encoding and lineage:

1. ``dedupe_latest`` — reduce the batch to its latest row per (key,
   scope) with a ``ts`` tiebreak (``latest_per_key``), behind a lazy
   ``localCheckpoint``;
2. ``batch_key_stats`` — ONE grouped aggregate that materializes the
   checkpoint and yields per-scope key stats, plus the exact per-scope
   key lists when the batch fits ``MAX_DRIVER_KEYS``;
3. ``affected`` — the file-pruning rule: a file is rewritten only if a
   batch key can fall inside its [min, max] key range;
4. ``pid_lookup`` / ``route`` / ``route_files`` — a surrogate ``__pid``
   per touched scope (partition), for batch rows by their scope values
   and for rows read back by their source file, so ONE anti-join and
   ONE write cover every partition and partition values never
   round-trip through directory names;
5. ``upsert`` — the null-safe (key, pid) anti-join of the affected rows
   against the batch, union the batch (matched batch rows optionally
   keeping the target row's lineage id);
6. ``write_by_pid`` — the Delta and Iceberg plain or
   ``partitionBy("__pid")`` write whose part files each format then
   names and publishes itself;
7. per-file stats of the new files come from
   ``formats.footer_stats.file_stats`` (parquet footers, one Spark
   aggregate as the fallback), which each format encodes into its own
   metadata.

The conditional-MERGE clause algebra (``validate_merge_clauses``,
``apply_merge_clauses``, ``apply_insert_clauses``) and the Z-order key
(``with_zorder_value``) are format-agnostic too and live here.

A scope is the tuple of values a merge is partition-scoped by: the
partition column values (Delta), the transformed partition values
(Iceberg) or ``()`` for an unpartitioned table.
"""

from __future__ import annotations

import os
from bisect import bisect_left

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from optimus_any2any_spark.localrel import local_rows_df

# batch key lists above this size stay on the executors: pruning falls
# back from exact key membership to range overlap
MAX_DRIVER_KEYS = 100_000


def affected(files: list[dict], keys: list | None, kmin, kmax,
             has_null: bool) -> tuple[list[dict], list[dict]]:
    """Split pruning entries into (affected, untouched) by key stats.

    An entry is ``{"path", "rows", "min_key", "max_key",
    "has_null_key", "prunable"}``; each format maps its own file
    metadata to this shape. ``keys`` is the batch's sorted non-null key
    list (exact membership) or None (range overlap against
    [kmin, kmax])."""
    hit, miss = [], []
    for f in files:
        if f["rows"] == 0:
            miss.append(f)
            continue
        if not f.get("prunable", True):
            # key type does not survive the stats round-trip (timestamp,
            # decimal, ...): stats are unusable, treat as affected
            hit.append(f)
            continue
        if has_null and f.get("has_null_key"):
            hit.append(f)
            continue
        fmin, fmax = f["min_key"], f["max_key"]
        if fmin is None:  # file holds only null keys
            miss.append(f)
            continue
        if keys is not None:
            i = bisect_left(keys, fmin)
            if i < len(keys) and keys[i] <= fmax:
                hit.append(f)
            else:
                miss.append(f)
        else:  # too many batch keys for the driver: range overlap
            if kmin is not None and fmin <= kmax and fmax >= kmin:
                hit.append(f)
            else:
                miss.append(f)
    return hit, miss


def latest_per_key(
    batch: DataFrame, key_col: str, ts_col: str, scope_cols=()
) -> DataFrame:
    """The batch's latest row per (key, scope), ``ts`` descending."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col, *scope_cols).orderBy(
        F.col(ts_col).desc()
    )
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedupe_latest(
    batch: DataFrame, key_col: str, ts_col: str, scope_cols=()
) -> DataFrame:
    """``latest_per_key`` behind a lazy checkpoint: the first action over
    it (``batch_key_stats``) materializes it, and every later consumer
    reads the pinned rows."""
    return latest_per_key(
        batch, key_col, ts_col, scope_cols
    ).localCheckpoint(eager=False)


def batch_key_stats(
    latest: DataFrame, key_col: str, scope_cols=(), extra_aggs=()
) -> tuple[int, dict[tuple, dict], list]:
    """Per-scope key stats of a deduped batch.

    Returns ``(n_total, scopes, rows)``: ``scopes`` maps each touched
    scope tuple to ``{"n", "keys", "kmin", "kmax", "has_null"}`` and
    ``rows`` are the grouped aggregate's rows (which carry the
    ``extra_aggs`` columns). The grouped aggregate doubles as the
    checkpoint's materializer and yields ``n_total``; the exact sorted
    key lists (the sharper file pruner) cost one more collect, run only
    when the batch fits ``MAX_DRIVER_KEYS`` — ``latest`` holds one row
    per (key, scope), so that collect IS the distinct key set. Over the
    cap, ``keys`` is None and pruning uses the aggregate's range.

    An empty unscoped batch still yields the one ``()`` scope: a
    not-matched-by-source clause routes every live row through it."""
    rows = (
        latest.groupBy(*scope_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(key_col).alias("kmin"),
            F.max(key_col).alias("kmax"),
            F.max(F.col(key_col).isNull().cast("int")).alias("null_key"),
            *extra_aggs,
        )
        .collect()
    )
    n_total = sum(int(r["n"]) for r in rows)
    scopes: dict[tuple, dict] = {}
    if 0 < n_total <= MAX_DRIVER_KEYS:
        grouped: dict[tuple, list] = {}
        for r in latest.select(*scope_cols, key_col).collect():
            grouped.setdefault(
                tuple(r[c] for c in scope_cols), []
            ).append(r[key_col])
        for pt, vals in grouped.items():
            nn = sorted(v for v in vals if v is not None)
            scopes[pt] = {
                "n": len(vals),
                "keys": nn,
                "kmin": nn[0] if nn else None,
                "kmax": nn[-1] if nn else None,
                "has_null": len(nn) < len(vals),
            }
    else:
        scopes = {
            tuple(r[c] for c in scope_cols): {
                "n": r["n"],
                "keys": None,
                "kmin": r["kmin"],
                "kmax": r["kmax"],
                "has_null": bool(r["null_key"]),
            }
            for r in rows
            if r["n"]
        }
    if not scopes and not scope_cols:
        scopes = {
            (): {"n": 0, "keys": [], "kmin": None, "kmax": None,
                 "has_null": False}
        }
    return n_total, scopes, rows


def pid_lookup(
    spark: SparkSession, ptuples: list[tuple], scope_schema: T.StructType
) -> DataFrame:
    """The (scope columns..., ``__pid``) lookup as a LocalRelation, where
    a scope's pid is its position in ``ptuples``. ``scope_schema`` types
    the scope columns."""
    schema = T.StructType(
        list(scope_schema.fields)
        + [T.StructField("__pid", T.IntegerType(), False)]
    )
    return local_rows_df(
        spark, [pt + (i,) for i, pt in enumerate(ptuples)], schema
    )


def route(
    frame: DataFrame, keep_cols: list[str], scope_cols, pid_df
) -> DataFrame:
    """``keep_cols`` plus each row's ``__pid``: a constant 0 when
    ``pid_df`` is None (one touched scope — no join, and a plain write
    downstream), else a broadcast null-safe match of the row's scope
    values against ``pid_df``."""
    if pid_df is None:
        return frame.select(*keep_cols).withColumn(
            "__pid", F.lit(0).cast("int")
        )
    pcond = None
    for c in scope_cols:
        e = F.col(f"b.{c}").eqNullSafe(F.col(f"pd.{c}"))
        pcond = e if pcond is None else (pcond & e)
    return (
        frame.alias("b")
        .join(F.broadcast(pid_df.alias("pd")), pcond, "inner")
        .select(*[F.col(f"b.{c}") for c in keep_cols], F.col("pd.__pid"))
    )


def route_files(
    frame: DataFrame, bn_col: str, bn_pids: list[tuple[str, int]],
    verb: str,
) -> DataFrame:
    """``frame`` with each row's ``__pid`` taken from the file it was
    read from: ``bn_col`` holds the source file's basename and
    ``bn_pids`` maps basenames to pids (a broadcast lookup that drops
    ``bn_col``). Colliding basenames would misattribute rows, so they
    refuse."""
    if len({b for b, _ in bn_pids}) != len(bn_pids):
        raise NotImplementedError(
            f"{verb}: files share a basename — the pid routing join "
            "would misattribute rows"
        )
    lookup = local_rows_df(
        frame.sparkSession,
        list(bn_pids),
        T.StructType(
            [
                T.StructField(bn_col, T.StringType(), False),
                T.StructField("__pid", T.IntegerType(), False),
            ]
        ),
    )
    return frame.join(F.broadcast(lookup), bn_col, "inner").drop(bn_col)


def upsert(
    cur: DataFrame,
    batch: DataFrame,
    key_col: str,
    carry_cols: tuple | None = None,
) -> DataFrame:
    """Affected target rows whose (key, pid) the batch does not touch,
    plus every batch row — the latest-wins upsert. Both frames carry
    ``__pid``; the key match is null-safe.

    ``carry_cols=(id_col, version_col)`` (row tracking / row lineage,
    both on ``cur``): a batch row replacing a matched target row KEEPS
    that row's id, and its version column is null (it derives from the
    new file's commit version / data sequence); unmatched batch rows
    insert with a null id (fresh from the new file's id range)."""
    bk = batch.select(
        F.col(key_col).alias("__bk"), F.col("__pid").alias("__bpid")
    )
    if carry_cols is not None:
        id_c, ver_c = carry_cols
        ids = cur.select(
            F.col(key_col).alias("__ck"),
            F.col("__pid").alias("__cpid"),
            F.col(id_c).alias("__prev_id"),
        )
        m = F.col(f"b.{key_col}").eqNullSafe(F.col("__ck")) & (
            F.col("b.__pid") == F.col("__cpid")
        )
        batch = (
            batch.alias("b")
            .join(ids, m, "left")
            .select(
                *[F.col(f"b.{c}") for c in batch.columns],
                F.col("__prev_id").alias(id_c),
                F.lit(None).cast("long").alias(ver_c),
            )
        )
    return (
        cur.alias("cur")
        .join(
            bk,
            F.col(f"cur.{key_col}").eqNullSafe(F.col("__bk"))
            & (F.col("cur.__pid") == F.col("__bpid")),
            "left_anti",
        )
        .unionByName(batch)
    )


def write_by_pid(
    df: DataFrame, tmp: str, single: bool
) -> list[tuple[int, str]]:
    """Write ``df`` under ``tmp`` — plainly when ``single`` (``df``
    carries no ``__pid``), else ``partitionBy("__pid")`` — and return
    its ``(pid, part file path)`` pairs, sorted by pid directory name,
    then file name. A single write's parts all carry pid 0. Callers
    name and publish the parts themselves and remove ``tmp``.

    The parts are listed on the local filesystem, where the Delta and
    Iceberg writers publish (``tmp`` may be a ``file:`` URI; the
    returned paths keep its form). Any other filesystem fails here,
    before a commit could reference files it never saw. The manifest
    table writes one unrouted output and lists it through its Hadoop
    filesystem instead."""
    if single:
        df.write.mode("overwrite").parquet(tmp)
    else:
        df.write.partitionBy("__pid").mode("overwrite").parquet(tmp)
    local = tmp[len("file:"):] if tmp.startswith("file:") else tmp
    if not os.path.isdir(local):
        raise FileNotFoundError(
            f"write output {tmp!r} is not a local directory"
        )

    def parts(sub: str) -> list[str]:
        return sorted(
            n for n in os.listdir(os.path.join(local, sub))
            if n.startswith("part-") and n.endswith(".parquet")
        )

    if single:
        return [(0, f"{tmp}/{n}") for n in parts("")]
    return [
        (int(d.split("=", 1)[1]), f"{tmp}/{d}/{n}")
        for d in sorted(os.listdir(local))
        if d.startswith("__pid=")
        for n in parts(d)
    ]


def validate_merge_clauses(
    when_matched: list | None,
    when_not_matched_by_source: list | None,
    key_col: str,
    when_not_matched: list | None = None,
) -> None:
    """Shape-check conditional-MERGE clause lists: each clause is
    ``("update", condition_sql_or_None, {col: value_sql})`` or
    ``("delete", condition_sql_or_None)``, evaluated in declaration
    order, first match wins (delta-spark's builder semantics).
    Assignments may not touch the merge key — key rewrites would break
    the key-pruning contract (and real Delta refuses them on the
    matched side for the same reason). ``when_not_matched`` takes
    ``("insert", condition_sql_or_None, {col: value_sql} | None)``
    clauses only (None values = insertAll); unmatched source rows that
    match no insert clause are NOT inserted."""
    for cl in when_not_matched or []:
        if not cl or cl[0] != "insert":
            raise ValueError(
                "delta merge: when_not_matched clause kind must be "
                f"'insert', got {cl!r}"
            )
        if len(cl) not in (2, 3) or (
            len(cl) == 3
            and cl[2] is not None
            and (not isinstance(cl[2], dict) or not cl[2])
        ):
            raise ValueError(
                "delta merge: when_not_matched insert clause needs "
                "('insert', condition|None[, {col: value_sql}|None])"
            )
    for label, clauses in (
        ("when_matched", when_matched),
        ("when_not_matched_by_source", when_not_matched_by_source),
    ):
        for cl in clauses or []:
            if not cl or cl[0] not in ("update", "delete"):
                raise ValueError(
                    f"delta merge: {label} clause kind must be "
                    f"'update' or 'delete', got {cl!r}"
                )
            if cl[0] == "update":
                if len(cl) != 3 or not isinstance(cl[2], dict) or not cl[2]:
                    raise ValueError(
                        f"delta merge: {label} update clause needs "
                        "('update', condition|None, {col: value_sql})"
                    )
                if key_col in cl[2]:
                    raise ValueError(
                        "delta merge: UPDATE SET may not assign the "
                        f"merge key {key_col!r}"
                    )
            elif len(cl) != 2:
                raise ValueError(
                    f"delta merge: {label} delete clause needs "
                    "('delete', condition|None)"
                )


def apply_insert_clauses(
    inserts: DataFrame,
    data_cols: list[str],
    dtype_of: dict,
    when_not_matched: list,
) -> DataFrame:
    """Conditional insert clauses (delta-spark's
    whenNotMatchedInsert(cond, values)): the FIRST matching clause
    supplies the inserted values — ``{col: value_sql}`` assignments
    over the source row (``s.<col>``), unspecified columns null, a
    ``None`` value set meaning insertAll. Source rows matching no
    clause are NOT inserted. ``inserts`` carries ``data_cols`` +
    ``__pid``."""
    nmc = list(when_not_matched)
    s_ins = inserts.alias("s")
    ichain = None
    for i, cl in enumerate(nmc, start=1):
        cond = F.expr(cl[1]) if cl[1] is not None else F.lit(True)
        ichain = (
            F.when(cond, F.lit(i))
            if ichain is None
            else ichain.when(cond, F.lit(i))
        )
    iidx = ichain.otherwise(F.lit(0)) if ichain is not None else F.lit(0)
    ivals: list[Column] = []
    for c in data_cols:
        v = None
        for i, cl in enumerate(nmc, start=1):
            vset = cl[2] if len(cl) == 3 else None
            if vset is None:
                term_val: Column = F.col(f"s.{c}")
            elif c in vset:
                term_val = F.expr(vset[c]).cast(dtype_of[c])
            else:
                term_val = F.lit(None).cast(dtype_of[c])
            term = (iidx == i, term_val)
            v = F.when(*term) if v is None else v.when(*term)
        ivals.append(
            (v if v is not None
             else F.lit(None).cast(dtype_of[c])).alias(c)
        )
    return s_ins.filter(iidx != 0).select(*ivals, F.col("s.__pid"))


def apply_merge_clauses(
    cur: DataFrame,
    latest_p: DataFrame,
    key_col: str,
    data_cols: list[str],
    when_matched: list | None,
    when_not_matched_by_source: list | None,
    want_changes: bool = False,
    when_not_matched: list | None = None,
    carry_cols: tuple | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Conditional-MERGE row algebra (delta-spark's
    whenMatchedUpdate / whenMatchedDelete /
    whenNotMatchedBySourceUpdate / whenNotMatchedBySourceDelete):

    ONE left-outer join target←source decides matched-ness; a CASE
    chain computes the FIRST clause (declaration order) whose
    condition holds for each row; delete-clause rows drop, update
    clauses apply their ``{col: value_sql}`` assignments (conditions
    and values see ``t.<col>`` = target row and ``s.<col>`` = source
    row; on the not-matched-by-source side every ``s.`` read is
    null), unmatched-clause rows pass through unchanged, and source
    rows matching NO target row insert (whenNotMatchedInsertAll —
    the engine's standing upsert insert side). Still one shuffle
    join + one write: the clause algebra is pure Column CASE work on
    top of the existing single-job merge plan.

    ``want_changes=True`` additionally returns the Change Data Feed
    row set (``_change_type`` ∈ update_preimage / update_postimage /
    delete / insert; pass-through rows emit nothing) — the joined
    frame is checkpointed once so the derived frames share one
    evaluation instead of re-running the join per change type.

    ``carry_cols=(id_col, version_col)`` threads ROW TRACKING / ROW
    LINEAGE through the algebra: both live on ``cur``; kept target
    rows carry the id verbatim (updates too — the lineage contract),
    the version column nulls on update-clause rows (deriving to the
    new add's commit version / data sequence) and carries otherwise,
    and insert rows get null ids (fresh from the new files'
    reservations). CDF rows stay lineage-free."""
    wm = list(when_matched or [])
    nm = list(when_not_matched_by_source or [])
    t = cur.alias("t")
    s = latest_p.withColumn("__s_m", F.lit(1)).alias("s")
    on = F.col(f"t.{key_col}").eqNullSafe(F.col(f"s.{key_col}")) & (
        F.col("t.__pid") == F.col("s.__pid")
    )
    j = t.join(s, on, "left")
    matched = F.col("s.__s_m").isNotNull()

    def _first_match_idx(clauses: list, side: Column) -> Column:
        chain = None
        for i, cl in enumerate(clauses, start=1):
            cond = side & (
                F.expr(cl[1]) if cl[1] is not None else F.lit(True)
            )
            chain = (
                F.when(cond, F.lit(i))
                if chain is None
                else chain.when(cond, F.lit(i))
            )
        return chain.otherwise(F.lit(0)) if chain is not None else F.lit(0)

    midx = _first_match_idx(wm, matched)
    nidx = _first_match_idx(nm, ~matched)

    vals: list[Column] = []
    for c in data_cols:
        v = None
        for idx_col, clauses in ((midx, wm), (nidx, nm)):
            for i, cl in enumerate(clauses, start=1):
                if cl[0] == "update" and c in cl[2]:
                    term_cond = idx_col == i
                    term_val = F.expr(cl[2][c]).cast(
                        cur.schema[c].dataType
                    )
                    v = (
                        F.when(term_cond, term_val)
                        if v is None
                        else v.when(term_cond, term_val)
                    )
        col = (
            v.otherwise(F.col(f"t.{c}")) if v is not None
            else F.col(f"t.{c}")
        )
        vals.append(col.alias(c))

    drop_m = [i for i, cl in enumerate(wm, start=1) if cl[0] == "delete"]
    drop_n = [i for i, cl in enumerate(nm, start=1) if cl[0] == "delete"]
    upd_m = [i for i, cl in enumerate(wm, start=1) if cl[0] == "update"]
    upd_n = [i for i, cl in enumerate(nm, start=1) if cl[0] == "update"]
    keep = F.lit(True)
    if drop_m:
        keep = keep & ~midx.isin(drop_m)
    if drop_n:
        keep = keep & ~nidx.isin(drop_n)
    upd = F.lit(False)
    if upd_m:
        upd = upd | midx.isin(upd_m)
    if upd_n:
        upd = upd | nidx.isin(upd_n)

    carry_sel: list[Column] = []
    if carry_cols is not None:
        id_c, cv_c = carry_cols
        carry_sel = [
            F.col(f"t.{id_c}").alias(id_c),
            F.when(upd, F.lit(None).cast("long"))
            .otherwise(F.col(f"t.{cv_c}"))
            .alias(cv_c),
        ]
    base = j.select(
        *vals,  # post-clause values under the data_col names
        F.col("t.__pid").alias("__pid"),
        *carry_sel,
        *[F.col(f"t.{c}").alias(f"__old_{c}") for c in data_cols],
        keep.alias("__keep"),
        upd.alias("__upd"),
    )
    if want_changes:
        # four consumers below — evaluate the join once
        base = base.localCheckpoint(eager=False)
    target_rows = base.filter(F.col("__keep")).select(
        *data_cols, "__pid",
        *([carry_cols[0], carry_cols[1]] if carry_cols else []),
    )

    inserts = (
        latest_p.alias("b")
        .join(
            cur.select(
                F.col(key_col).alias("__tk"),
                F.col("__pid").alias("__tpid"),
            ),
            F.col(f"b.{key_col}").eqNullSafe(F.col("__tk"))
            & (F.col("b.__pid") == F.col("__tpid")),
            "left_anti",
        )
    )
    if when_not_matched is not None:
        inserts = apply_insert_clauses(
            inserts, data_cols,
            {c: cur.schema[c].dataType for c in data_cols},
            when_not_matched,
        )
    if carry_cols is not None:
        inserts = inserts.withColumn(
            carry_cols[0], F.lit(None).cast("long")
        ).withColumn(carry_cols[1], F.lit(None).cast("long"))
    out = target_rows.unionByName(inserts)
    if not want_changes:
        return out, None
    old_sel = [F.col(f"__old_{c}").alias(c) for c in data_cols]
    pre = (
        base.filter(F.col("__upd"))
        .select(*old_sel, "__pid")
        .withColumn("_change_type", F.lit("update_preimage"))
    )
    post = (
        base.filter(F.col("__upd"))
        .select(*data_cols, "__pid")
        .withColumn("_change_type", F.lit("update_postimage"))
    )
    dele = (
        base.filter(~F.col("__keep"))
        .select(*old_sel, "__pid")
        .withColumn("_change_type", F.lit("delete"))
    )
    ins_c = inserts
    if carry_cols is not None:  # CDF rows are logical
        ins_c = ins_c.drop(*carry_cols)
    ins_c = ins_c.withColumn("_change_type", F.lit("insert"))
    changes = (
        pre.unionByName(post).unionByName(dele).unionByName(ins_c)
    )
    return out, changes


def with_zorder_value(
    cur: DataFrame, zorder_by: list[str], data_schema: T.StructType
) -> DataFrame:
    """Append a ``__zv`` Morton (Z-curve) key: per column, the value
    maps to a QUANTILE bucket (one ``approxQuantile`` sample job for
    ALL columns — never a global sort per dimension), and the bucket
    ids' bits interleave into one long. Range-partitioning the write
    on ``__zv`` then gives every output file a compact hyper-rectangle
    of the value space, so a filter on ANY z-ordered column (not just
    the leading one — linear clustering's blind spot) prunes ~N^(1-1/d)
    of N files via the ordinary min/max stats. The whole computation
    is Column arithmetic inside codegen; nulls sort to bucket 0.

    Total bit budget 12 (4096 z-cells), split evenly — beyond ~4
    columns the curve degrades like real Z-ORDER does, which is the
    honest behavior to inherit."""
    ncols = len(zorder_by)
    bits = max(1, 12 // ncols)
    n_buckets = 1 << bits
    type_of = {f.name: f.dataType for f in data_schema.fields}

    def _as_double(c: str):
        dt = type_of[c]
        if isinstance(dt, T.NumericType):
            return F.col(c).cast("double")
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return F.col(c).cast("double")
        if isinstance(dt, T.DateType):
            return F.col(c).cast("timestamp").cast("double")
        raise NotImplementedError(
            f"delta optimize: ZORDER BY over {dt.simpleString()} "
            f"column {c!r} is beyond this writer (numeric / "
            "timestamp / date only)"
        )

    qcols = [f"__zq{i}" for i in range(ncols)]
    zsrc = cur.select(
        *[_as_double(c).alias(q) for c, q in zip(zorder_by, qcols)]
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    all_bounds = zsrc.approxQuantile(qcols, probs, 0.001)
    zdf = cur
    for c, q, bounds in zip(zorder_by, qcols, all_bounds):
        zdf = zdf.withColumn(q, _as_double(c))
        # drop duplicate quantiles (skewed data); the bucket id is the
        # count of distinct bounds strictly below the value. Built as
        # ONE aggregate over an array literal instead of a chain of
        # n_buckets when()/otherwise() Columns: the old shape cost ~4
        # py4j round-trips per bound (~2,000 per ZORDER call, ~0.4 s of
        # pure driver latency) and produced an expression tree whose
        # analysis cost scaled with the bucket count. Null values yield
        # null comparisons -> IF takes the else branch -> bucket 0,
        # exactly as the when-chain did.
        dedup: list[float] = []
        for bd in bounds:
            if not dedup or bd != dedup[-1]:
                dedup.append(bd)
        if dedup:
            b = F.aggregate(
                F.lit(dedup),
                F.lit(0),
                lambda acc, x: acc
                + F.when(F.col(q) > x, 1).otherwise(0),
            )
        else:
            b = F.lit(0)
        zdf = zdf.withColumn(q, b.cast("long"))
    zv = F.lit(0).cast("long")
    for bit in range(bits):
        for j, q in enumerate(qcols):
            zv = zv.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(q), bit).bitwiseAND(F.lit(1)),
                    bit * ncols + j,
                )
            )
    return zdf.withColumn("__zv", zv).drop(*qcols)
