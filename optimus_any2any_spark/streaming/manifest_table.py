"""File-level MERGE upsert over plain parquet via manifest commits.

The simplest of the three copy-on-write tables: plain parquet plus JSON
manifests committed by a Hadoop-FS rename (the reference has
no MERGE at all — its warehouse sink is APPEND/REPLACE only,
ext/maxcompute/sink.go — so this is part of the beyond-reference
streaming layer, SURVEY.md §7's documented end state).

Layout::

    path/
      data/v<version>-<i>.parquet     immutable data files
      _manifests/v<version>.json      snapshot: live files + key stats

A manifest lists the table's LIVE data files with per-file key stats
(min/max key, null-key flag, row count). The highest-numbered manifest
is the table; everything not referenced by it is garbage.

MERGE(batch) — copy-on-write at FILE granularity. Steps 1-3 are the
shared core in ``streaming/cow_merge.py`` (the Delta and Iceberg merges
run the same code); this module owns the manifest, the commit and the
orphan sweep:

1. reduce the batch to its latest row per key (ts tiebreak);
2. prune: a data file is *affected* only if some batch key can fall
   inside its [min_key, max_key] range (exact membership check against
   the batch's sorted key list when it fits on the driver, range
   overlap otherwise). Files outside the update footprint are NOT
   read and NOT written — their manifest entries carry over verbatim;
3. read ONLY affected files (under the batch's schema, once the first
   one's footer shows the same columns), null-safe anti-join on the
   batch keys,
   union the batch, range-repartition on the key (tight, mostly
   disjoint per-file key ranges keep future pruning sharp) and write
   NEW immutable files;
4. commit = write manifest v(N+1) to a temp name and RENAME it into
   place — the one atomic step. A crash before the rename leaves
   orphan data files and the old manifest intact (the table never
   sees a partial merge); orphans are swept opportunistically at the
   next merge.

Exactly-once on redelivery: the manifest records the last applied
``batch_id``; re-applying an already-committed batch is a no-op (the
Delta transactional-sink txnVersion pattern). This is what
foreachBatch's at-least-once needs to become effectively-once.

At 100 TB: per-merge IO is proportional to the update FOOTPRINT
(affected files), never the table; ``target_rows_per_file`` sizes data
files near the scan sweet spot; the manifest is O(files) JSON on the
driver — at ~1e5 files swap it for a parquet manifest, same protocol.
Single-writer per table path (a streaming query IS single-writer).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from optimus_any2any_spark.formats.footer_stats import (
    file_stats,
    kind_of_spark_type,
)
from optimus_any2any_spark.streaming.cow_merge import (
    affected,
    batch_key_stats,
    dedupe_latest,
    route,
    upsert,
)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _read_text(spark, fs, jvm, jpath) -> str:
    # NB: stream.read(buffer) would fill the JAVA copy of a py4j
    # bytearray, not the Python one — IOUtils returns the bytes
    stream = fs.open(jpath)
    try:
        return bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode()
    finally:
        stream.close()


def _write_text_atomic(spark, fs, jvm, dir_path: str, name: str, text: str):
    tmp = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/.tmp-{name}")
    final = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/{name}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise IOError(f"manifest commit failed: {name} already exists?")


def latest_manifest(spark: SparkSession, path: str) -> dict | None:
    """Highest-version committed manifest, or None for an empty table."""
    jvm, fs = _fs(spark, path)
    mdir = jvm.org.apache.hadoop.fs.Path(path + "/_manifests")
    if not fs.exists(mdir):
        return None
    best, best_v = None, -1
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            if v > best_v:
                best, best_v = st.getPath(), v
    if best is None:
        return None
    return json.loads(_read_text(spark, fs, jvm, best))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """The table = the union of the latest manifest's live files."""
    m = latest_manifest(spark, path)
    if m is None or not m["files"]:
        raise FileNotFoundError(f"no committed manifest under {path}")
    return spark.read.parquet(*[f"{path}/{f['path']}" for f in m["files"]])


def _sweep_orphans(spark, fs, jvm, path: str, live: set[str]):
    """Delete data files no manifest references (crash leftovers).
    Safe under the single-writer assumption: anything in data/ that the
    LATEST manifest does not list can only be debris from an
    uncommitted merge."""
    ddir = jvm.org.apache.hadoop.fs.Path(path + "/data")
    if not fs.exists(ddir):
        return
    for st in fs.listStatus(ddir):
        rel = "data/" + st.getPath().getName()
        if rel not in live:
            fs.delete(st.getPath(), False)


def _read_affected(spark: SparkSession, paths: list[str], schema):
    """The affected files read under the batch's schema, which spares
    the read a schema-inference job. The first file's footer must hold
    the same columns: a table column the batch lacks would otherwise
    drop silently from every rewritten row. A footer pyarrow cannot
    open (a non-local filesystem) falls back to an inferring read,
    whose columns the upsert's strict union then checks."""
    import pyarrow.parquet as pq

    first = paths[0]
    try:
        names = pq.read_schema(
            first[len("file:"):] if first.startswith("file:") else first
        ).names
    except Exception:
        return spark.read.parquet(*paths)
    if {n.lower() for n in names} != {
        n.lower() for n in schema.fieldNames()
    }:
        raise ValueError(
            f"manifest merge: batch columns {sorted(schema.fieldNames())} "
            f"differ from the table's {sorted(names)}"
        )
    return spark.read.schema(schema).parquet(*paths)


def merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_col: str,
    ts_col: str,
    batch_id: int | None = None,
    target_rows_per_file: int = 1_000_000,
) -> dict:
    """One file-level MERGE commit; returns the new (or unchanged, on
    an idempotent skip) manifest dict."""
    jvm, fs = _fs(spark, path)
    manifest = latest_manifest(spark, path)
    version = (manifest["version"] + 1) if manifest else 1
    if (
        manifest is not None
        and batch_id is not None
        and manifest.get("batch_id") is not None
        and batch_id <= manifest["batch_id"]
    ):
        return manifest  # redelivery of an applied batch: no-op
    live = {f["path"] for f in manifest["files"]} if manifest else set()
    _sweep_orphans(spark, fs, jvm, path, live)

    latest = dedupe_latest(batch, key_col, ts_col)
    n_total, scopes, _rows = batch_key_stats(latest, key_col)
    if n_total == 0:
        return manifest or {"version": 0, "batch_id": batch_id, "files": []}
    st = scopes[()]
    hit, miss = affected(
        manifest["files"] if manifest else [],
        st["keys"], st["kmin"], st["kmax"], st["has_null"],
    )

    merged = route(latest, latest.columns, (), None)
    if hit:
        cur = _read_affected(
            spark, [f"{path}/{f['path']}" for f in hit], latest.schema
        )
        merged = upsert(route(cur, cur.columns, (), None), merged, key_col)

    n_rows = n_total + sum(f["rows"] for f in hit)
    n_files = max(1, -(-n_rows // target_rows_per_file))
    tmp = f"{path}/.tmp-commit-v{version}"
    (
        merged.drop("__pid")
        .repartitionByRange(n_files, key_col)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    # move parts into data/ under deterministic names
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path + "/data"))
    parts = sorted(
        (f.getPath() for f in fs.listStatus(
            jvm.org.apache.hadoop.fs.Path(tmp)
        )),
        key=lambda p: p.getName(),
    )
    new_rel: list[str] = []
    for part in parts:
        if not part.getName().endswith(".parquet"):
            continue
        rel = f"data/v{version}-{len(new_rel)}.parquet"
        if not fs.rename(
            part, jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}")
        ):
            raise IOError(f"data file move failed: {rel}")
        new_rel.append(rel)
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    by_name = file_stats(
        spark,
        [f"{path}/{r}" for r in new_rel],
        [key_col],
        {key_col: kind_of_spark_type(latest.schema[key_col].dataType)},
        schema=latest.schema,
    )
    new_entries = []
    for rel in new_rel:
        r = by_name.get(rel.rsplit("/", 1)[-1])
        if r is None:  # empty part file: skip from the manifest
            continue
        kmin, kmax = r["min"].get(key_col), r["max"].get(key_col)
        prunable = isinstance(
            kmin, (str, int, float, type(None))
        ) and not isinstance(kmin, bool)
        new_entries.append(
            {
                "path": rel,
                "rows": r["rows"],
                "min_key": kmin if prunable else None,
                "max_key": kmax if prunable else None,
                "has_null_key": r["nulls"][key_col] > 0,
                "prunable": prunable,
            }
        )
    new_manifest = {
        "version": version,
        "batch_id": batch_id,
        "files": miss + new_entries,  # untouched entries carry over
    }
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path + "/_manifests"))
    _write_text_atomic(
        spark,
        fs,
        jvm,
        path + "/_manifests",
        f"v{version:06d}.json",
        json.dumps(new_manifest, default=str),
    )
    # superseded files are garbage now; sweep them eagerly (crash here
    # just defers to the next merge's sweep)
    _sweep_orphans(
        spark, fs, jvm, path, {f["path"] for f in new_manifest["files"]}
    )
    return new_manifest


def upsert_to_manifest_table(
    stream: DataFrame,
    path: str,
    key_col: str,
    ts_col: str,
    checkpoint: str,
    target_rows_per_file: int = 1_000_000,
):
    """Streaming wrapper: file-level MERGE per micro-batch with the
    manifest batch_id making redelivery exactly-once."""

    def merge(batch: DataFrame, batch_id: int):
        merge_batch(
            batch.sparkSession,
            batch,
            path,
            key_col,
            ts_col,
            batch_id=batch_id,
            target_rows_per_file=target_rows_per_file,
        )

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
