"""The shared copy-on-write core (``streaming/cow_merge.py``): the Delta,
Iceberg and manifest tables must agree row for row on one seeded batch
sequence, the manifest merge must cost no more Spark jobs than the Delta
merge, and the per-file stats helper must fall back to Spark when a
parquet footer cannot be read.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import types as T

from optimus_any2any_spark.formats import footer_stats
from optimus_any2any_spark.sources.delta import read_delta
from optimus_any2any_spark.sources.iceberg import (
    _localize,
    load_table_metadata,
    read_iceberg,
    write_iceberg_commit,
)
from optimus_any2any_spark.streaming import manifest_table
from optimus_any2any_spark.streaming.cow_merge import affected
from optimus_any2any_spark.streaming.delta_table import merge_delta_batch
from optimus_any2any_spark.streaming.iceberg_table import (
    merge_iceberg_batch,
)
from tests.test_delta_scale import _count_jobs

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)
FORMATS = ("delta", "iceberg", "manifest")


def _merge(fmt, spark, df, path, batch_id):
    kw = {"batch_id": batch_id, "target_rows_per_file": 40}
    if fmt == "delta":
        merge_delta_batch(spark, df, path, "k", "ts", **kw)
    elif fmt == "iceberg":
        merge_iceberg_batch(spark, df, path, "k", "ts", **kw)
    else:
        manifest_table.merge_batch(spark, df, path, "k", "ts", **kw)


def _snapshot(fmt, spark, path) -> list[tuple]:
    if fmt == "delta":
        df = read_delta(spark, path)
    elif fmt == "iceberg":
        df = read_iceberg(spark, path)
    else:
        df = manifest_table.read_table(spark, path)
    rows = [(r["k"], r["ts"], r["v"]) for r in df.collect()]
    return sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0))


def _batches(seed: int) -> list[tuple[int, list[tuple]]]:
    """(batch_id, rows): fresh inserts, updates clustered in a recent key
    window, a key repeated inside one batch (ts decides), a null key, a
    redelivered batch id and an empty batch."""
    rnd = random.Random(seed)
    ts = iter(range(1, 10_000))
    seq = []
    seq.append((0, [(k, next(ts), f"a{k}") for k in range(200)]))
    recent = rnd.sample(range(150, 200), 20)
    fresh = list(range(200, 230))
    seq.append(
        (1, [(k, next(ts), f"b{k}") for k in recent + fresh])
    )
    rows = [(k, next(ts), f"c{k}") for k in rnd.sample(range(230), 10)]
    dup = rnd.randrange(230)
    t_old, t_new = next(ts), next(ts)
    rows += [(dup, t_new, "dup-new"), (dup, t_old, "dup-old")]
    rows.append((None, next(ts), "null-1"))
    seq.append((2, rows))
    seq.append(
        (3, [(None, next(ts), "null-2"), (5, next(ts), "d5")])
    )
    # redelivery of batch 3 with different rows: must be a no-op
    seq.append((3, [(6, next(ts), "redelivered")]))
    seq.append((4, []))
    seq.append(
        (5, [(k, next(ts), f"e{k}") for k in range(190, 240)])
    )
    return seq


def _replay(table: dict, rows: list[tuple]) -> None:
    latest: dict = {}
    for k, ts, v in rows:
        if k not in latest or ts > latest[k][1]:
            latest[k] = (k, ts, v)
    table.update(latest)


def test_three_tables_agree_with_replay(spark, tmp_path):
    paths = {f: str(tmp_path / f) for f in FORMATS}
    expected: dict = {}
    applied = -1
    for batch_id, rows in _batches(seed=7):
        df = spark.createDataFrame(rows, SCHEMA)
        for f in FORMATS:
            _merge(f, spark, df, paths[f], batch_id)
        if batch_id > applied:
            _replay(expected, rows)
            applied = batch_id
        want = sorted(
            expected.values(), key=lambda r: (r[0] is not None, r[0] or 0)
        )
        got = {f: _snapshot(f, spark, paths[f]) for f in FORMATS}
        for f in FORMATS:
            assert got[f] == want, (f, batch_id)


def _seeded(spark, fmt, path):
    base = [(k, 1, f"a{k}") for k in range(400)]
    _merge(fmt, spark, spark.createDataFrame(base, SCHEMA), path, 0)


def test_manifest_merge_jobs_at_most_delta(spark, tmp_path):
    batch = spark.createDataFrame(
        [(k, 2, f"b{k}") for k in list(range(350, 380)) + [500, 501]],
        SCHEMA,
    )
    counts = {}
    for fmt in ("delta", "manifest"):
        vals = []
        for rep in range(3):
            path = str(tmp_path / f"{fmt}-{rep}")
            _seeded(spark, fmt, path)
            vals.append(
                _count_jobs(
                    spark, lambda: _merge(fmt, spark, batch, path, 1)
                )
            )
        counts[fmt] = min(vals)
    assert counts["manifest"] <= counts["delta"], counts


def test_affected_prunes_by_key_membership_and_range():
    files = [
        {"path": "a", "rows": 10, "min_key": 0, "max_key": 9,
         "has_null_key": False},
        {"path": "b", "rows": 10, "min_key": 10, "max_key": 19,
         "has_null_key": True},
        {"path": "c", "rows": 0, "min_key": None, "max_key": None},
    ]
    hit, miss = affected(files, [12], 12, 12, False)
    assert [f["path"] for f in hit] == ["b"]
    assert [f["path"] for f in miss] == ["a", "c"]
    # over the driver cap: range overlap only
    hit, _ = affected(files, None, 5, 12, False)
    assert [f["path"] for f in hit] == ["a", "b"]
    # a null batch key hits every file holding null keys
    hit, _ = affected(files, [], None, None, True)
    assert [f["path"] for f in hit] == ["b"]


def _record_counts(table_path: str) -> list[int]:
    from optimus_any2any_spark.formats.avrobin import read_container

    meta = load_table_metadata(table_path)
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifests = read_container(
        _localize(table_path, snap["manifest-list"])
    )
    out = []
    for m in manifests:
        _, entries = read_container(
            _localize(table_path, m["manifest_path"])
        )
        out += [int(e["data_file"]["record_count"]) for e in entries]
    return out


def test_iceberg_append_survives_unreadable_footers(
    spark, tmp_path, monkeypatch
):
    import pyarrow.parquet as pq

    def unreadable(*_a, **_k):
        raise OSError("footer unreadable")

    df = spark.createDataFrame(
        [(k, 1, f"v{k}") for k in range(100)], SCHEMA
    ).repartition(3)
    path = str(tmp_path / "ice")
    with monkeypatch.context() as m:
        m.setattr(pq, "read_metadata", unreadable)
        write_iceberg_commit(df, path)
    counts = _record_counts(path)
    assert len(counts) == 3 and all(c > 0 for c in counts)
    assert sum(counts) == 100
    assert read_iceberg(spark, path).count() == 100


@pytest.mark.parametrize("cols", [[], ["k", "v"]])
def test_file_stats_fallback_matches_footers(spark, tmp_path, monkeypatch, cols):
    path = str(tmp_path / "p")
    spark.createDataFrame(
        [(k, k, None if k % 3 else f"s{k}") for k in range(30)], SCHEMA
    ).repartition(2).write.parquet(path)
    import glob

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    kinds = {
        c: footer_stats.kind_of_spark_type(SCHEMA[c].dataType) for c in cols
    }
    fast = footer_stats.file_stats(spark, files, cols, kinds)
    monkeypatch.setattr(
        footer_stats, "footer_file_stats", lambda *a, **k: None
    )
    slow = footer_stats.file_stats(spark, files, cols, kinds, SCHEMA)
    assert slow == fast
    assert sum(st["rows"] for st in fast.values()) == 30


def test_file_stats_fallback_canonicalizes_float_zero(
    spark, tmp_path, monkeypatch
):
    """A ±0.0 bound leaves the Spark fallback as +0.0, exactly as the
    footer path reports it."""
    import glob
    import math

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("f", T.DoubleType()),
        ]
    )
    path = str(tmp_path / "zero")
    for rows in ([(1, -0.0), (2, 0.0), (3, 7.5)], [(4, -1.5), (5, -0.0)]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    kinds = {"f": footer_stats.kind_of_spark_type(T.DoubleType())}
    fast = footer_stats.file_stats(spark, files, ["f"], kinds)
    monkeypatch.setattr(
        footer_stats, "footer_file_stats", lambda *a, **k: None
    )
    slow = footer_stats.file_stats(spark, files, ["f"], kinds, schema)
    assert slow == fast
    bounds = sorted(
        (st["min"]["f"], st["max"]["f"]) for st in slow.values()
    )
    assert bounds == [(-1.5, 0.0), (0.0, 7.5)]
    assert math.copysign(1.0, bounds[0][1]) == 1.0
    assert math.copysign(1.0, bounds[1][0]) == 1.0


def test_manifest_merge_refuses_batch_missing_a_column(spark, tmp_path):
    """A batch without one of the table's columns must not rewrite the
    affected files without it."""
    path = str(tmp_path / "m")
    _seeded(spark, "manifest", path)
    narrow = spark.createDataFrame(
        [(5, 2)], "k long, ts long"
    )
    with pytest.raises(ValueError, match="differ from the table"):
        manifest_table.merge_batch(spark, narrow, path, "k", "ts", 1)
    assert manifest_table.latest_manifest(spark, path)["version"] == 1
    assert sorted(manifest_table.read_table(spark, path).columns) == [
        "k", "ts", "v"
    ]
