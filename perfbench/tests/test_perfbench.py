"""The benchmark's own tests, at tiny scale and without Spark:

    python3 -m pytest perfbench/tests -q

Each generator must be deterministic for a seed, and each checker must
reject a deliberately corrupted output.
"""

from __future__ import annotations

import csv
import gzip
import json
import os

import numpy as np
import pandas as pd
import pytest

import check
import gen
import run
import spans

# --------------------------------------------------------------------------
# generators


def _same(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(np.array_equal(a[k], b[k]) for k in a)


@pytest.mark.parametrize("make", [
    lambda s: gen.flat_records(s, 200),
    lambda s: gen.nested_orders(s, 200),
    lambda s: gen.lakehouse_base(s),
    lambda s: gen.lakehouse_batch(s, 3, 99_000, np.arange(0, 80_000, 2)),
])
def test_array_generators_are_deterministic(make):
    assert _same(make(7), make(7))
    assert not _same(make(7), make(8))


def test_file_generators_are_deterministic(tmp_path):
    def files(seed: int, sub: str) -> list[bytes]:
        d = tmp_path / sub
        d.mkdir()
        gen.write_flat_ndjson(str(d / "flat.json"), gen.flat_records(seed, 100))
        gen.write_nested_ndjson(str(d / "orders.json"), gen.nested_orders(seed, 100))
        gen.write_corpus(str(d), seed, 60, 40)
        docs, emb = gen.corpus(seed, 60, 40)
        return [(d / "flat.json").read_bytes(), (d / "orders.json").read_bytes(),
                docs.to_pandas().to_csv().encode(), emb.to_pandas().to_json().encode()]

    assert files(3, "a") == files(3, "b")
    assert all(x != y for x, y in zip(files(3, "c"), files(4, "d")))


def test_nested_records_parse_and_batches_keep_ts_order():
    o = gen.nested_orders(5, 50)
    rows = [json.loads(line) for line in _lines_of(gen.write_nested_ndjson, o)]
    assert [r["id"] for r in rows] == list(range(50))
    assert [round(r["amount"] * 100) for r in rows] == o["amount_cents"].tolist()
    live = gen.lakehouse_base(5)["k"]
    b1 = gen.lakehouse_batch(5, 1, int(live.max()), live)
    b2 = gen.lakehouse_batch(5, 2, int(b1["k"].max()), live)
    assert b1["ts"].max() < b2["ts"].min()


def _lines_of(writer, data) -> list[str]:
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "f.json")
        writer(p, data)
        with open(p) as f:
            return f.read().splitlines()


# --------------------------------------------------------------------------
# rfc008_copy checker


def _write_copy(path, recs, mutate=None):
    rows = [{"id": i, "name": n, "value": v} for i, n, v in zip(
        recs["id"].tolist(), gen.flat_names(recs), recs["value"].tolist())]
    rows.reverse()  # output order must not matter
    if mutate:
        mutate(rows)
    with open(path, "w") as f:
        f.write("".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows))


@pytest.mark.parametrize("mutate, ok", [
    (None, True),
    (lambda rows: rows.pop(3), False),                               # dropped record
    (lambda rows: rows.append(dict(rows[0])), False),                 # duplicated record
    (lambda rows: rows[5].update(value=rows[5]["value"] + 1), False),  # changed value
    (lambda rows: rows[5].update(name="user_x"), False),
    (lambda rows: [r.update(__METADATA__filename="f") for r in rows], False),  # leaked column
])
def test_flat_copy_checker(tmp_path, mutate, ok):
    recs = gen.flat_records(1, 40)
    out = str(tmp_path / "copy.json")
    _write_copy(out, recs, mutate)
    assert (check.check_flat_copy(out, check.expected_flat(recs)) == []) is ok


# --------------------------------------------------------------------------
# jq_route_fanout checker


def _engine_like_routes(root, o, mutate=None):
    """What the CLI writes for JQ_QUERY, produced in pure Python."""
    recs = []
    for i in range(len(o["id"])):
        status = str(gen.STATUSES[o["status"][i]])
        cents = int(o["amount_cents"][i])
        if status == "cancelled" or cents < 500:
            continue
        recs.append({
            "id": int(o["id"][i]),
            "region": str(gen.REGIONS[o["region"][i]]),
            "tier": str(gen.TIERS[o["tier"][i]]),
            "city": str(gen.CITIES[o["city"][i]]).lower(),
            "customer": f"CUST {int(o['cust_id'][i])}",
            "sku": "SKU-%04d" % o["sku"][i][0],
            "amount": cents / 100,
            "code": f"ord-{int(o['id'][i])}",
        })
    if mutate:
        mutate(recs)
    os.makedirs(root / "by_region")
    os.makedirs(root / "by_tier")
    for field, d in (("region", "by_region"), ("tier", "by_tier")):
        groups: dict[str, list[dict]] = {}
        for r in recs:
            groups.setdefault(r[field], []).append(r)
        for route, rows in groups.items():
            if field == "region":
                with open(root / d / f"{route}.json", "w") as f:
                    f.write("".join(json.dumps(r) + "\n" for r in rows))
            else:
                with gzip.open(root / d / f"{route}.csv.gz", "wt", newline="") as f:
                    w = csv.writer(f)
                    w.writerow(check.JQ_COLUMNS)
                    w.writerows([r[c] for c in check.JQ_COLUMNS] for r in rows)


def _move_to_other_region(recs):
    r = next(r for r in recs if r["region"] == "emea")
    r["region"] = "apac"


@pytest.mark.parametrize("mutate, ok", [
    (None, True),
    (lambda recs: recs.pop(0), False),                          # dropped record
    (_move_to_other_region, False),                             # wrong route
    (lambda recs: recs[1].update(amount=recs[1]["amount"] + 0.01), False),
    (lambda recs: recs[2].update(code="ord-x"), False),          # wrong derived field
    (lambda recs: recs[3].update(city=recs[3]["city"].upper()), False),  # no ascii_downcase
    (lambda recs: recs[4].update(customer=recs[4]["customer"].title()), False),  # no ascii_upcase
    (lambda recs: recs[5].update(sku="SKU-9999"), False),       # wrong nested path
    (lambda recs: recs.append(dict(recs[0], id=10**6, code=f"ord-{10**6}")), False),
])
def test_route_checker(tmp_path, mutate, ok):
    o = gen.nested_orders(2, 300)
    _engine_like_routes(tmp_path, o, mutate)
    got = check.check_routes(str(tmp_path / "by_region"), str(tmp_path / "by_tier"),
                             check.expected_routes(o))
    assert (got == []) is ok, got


def test_route_checker_rejects_a_record_in_the_wrong_file(tmp_path):
    o = gen.nested_orders(2, 300)
    _engine_like_routes(tmp_path, o)
    src, dst = tmp_path / "by_region" / "emea.json", tmp_path / "by_region" / "apac.json"
    lines = src.read_text().splitlines(keepends=True)
    src.write_text("".join(lines[1:]))
    dst.write_text(dst.read_text() + lines[0])
    assert check.check_routes(str(tmp_path / "by_region"), str(tmp_path / "by_tier"),
                              check.expected_routes(o))


# --------------------------------------------------------------------------
# lakehouse_upsert checker


def _batches(seed=4, n=3):
    base = gen.lakehouse_base(seed)
    out, live, max_key = [], np.sort(base["k"]), int(base["k"].max())
    for b in range(1, n + 1):
        batch = gen.lakehouse_batch(seed, b, max_key, live)
        max_key = max(max_key, int(batch["k"].max()))
        live = np.union1d(live, batch["k"])
        out.append(batch)
    return base, out


def _aggregate(df: pd.DataFrame) -> tuple:
    return (len(df), int(df.k.sum()), int(df.ts.sum()), int(df.price_cents.sum()),
            sum(check.row_checksum(*r) for r in zip(
                df.k.tolist(), df.ts.tolist(), df.price_cents.tolist(), df.cust.tolist())))


def _latest(frames: list[dict]) -> pd.DataFrame:
    df = pd.concat([pd.DataFrame(f) for f in frames])
    return df.sort_values("ts").groupby("k").tail(1)


def test_replay_matches_an_independent_latest_ts_per_key():
    base, batches = _batches()
    replay = check.Replay(base)
    for i, batch in enumerate(batches):
        replay.apply(batch)
        truth = _aggregate(_latest([base, *batches[: i + 1]]))
        assert check.check_snapshot(truth, replay) == []


def test_snapshot_checker_rejects_a_stale_key_a_lost_insert_and_a_duplicate():
    base, batches = _batches()
    replay = check.Replay(base)
    for batch in batches:
        replay.apply(batch)
    good = _latest([base, *batches])
    base_df = pd.DataFrame(base)
    updated = good[good.k.isin(base_df.k) & (good.ts > gen.TS0)].k.iloc[0]
    stale = pd.concat([good[good.k != updated], base_df[base_df.k == updated]])
    assert check.check_snapshot(_aggregate(stale), replay)
    assert check.check_snapshot(_aggregate(good.iloc[1:]), replay)
    assert check.check_snapshot(_aggregate(pd.concat([good, good.iloc[:1]])), replay)


# --------------------------------------------------------------------------
# corpus_ops checker


def test_frame_digest_ignores_order_and_catches_a_changed_value():
    df = pd.DataFrame({"b": [1, 2, 3], "a": [0.5, 0.25, 0.125]})
    shuffled = df.iloc[[2, 0, 1]][["a", "b"]]
    assert check.frame_digest(df) == check.frame_digest(shuffled)
    changed = df.copy()
    changed.loc[1, "a"] = 0.2500001
    assert check.frame_digest(df) != check.frame_digest(changed)
    assert check.frame_digest(df) != check.frame_digest(df.iloc[:2])


def test_oracle_digests_are_deterministic_and_reject_a_corrupted_result(tmp_path):
    pytest.importorskip("duckdb")
    names = ["dedup_minhash_lsh", "tokenizer_bpe_merges", "embedding_kmeans"]
    gen.write_corpus(str(tmp_path), 6, 120, 60)
    first = check.oracle_digests(str(tmp_path), names)
    assert first == check.oracle_digests(str(tmp_path), names)

    import duckdb

    from optimus_any2any_spark.queries import all_queries

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')")
    result = con.execute(all_queries()["embedding_kmeans"].oracle).df()
    assert check.frame_digest(result) == first["embedding_kmeans"]
    result.loc[0, "cluster"] = (result.loc[0, "cluster"] + 1) % 8
    assert check.frame_digest(result) != first["embedding_kmeans"]


# --------------------------------------------------------------------------
# spans and the benchmark definition


def test_span_rows_attribute_jobs_self_time_and_gaps():
    t = 1000.0
    trace = {
        "spans": [
            {"id": 0, "name": "pipeline.run", "parent": None, "run_id": "r",
             "start": t, "end": t + 10, "attrs": {}},
            {"id": 1, "name": "sinks.file", "parent": 0, "run_id": "r",
             "start": t + 4, "end": t + 8, "attrs": {"files_written": 2}},
        ],
        "jobs": [
            {"jobId": 0, "jobGroup": "perfbench:r:0", "submissionTime": (t + 1) * 1000,
             "completionTime": (t + 3) * 1000, "stageIds": [0], "numCompletedTasks": 4},
            {"jobId": 1, "jobGroup": "perfbench:r:1", "submissionTime": (t + 5) * 1000,
             "completionTime": (t + 6) * 1000, "stageIds": [1], "numCompletedTasks": 2},
            {"jobId": 2, "jobGroup": None, "submissionTime": (t + 11) * 1000,
             "completionTime": (t + 12) * 1000, "stageIds": [2], "numCompletedTasks": 1},
        ],
        "stages": [
            {"stageId": 0, "attemptId": 0, "executorRunTime": 1500, "shuffleWriteBytes": 10},
            {"stageId": 1, "attemptId": 0, "executorRunTime": 500, "shuffleReadBytes": 10},
            {"stageId": 2, "attemptId": 0, "executorRunTime": 100},
        ],
    }
    rows = {r["name"]: r for r in spans.span_rows(trace)}
    run_row, sink = rows["pipeline.run"], rows["sinks.file"]
    assert (run_row["jobs"], run_row["tasks"], run_row["stage_s"]) == (2, 6, 2.0)
    assert run_row["driver_gap_s"] == pytest.approx(7.0)
    assert run_row["self_s"] == pytest.approx(4.0)  # 10 - job 0 (2) - child span (4)
    assert (sink["jobs"], sink["self_s"], sink["files_written"]) == (1, pytest.approx(3.0), 2)
    assert spans.unattributed_jobs(trace) == 1
    table = spans.layer_table(list(rows.values()))
    assert table["sinks.file.shuffle_read_bytes"] == 10


def test_benchmark_json_lists_the_metrics_the_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_stop_descendants_waits_for_orphans_and_stops_lingering_ones():
    import subprocess
    import sys

    script = r"""
import os, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
import procs
procs.GRACE_S, procs.KILL_AFTER_S = 1.0, 1.0
procs.become_subreaper()
# each shell exits at once and leaves its background child behind
subprocess.run(["sh", "-c", "sleep 0.3 & exit 0"], check=True)
subprocess.run(["sh", "-c", "trap '' TERM; sleep 60 & exit 0"], check=True)
t = time.time()
procs.stop_descendants()
print(time.time() - t)
assert not procs.children_map().get(os.getpid())
"""
    p = subprocess.run([sys.executable, "-c", script, os.path.dirname(run.__file__)],
                       capture_output=True, text=True, timeout=30)
    assert p.returncode == 0, p.stderr
    assert float(p.stdout) < 10
