"""Engine-free output checks. Each check returns a list of problems;
an empty list means the output is correct.

The expected values come from the generator's arrays (``gen.py``) or
from DuckDB running the registry's oracle SQL; the engine's output is
read back with pyarrow. No check runs Spark.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.json as pajson

import gen

# --------------------------------------------------------------------------
# rfc008_copy


def flat_digest(ids, names, values) -> str:
    """Order-insensitive content hash of (id, name, value) records."""
    ids = np.asarray(ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    h = hashlib.sha256()
    h.update(ids[order].tobytes())
    h.update(np.asarray(values, dtype=np.int64)[order].tobytes())
    h.update("\n".join(np.asarray(names, dtype=object)[order].tolist()).encode())
    return h.hexdigest()


def expected_flat(recs: dict) -> tuple[int, str]:
    return len(recs["id"]), flat_digest(recs["id"], gen.flat_names(recs), recs["value"])


def check_flat_copy(out_path: str, expected: tuple[int, str]) -> list[str]:
    n, digest = expected
    if not os.path.isfile(out_path):
        return [f"missing output {out_path}"]
    t = pajson.read_json(out_path)
    if sorted(t.column_names) != ["id", "name", "value"]:
        return [f"output columns {t.column_names}"]
    if t.num_rows != n:
        return [f"{t.num_rows} records, expected {n}"]
    got = flat_digest(
        t["id"].to_numpy(), t["name"].to_pylist(), t["value"].to_numpy()
    )
    return [] if got == digest else ["content hash differs from the generator's"]


# --------------------------------------------------------------------------
# jq_route_fanout

#: The connector program: a select, an object build over nested paths,
#: and string functions. ``expected_routes`` is its pure-Python twin.
JQ_QUERY = (
    '.[] | select(.status != "cancelled" and .amount >= 5) | '
    "{id: .id, region: .customer.address.region, tier: .customer.tier, "
    "city: (.customer.address.city | ascii_downcase), "
    "customer: (.customer.name | ascii_upcase), sku: .items[0].sku, "
    'amount: .amount, code: ("ord-" + (.id | tostring))}'
)
JQ_COLUMNS = ["id", "region", "tier", "city", "customer", "sku", "amount", "code"]


_STRING_COLUMNS = [c for c in JQ_COLUMNS if c not in ("id", "amount")]


def route_digest(ids, cents, strings: dict[str, list[str]]) -> str:
    """Order-insensitive hash of every column of a route's records."""
    ids = np.asarray(ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    h = hashlib.sha256()
    h.update(ids[order].tobytes())
    h.update(np.asarray(cents, dtype=np.int64)[order].tobytes())
    for c in _STRING_COLUMNS:
        h.update(b"\0" + "\n".join(np.asarray(strings[c], dtype=object)[order].tolist()).encode())
    return h.hexdigest()


def expected_routes(o: dict) -> dict[str, dict[str, tuple[int, int, int, str]]]:
    """{"region"|"tier": {route: (records, amount in cents, sum of ids,
    route_digest)}} for the records the filter keeps."""
    keep = (gen.STATUSES[o["status"]] != "cancelled") & (o["amount_cents"] >= 500)
    ids, cents = o["id"][keep], o["amount_cents"][keep]
    strings = {
        "region": gen.REGIONS[o["region"][keep]],
        "tier": gen.TIERS[o["tier"][keep]],
        "city": np.char.lower(gen.CITIES)[o["city"][keep]],
        "customer": np.array(["CUST %d" % c for c in o["cust_id"][keep].tolist()], dtype=object),
        "sku": np.array(["SKU-%04d" % s for s in o["sku"][keep, 0].tolist()], dtype=object),
        "code": np.array(["ord-%d" % i for i in ids.tolist()], dtype=object),
    }
    out = {}
    for field in ("region", "tier"):
        routes = {}
        for route in np.unique(strings[field]).tolist():
            m = strings[field] == route
            routes[route] = (
                int(m.sum()), int(cents[m].sum()), int(ids[m].sum()),
                route_digest(ids[m], cents[m], {c: v[m] for c, v in strings.items()}),
            )
        out[field] = routes
    return out


def _route_stats(t: pa.Table, field: str, route: str) -> tuple[tuple[int, int, int, str], list[str]]:
    problems = []
    if t.column_names != JQ_COLUMNS:
        problems.append(f"{route}: columns {t.column_names}")
        return (0, 0, 0, ""), problems
    if t.num_rows and not pc.all(pc.equal(t[field], route)).as_py():
        problems.append(f"{route}: holds records of another {field}")
    ids = t["id"].to_numpy()
    cents = np.rint(t["amount"].to_numpy() * 100).astype(np.int64)
    digest = route_digest(ids, cents, {c: t[c].to_pylist() for c in _STRING_COLUMNS})
    return (t.num_rows, int(cents.sum()), int(ids.sum()), digest), problems


def check_routes(region_dir: str, tier_dir: str, expected: dict) -> list[str]:
    problems = []
    for field, d, ext in (("region", region_dir, ".json"), ("tier", tier_dir, ".csv.gz")):
        files = sorted(os.listdir(d)) if os.path.isdir(d) else []
        got_routes = {f[: -len(ext)] for f in files if f.endswith(ext)}
        if got_routes != set(expected[field]) or len(files) != len(got_routes):
            problems.append(f"{field} routes {sorted(files)}, expected {sorted(expected[field])}")
            continue
        for route, want in expected[field].items():
            path = os.path.join(d, route + ext)
            if ext == ".json":
                t = pajson.read_json(path)
            else:
                types = {c: pa.string() for c in _STRING_COLUMNS}
                types.update(amount=pa.float64(), id=pa.int64())
                t = pacsv.read_csv(path, convert_options=pacsv.ConvertOptions(column_types=types))
            got, p = _route_stats(t, field, route)
            problems += p
            if p:
                continue
            if got[:3] != want[:3]:
                problems.append(f"{field}={route}: (records, cents, id sum) {got[:3]}, expected {want[:3]}")
            elif got[3] != want[3]:
                problems.append(f"{field}={route}: a column differs from the filter's output")
    return problems


# --------------------------------------------------------------------------
# lakehouse_upsert

_M = 2147483647


def row_checksum(k, ts, cents, cust) -> int:
    return (k * 2654435761 + ts * 40503 + cents + cust * 7919) % _M


class Replay:
    """Latest-ts-per-key state of the table, replayed in pure Python,
    with the snapshot aggregate kept up to date."""

    def __init__(self, base: dict):
        self.rows: dict[int, tuple[int, int, int]] = {}
        self.count = self.sum_k = self.sum_ts = self.sum_cents = self.checksum = 0
        self.apply(base)

    def _add(self, k, row, sign):
        cust, cents, ts = row
        self.count += sign
        self.sum_k += sign * k
        self.sum_ts += sign * ts
        self.sum_cents += sign * cents
        self.checksum += sign * row_checksum(k, ts, cents, cust)

    def apply(self, batch: dict) -> None:
        latest: dict[int, tuple[int, int, int]] = {}
        for k, cust, cents, ts in zip(
            batch["k"].tolist(), batch["cust"].tolist(),
            batch["price_cents"].tolist(), batch["ts"].tolist(),
        ):
            if k not in latest or ts > latest[k][2]:
                latest[k] = (cust, cents, ts)
        for k, row in latest.items():
            old = self.rows.get(k)
            if old is not None and old[2] >= row[2]:
                continue
            if old is not None:
                self._add(k, old, -1)
            self.rows[k] = row
            self._add(k, row, 1)

    def live_keys(self) -> np.ndarray:
        return np.fromiter(sorted(self.rows), dtype=np.int64)

    def expected(self) -> tuple[int, int, int, int, int]:
        return (self.count, self.sum_k, self.sum_ts, self.sum_cents, self.checksum)


def check_snapshot(got: tuple, replay: Replay) -> list[str]:
    want = replay.expected()
    if tuple(int(v or 0) for v in got) != want:
        return [f"snapshot (count, sum k, sum ts, sum cents, checksum) {tuple(got)}, replay {want}"]
    return []


# --------------------------------------------------------------------------
# corpus_ops


def frame_digest(df) -> str:
    """Hash of a result frame's text, with columns sorted by name and
    rows sorted by value, so row and column order do not matter."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def oracle_digests(corpus_dir: str, names: list[str]) -> dict[str, str]:
    """Run each registered query's DuckDB oracle over the generated tables."""
    import duckdb

    from optimus_any2any_spark.queries import all_queries

    reg = all_queries()
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{corpus_dir}/{table}.parquet')"
            )
        return {n: frame_digest(con.execute(reg[n].oracle).df()) for n in names}
    finally:
        con.close()
