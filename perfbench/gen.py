"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy's PCG64 stream),
so the same seed always yields the same bytes. Nothing here touches the
engine: the checkers in ``check.py`` compare the engine's outputs with
values derived from these same arrays.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# rfc008_copy: the RFC-008 record shape, {"id", "name", "value"} per line.


def flat_records(seed: int, n: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, 8])
    return {
        "id": rng.permutation(n).astype(np.int64),
        "name_num": rng.integers(0, 1000, n, dtype=np.int64),
        "value": rng.integers(0, 10000, n, dtype=np.int64),
    }


def write_flat_ndjson(path: str, recs: dict[str, np.ndarray]) -> None:
    rows = zip(recs["id"].tolist(), recs["name_num"].tolist(), recs["value"].tolist())
    with open(path, "w") as f:
        f.write(
            "".join('{"id": %d, "name": "user_%d", "value": %d}\n' % r for r in rows)
        )


def flat_names(recs: dict[str, np.ndarray]) -> list[str]:
    return ["user_%d" % v for v in recs["name_num"].tolist()]


# --------------------------------------------------------------------------
# jq_route_fanout: nested order records.

STATUSES = np.array(["paid", "shipped", "pending", "refunded", "cancelled"])
TIERS = np.array(["gold", "silver", "bronze", "basic"])
REGIONS = np.array(["emea", "apac", "amer", "latam", "mena"])
CITIES = np.array(["Lyon", "Osaka", "Austin", "Lima", "Cairo", "Oslo", "Pune", "Quito"])


def nested_orders(seed: int, n: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, 9])
    return {
        "id": np.arange(n, dtype=np.int64),
        "status": rng.integers(0, len(STATUSES), n),
        # cents; 2.5% of the orders fall under the query's 5.00 floor
        "amount_cents": rng.integers(0, 20000, n, dtype=np.int64),
        "cust_id": rng.integers(0, 50000, n, dtype=np.int64),
        "tier": rng.integers(0, len(TIERS), n),
        "region": rng.integers(0, len(REGIONS), n),
        "city": rng.integers(0, len(CITIES), n),
        "n_items": rng.integers(1, 4, n),
        "sku": rng.integers(0, 5000, (n, 3)),
        "qty": rng.integers(1, 6, (n, 3)),
        "month": rng.integers(1, 13, n),
        "day": rng.integers(1, 29, n),
    }


def write_nested_ndjson(path: str, o: dict[str, np.ndarray]) -> None:
    head = (
        '{"id": %d, "status": "%s", "amount": %d.%02d, "currency": "EUR", '
        '"customer": {"id": %d, "name": "Cust %d", "tier": "%s", '
        '"address": {"city": "%s", "region": "%s"}}, "items": ['
    )
    item = '{"sku": "SKU-%04d", "qty": %d}'
    tail = '], "created_at": "2024-%02d-%02dT10:00:00Z"}\n'
    status, tier = STATUSES[o["status"]].tolist(), TIERS[o["tier"]].tolist()
    region, city = REGIONS[o["region"]].tolist(), CITIES[o["city"]].tolist()
    cents = o["amount_cents"].tolist()
    cust, n_items = o["cust_id"].tolist(), o["n_items"].tolist()
    sku, qty = o["sku"].tolist(), o["qty"].tolist()
    month, day = o["month"].tolist(), o["day"].tolist()
    out = []
    for i in range(len(cents)):
        c = cents[i]
        items = ", ".join(item % (sku[i][j], qty[i][j]) for j in range(n_items[i]))
        out.append(
            head % (i, status[i], c // 100, c % 100, cust[i], cust[i], tier[i],
                    city[i], region[i])
            + items
            + tail % (month[i], day[i])
        )
    with open(path, "w") as f:
        f.write("".join(out))


# --------------------------------------------------------------------------
# lakehouse_upsert: an orders-shaped keyed table and its upsert batches.

BASE_KEY_SPACE = 100_000
BASE_ROWS = 80_000
TS0 = 1_000_000
TS_PER_BATCH = 100_000
#: One upsert batch: inserts of new keys, updates in the most recent 5%
#: of the live keys, scattered updates, and keys repeated later in the
#: same batch.
BATCH_INSERTS = 500
BATCH_RECENT = 1500
BATCH_SCATTERED = 5
BATCH_DUPLICATES = 50


def _rows(rng, keys: np.ndarray, ts: np.ndarray) -> dict[str, np.ndarray]:
    n = len(keys)
    return {
        "k": keys.astype(np.int64),
        "cust": rng.integers(0, 15000, n, dtype=np.int64),
        "status": rng.integers(0, 3, n).astype(np.int64),
        "price_cents": rng.integers(100, 50_000_000, n, dtype=np.int64),
        "ts": ts.astype(np.int64),
    }


def lakehouse_base(seed: int) -> dict[str, np.ndarray]:
    """A seeded subset of the key space (80%), all at the base ts."""
    rng = np.random.default_rng([seed, 10])
    keys = np.sort(rng.choice(BASE_KEY_SPACE, BASE_ROWS, replace=False))
    return _rows(rng, keys, np.full(len(keys), TS0))


def lakehouse_batch(seed: int, b: int, max_key: int, live_keys: np.ndarray) -> dict[str, np.ndarray]:
    """Upsert batch ``b`` (1-based): inserts above ``max_key``, updates
    clustered in the most recent 5% of the live keys, a few scattered
    updates and some keys repeated with a later ts in the same batch.
    Every ts of batch b is above every ts of batch b-1."""
    rng = np.random.default_rng([seed, 11, b])
    ins = max_key + 1 + np.sort(rng.choice(3 * BATCH_INSERTS, BATCH_INSERTS, replace=False))
    recent_lo = int(len(live_keys) * 0.95)
    recent = rng.choice(live_keys[recent_lo:], BATCH_RECENT, replace=False)
    scattered = rng.choice(live_keys[:recent_lo], BATCH_SCATTERED, replace=False)
    keys = np.concatenate([ins, recent, scattered])
    dups = rng.choice(keys, BATCH_DUPLICATES, replace=False)
    ts_base = TS0 + b * TS_PER_BATCH
    ts = ts_base + rng.permutation(len(keys))
    dup_ts = ts_base + len(keys) + rng.permutation(BATCH_DUPLICATES)
    return _rows(rng, np.concatenate([keys, dups]), np.concatenate([ts, dup_ts]))


STATUS_CODES = np.array(["O", "F", "P"])


def lakehouse_arrow(rows: dict[str, np.ndarray]) -> pa.Table:
    """The rows as the engine sees them: price as a double in currency
    units, status as a one-letter code."""
    return pa.table({
        "k": rows["k"],
        "cust": rows["cust"],
        "status": STATUS_CODES[rows["status"]],
        "price": rows["price_cents"] / 100.0,
        "ts": rows["ts"],
    })


# --------------------------------------------------------------------------
# corpus_ops: documents and embeddings in the registry's table layout.

WORDS = np.array(
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector customer the join dup".split()
)
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
EMBEDDING_DIM = 64


def corpus(seed: int, n_docs: int, n_vecs: int):
    """Documents (a fifth are near-duplicates of an earlier document with
    one word changed) and clustered float32 embeddings."""
    rng = np.random.default_rng([seed, 12])
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(WORDS[rng.integers(0, len(WORDS))])
        else:
            words = WORDS[rng.integers(0, len(WORDS), int(rng.integers(8, 90)))].tolist()
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
        "source": ["src%d" % v for v in rng.integers(0, 20, n_docs).tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 0.15, (10, EMBEDDING_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_vecs, EMBEDDING_DIM))).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return docs, emb


def write_corpus(dirpath: str, seed: int, n_docs: int, n_vecs: int) -> None:
    docs, emb = corpus(seed, n_docs, n_vecs)
    pq.write_table(docs, f"{dirpath}/documents.parquet")
    pq.write_table(emb, f"{dirpath}/embeddings.parquet")
