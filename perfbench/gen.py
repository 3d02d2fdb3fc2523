"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same events, the same topic assignment and the same tables.

* ``item_view_events`` builds ItemViewEvent records (the reference's
  only schema) with their topics; ``expected_fingerprint`` summarises
  them for the landed-data check.
* ``write_tables`` writes the star-schema tables the registered queries
  read (the ``TESTDATA.md`` layout, one Parquet file per table), with the
  value distributions of the driver's synthetic data at the same scale.
"""

from __future__ import annotations

import os
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BASE_TS_MILLIS = 1_700_000_000_000
_WORDS = ["red", "blue", "light", "steel", "cotton", "smart", "mini", "pro", "eco", "classic"]

EVENT_FIELDS = [
    "baseProperties.eventType", "baseProperties.timestamp", "baseProperties.url",
    "baseProperties.referer", "baseProperties.uid", "baseProperties.pcid",
    "baseProperties.serviceId", "baseProperties.version", "baseProperties.deviceType",
    "baseProperties.domain", "baseProperties.site", "itemId", "categoryId", "brandId",
    "itemType", "promotionId", "price", "itemTitle", "itemDescription", "thumbnailUrl",
]


def item_view_events(seed: int, first_id: int, n: int, topics: list[str], shares: list[int]):
    """``n`` (topic, ItemViewEvent record) pairs with ids ``first_id…``.

    ``itemId`` carries the event id, so every event is distinct and a
    duplicate or a loss shows in the landed data. ``shares`` are integer
    percentages per topic summing to 100; each event draws its topic, so
    the skew holds in every slice of the stream."""
    if sum(shares) != 100 or len(shares) != len(topics):
        raise ValueError("shares must be one integer percentage per topic, summing to 100")
    rng = random.Random(seed * 1_000_003 + first_id)
    weights = list(shares)
    out = []
    for i in range(first_id, first_id + n):
        r = rng.random
        pick = rng.choice
        base = {
            "eventType": "item-view-event",
            "timestamp": BASE_TS_MILLIS + 7 * i + rng.randrange(1000),
            "url": f"http://shop.example/item/{rng.randrange(50_000)}",
            "referer": None if r() < 0.25 else f"http://ref.example/{rng.randrange(300)}",
            "uid": f"{rng.getrandbits(128):032x}",
            "pcid": f"pc-{rng.randrange(20_000)}",
            "serviceId": pick(("shop", "search", "feed")),
            "version": pick(("1.0.0", "1.1.0", "2.0.0")),
            "deviceType": pick(("MOBILE", "PC", "TABLET")),
            "domain": "kafka.com",
            "site": pick(("m.kafka.com", "www.kafka.com")),
        }
        rec = {
            "baseProperties": base,
            "itemId": f"item-{i}",
            "categoryId": f"cat-{rng.randrange(200)}",
            "brandId": None if r() < 0.1 else f"brand-{rng.randrange(500)}",
            "itemType": pick(("NORMAL", "DEAL", "USED")),
            "promotionId": None if r() < 0.33 else f"promo-{rng.randrange(50)}",
            "price": None if r() < 0.05 else 1000 + rng.randrange(500_000),
            "itemTitle": f"{pick(_WORDS)} {pick(_WORDS)} item",
            "itemDescription": " ".join(rng.choices(_WORDS, k=6)) + " " + "x" * rng.randrange(120),
            "thumbnailUrl": f"http://img.example/{i}.jpg",
        }
        out.append((rng.choices(topics, weights)[0], rec))
    return out


def _field(rec: dict, path: str):
    head, _, tail = path.partition(".")
    return rec[head][tail] if tail else rec[head]


def row_crc(rec: dict) -> int:
    """CRC32 of the record's fields joined by U+001F, nulls as ``\\N``: the
    same value ``fingerprint`` computes for a landed row in Spark."""
    text = "\x1f".join("\\N" if v is None else str(v) for v in (_field(rec, p) for p in EVENT_FIELDS))
    return zlib.crc32(text.encode("utf-8"))


def expected_fingerprint(events) -> dict[str, tuple[int, int]]:
    """Per topic (count, CRC32 sum) of generated events, to compare with
    ``fingerprint`` of the landed rows."""
    acc: dict[str, list] = {}
    for topic, rec in events:
        a = acc.setdefault(topic, [0, 0])
        a[0] += 1
        a[1] += row_crc(rec)
    return {t: (n, s) for t, (n, s) in acc.items()}


def fingerprint(df: DataFrame, by: str) -> dict[str, tuple[int, int]]:
    """Per value of ``by``, the order-insensitive summary of ItemViewEvent
    rows: (row count, sum of per-row CRC32 over every field). Every event
    is distinct (``itemId`` carries its id), so equal summaries on generated
    and landed rows mean no loss, no duplicate and no changed field,
    whatever order the rows landed in: a lost row and a duplicated one
    leave the count equal but move the sum."""
    row = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in EVENT_FIELDS]
    )
    return {
        r[by]: (int(r["n"]), int(r["s"] or 0))
        for r in df.groupBy(by).agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.crc32(row.cast("binary"))).alias("s")
        ).collect()
    }


# ---------------------------------------------------------------------------
# Star-schema tables for the query mix
# ---------------------------------------------------------------------------

_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ["en", "en", "en", "fr", "zh", "de", "es"]


def _ms(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "ms")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("ms"))


def _strs(prefix: str, ids: np.ndarray, width: int) -> list[str]:
    return [f"{prefix}{i:0{width}d}" for i in ids.tolist()]


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (lineitem = 6M × sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_users = int(50_000 * sf), int(20_000 * sf), max(100, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _strs("Customer#", ck, 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _strs("Supplier#", sk, 9),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(n_ord)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ms(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["O", "F"], n_line),
        "l_shipdate": _ms(rng.integers(0, 2498, n_line), "1995-01-02"),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _choice(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc),
        "text": texts,
        "lang": _choice(rng, _LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], sf_dir: str, skip: tuple[str, ...] = ()) -> None:
    """One Snappy Parquet file per table, ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        if name not in skip:
            pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"), compression="snappy")
