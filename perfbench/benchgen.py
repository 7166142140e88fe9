"""Seeded input generators and correctness models for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same bytes. The JVM side receives only the files these functions write.

- `board_tables`: the ten TPC-H-ish tables the query board reads.
- `cdc_changelog`: a typed Paimon-style changelog (+I/-U/+U/-D) over a
  bounded, Zipf-skewed keyspace, plus the snapshot that seeds the index.
- `kafka_frames`: Confluent-framed Avro values under several writer
  schemas, with a fixed share of corrupt frames.
- `replay`: the reference model of a keyed index fed a changelog.
"""
import datetime as dt
import decimal
import json
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query big "
         "stream order group filter vector").split()
CITIES = ["lima", "oslo", "pune", "kyiv", "lagos", "quito", "perth", "turin"]
UTC = dt.timezone.utc
EPOCH = dt.datetime(2024, 1, 1, tzinfo=UTC)


# ---------------------------------------------------------------- board

def board_tables(seed, out_dir, docs=1000, events=10000, orders=4000,
                 customers=400, parts=400, suppliers=40, vecs=500):
    """Write the board's tables as `<out_dir>/<name>.parquet`."""
    rng = np.random.default_rng([seed, 1])
    us = lambda a: pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    write("customer", {
        "c_custkey": np.arange(customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], customers)})
    write("supplier", {
        "s_suppkey": np.arange(suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, suppliers), 2)})
    adj = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
    noun = ["widget", "bolt", "gear", "ring", "plate", "anvil", "gizmo", "rod"]
    write("part", {
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(parts)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                              "STANDARD", "LARGE"], parts),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(parts) * 0.1, 2)})
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2400, orders).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": np.round(rng.uniform(900, 500000, orders), 2),
        "o_orderdate": us(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], orders)})
    nl = rng.integers(1, 8, orders)
    lk = np.repeat(np.arange(orders, dtype=np.int64), nl)
    n = len(lk)
    qty = rng.integers(1, 51, n).astype(np.float64)
    pk = rng.integers(0, parts, n)
    write("lineitem", {
        "l_orderkey": lk,
        "l_partkey": pk,
        "l_suppkey": rng.integers(0, suppliers, n),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in nl]),
                                 pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + pk * 0.1) * rng.uniform(0.9, 2.3, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": us(np.repeat(odate, nl) +
                         rng.integers(1, 120, n).astype("timedelta64[D]"))})
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, events)).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(events, dtype=np.int64),
        "ts": us(np.datetime64("2024-01-01T00:00:00", "us") + ts),
        "user_id": rng.integers(0, max(15, events // 70), events),
        "event_type": rng.choice(["click", "view", "purchase", "signup",
                                  "error"], events),
        "value": np.round(rng.exponential(50.0, events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, events)]})
    texts = []
    for _ in range(docs):
        k = int(rng.integers(8, 80))
        texts.append(" ".join(rng.choice(WORDS, k)))
    # near-duplicate pairs, so the dedup rows have something to find
    for i in range(0, docs // 10):
        src, dst = int(rng.integers(0, docs)), int(rng.integers(0, docs))
        toks = texts[src].split()
        toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
        texts[dst] = " ".join(toks)
    write("documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, vecs)
    emb = centers[label] + rng.normal(scale=0.8, size=(vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


# ---------------------------------------------------------------- changelog

CDC_SCHEMA = pa.schema([
    ("key", pa.int64()), ("op", pa.string()), ("seq", pa.int64()),
    ("bucket", pa.int32()),
    ("name", pa.string()),
    ("profile", pa.struct([("city", pa.string()), ("zip", pa.int32()),
                           ("geo", pa.struct([("lat", pa.float64()),
                                              ("lon", pa.float64())]))])),
    ("tags", pa.list_(pa.string())),
    ("amount", pa.decimal128(12, 2)),
    ("updated_at", pa.timestamp("us", tz="UTC")),
])


def _cdc_row(key, op, seq, version):
    return {"key": key, "op": op, "seq": seq, "bucket": key % 8,
            "name": f"user-{key}-v{version}",
            "profile": {"city": CITIES[(key + version) % len(CITIES)],
                        "zip": 10000 + (key * 7 + version) % 90000,
                        "geo": {"lat": (key % 180) - 90 + version / 100.0,
                                "lon": (key % 360) - 180 + version / 100.0}},
            "tags": [WORDS[(key + i + version) % len(WORDS)]
                     for i in range(1 + (key + version) % 3)],
            "amount": decimal.Decimal(key * 100 + version) / 100,
            "updated_at": EPOCH + dt.timedelta(seconds=seq)}


def cdc_changelog(seed, keyspace, batch_sizes, zipf_s=1.1, p_delete=0.15,
                  p_stray=0.03):
    """(snapshot rows, [batch rows]) of a Paimon-style changelog.

    Keys are Zipf-skewed over `keyspace` (rank -> key by a seeded
    permutation, even and odd keys alternating; `keyspace` must be even),
    so hot keys carry several versions per batch. A live
    key is updated (-U then +U) or deleted (-D); a dead key is inserted
    (+I). A small share of rows are strays: a -D or -U of a dead key.
    Every row carries a unique, increasing `seq` (the order column).
    Batch i holds `batch_sizes[i]` rows (one more when it ends on a
    -U/+U pair).
    """
    rng = np.random.default_rng([seed, 2])
    p = np.arange(1, keyspace + 1, dtype=np.float64) ** -zipf_s
    p /= p.sum()
    # rank -> key alternates even and odd keys, so the share of rows the
    # shard (even buckets) keeps does not depend on the seed
    shuffled = rng.permutation(keyspace)
    perm = np.empty(keyspace, dtype=np.int64)
    perm[0::2] = shuffled[shuffled % 2 == 0]
    perm[1::2] = shuffled[shuffled % 2 == 1]
    live = np.ones(keyspace, dtype=bool)
    version = np.zeros(keyspace, dtype=np.int64)
    snapshot = [_cdc_row(k, "+I", k, 0) for k in range(keyspace)]
    seq = keyspace
    batches = []
    for size in batch_sizes:
        rows = []
        keys = perm[rng.choice(keyspace, size=size, p=p)].tolist()
        coins = rng.random(size).tolist()
        for k, u in zip(keys, coins):
            if len(rows) >= size:
                break
            if live[k] and u < p_delete:
                rows.append(_cdc_row(k, "-D", seq, int(version[k])))
                live[k] = False
            elif live[k]:
                rows.append(_cdc_row(k, "-U", seq, int(version[k])))
                seq += 1
                version[k] += 1
                rows.append(_cdc_row(k, "+U", seq, int(version[k])))
            elif u < p_delete + p_stray:
                rows.append(_cdc_row(k, "-D" if u < p_delete + p_stray / 2 else "-U",
                                     seq, int(version[k])))
            else:
                version[k] += 1
                rows.append(_cdc_row(k, "+I", seq, int(version[k])))
                live[k] = True
            seq += 1
        batches.append(rows)
    return snapshot, batches


def cdc_kept(row):
    """The benchmark's shard (`modulo` on `bucket`, 2 shards, shard 0)."""
    return row["bucket"] % 2 == 0


def write_rows(rows, path):
    pq.write_table(pa.Table.from_pylist(rows, schema=CDC_SCHEMA), path)


def replay(rows, keep=lambda r: True):
    """Final index of a keyed sink fed `rows`: per key the last op in
    `seq` order wins; +I/+U upsert, -D deletes, -U is ignored. Returns
    {key: row} of the live keys."""
    state = {}
    for r in sorted((r for r in rows if keep(r)), key=lambda r: r["seq"]):
        if r["op"] in ("+I", "+U"):
            state[r["key"]] = r
        elif r["op"] == "-D":
            state.pop(r["key"], None)
    return state


def cdc_live_bound(keyspace):
    """Most live documents the shard can hold: the keys it keeps."""
    return sum(1 for k in range(keyspace) if cdc_kept({"bucket": k % 8}))


def cdc_document(row):
    """The indexed document of a changelog row, as the timed conversion
    writes it: `profile` flattened to `profile_*`, every payload column
    stringified (decimal as plain text, timestamp as epoch millis, array
    as a JSON array), key and seq kept typed. Doubles are compared as
    numbers, so their text form (JDK-dependent) is parsed back."""
    p = row["profile"]
    return {"key": row["key"], "seq": row["seq"], "bucket": str(row["bucket"]),
            "name": row["name"], "profile_city": p["city"],
            "profile_zip": str(p["zip"]),
            "profile_geo_lat": p["geo"]["lat"], "profile_geo_lon": p["geo"]["lon"],
            "tags": json.dumps(row["tags"], separators=(",", ":")),
            "amount": f"{row['amount']:.2f}",
            "updated_at": str(int((row["updated_at"] - EPOCH).total_seconds()) * 1000
                              + 1704067200000)}


def cdc_index_document(doc):
    """An index row read back, in the form of `cdc_document`."""
    return dict(doc, profile_geo_lat=float(doc["profile_geo_lat"]),
                profile_geo_lon=float(doc["profile_geo_lon"]))


def cdc_digest_rows(state):
    """The replayed index as sorted documents (see `cdc_document`)."""
    return sorted((sorted(cdc_document(r).items()) for r in state.values()))


# ---------------------------------------------------------------- avro

def _zz(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _bytes(b):
    return _zz(len(b)) + b


def _str(s):
    return _bytes(s.encode("utf-8"))


def _array(items, enc):
    if not items:
        return _zz(0)
    return _zz(len(items)) + b"".join(enc(i) for i in items) + _zz(0)


def _decimal(d, scale=2):
    n = int(d.scaleb(scale))
    length = max(1, (n.bit_length() + 8) // 8)
    return _bytes(n.to_bytes(length, "big", signed=True))


ADDR = {"type": "record", "name": "Addr",
        "fields": [{"name": "city", "type": "string"},
                   {"name": "zip", "type": "int"}]}
LABEL = {"type": "record", "name": "Label",
         "fields": [{"name": "k", "type": "string"},
                    {"name": "v", "type": "int"}]}
BASE_FIELDS = [
    {"name": "id", "type": "string"},
    {"name": "seq", "type": "long"},
    {"name": "name", "type": "string"},
    {"name": "score", "type": "int"},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "addr", "type": ADDR},
    {"name": "attrs", "type": {"type": "map", "values": "string"}},
    {"name": "note", "type": ["null", "string"]},
    {"name": "price", "type": {"type": "bytes", "logicalType": "decimal",
                               "precision": 10, "scale": 2}},
    {"name": "day", "type": {"type": "int", "logicalType": "date"}},
    {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
]
WRITER_SCHEMAS = {
    1: {"type": "record", "name": "Doc", "fields": BASE_FIELDS},
    2: {"type": "record", "name": "Doc", "fields": BASE_FIELDS + [
        {"name": "rating", "type": ["null", "double"]},
        {"name": "labels", "type": {"type": "array", "items": LABEL}}]},
    3: {"type": "record", "name": "Doc", "fields": BASE_FIELDS + [
        {"name": "rating", "type": ["null", "double"]},
        {"name": "labels", "type": {"type": "array", "items": LABEL}},
        {"name": "geo", "type": {"type": "record", "name": "Geo", "fields": [
            {"name": "lat", "type": "double"},
            {"name": "lon", "type": "double"}]}}]},
}


def avro_doc(key, seq, schema_id):
    """(record dict, Avro binary body) of one document version."""
    rec = {"id": f"k{key}", "seq": seq, "name": f"doc-{key}-{seq}",
           "score": (key * 31 + seq) % 1000,
           "tags": [WORDS[(key + seq + i) % len(WORDS)] for i in range((key + seq) % 4)],
           "addr_city": CITIES[(key + seq) % len(CITIES)]}
    body = (_str(rec["id"]) + _zz(seq) + _str(rec["name"]) + _zz(rec["score"])
            + _array(rec["tags"], _str)
            + _str(rec["addr_city"]) + _zz(10000 + key % 90000)
            + _array([("src", f"s{key % 7}")], lambda kv: _str(kv[0]) + _str(kv[1]))
            + (_zz(0) if seq % 3 == 0 else _zz(1) + _str(f"note {seq}"))
            + _decimal(decimal.Decimal(key % 100000) / 100)
            + _zz(19000 + seq % 1000)
            + _zz(1704067200000 + seq * 1000))
    if schema_id >= 2:
        body += (_zz(1) + struct.pack("<d", (seq % 50) / 10.0)
                 + _array([(f"l{key % 5}", key % 11)],
                          lambda kv: _str(kv[0]) + _zz(kv[1])))
    if schema_id >= 3:
        body += struct.pack("<d", (key % 180) - 90.0) + struct.pack("<d", (key % 360) - 180.0)
    return rec, body


def frame(schema_id, body):
    return b"\x00" + struct.pack(">i", schema_id) + body


CORRUPT_KINDS = ("bad_magic", "unknown_schema", "truncated")


def kafka_frames(seed, keyspace, batch_sizes, corrupt_share):
    """Preload frames, per-batch frames and the expected outcome.

    Returns (preload, batches, expected) where preload/batches are lists
    of (offset, value bytes); batch i holds `batch_sizes[i]` frames over
    DISTINCT uniform keys, a `corrupt_share` of them corrupt (kinds in
    rotation). `expected` = {"final_preload": {id: rec}, "batch_finals":
    [per-batch {id: rec}], "corrupt": [per-batch {kind: n}]}.
    """
    rng = np.random.default_rng([seed, 3])
    preload, final_preload = [], {}
    for k in range(keyspace):
        rec, body = avro_doc(k, k, 1 + k % 3)
        preload.append((k, frame(1 + k % 3, body)))
        final_preload[rec["id"]] = rec
    offset = keyspace
    batches, finals, corrupt = [], [], []
    for batch_size in batch_sizes:
        keys = rng.choice(keyspace, batch_size, replace=False)
        n_bad = max(1, round(batch_size * corrupt_share))
        bad = set(rng.choice(batch_size, n_bad, replace=False).tolist())
        frames, kinds, final = [], {}, {}
        for i, k in enumerate(keys.tolist()):
            sid = 1 + int(rng.integers(0, 3))
            rec, body = avro_doc(k, offset, sid)
            if i in bad:
                kind = CORRUPT_KINDS[(len(batches) + sum(kinds.values())) % 3]
                kinds[kind] = kinds.get(kind, 0) + 1
                value = {"bad_magic": b"\x01" + frame(sid, body)[1:],
                         "unknown_schema": frame(99, body),
                         "truncated": frame(sid, body[:len(body) // 2])}[kind]
            else:
                value = frame(sid, body)
                final[rec["id"]] = rec
            frames.append((offset, value))
            offset += 1
        batches.append(frames)
        finals.append(final)
        corrupt.append(kinds)
    return preload, batches, {"final_preload": final_preload,
                              "batch_finals": finals, "corrupt": corrupt}


def write_frames(frames, path):
    pq.write_table(pa.table({"offset": pa.array([o for o, _ in frames], pa.int64()),
                             "value": pa.array([v for _, v in frames], pa.binary())}),
                   path)


def write_batches(batches, path):
    pq.write_table(pa.table({
        "batch": pa.array([i for i, b in enumerate(batches) for _ in b], pa.int32()),
        "offset": pa.array([o for b in batches for o, _ in b], pa.int64()),
        "value": pa.array([v for b in batches for _, v in b], pa.binary())}), path)


def kafka_digest_rows(final):
    """Sorted (id, seq, name, score, city, tags) of the expected index."""
    return sorted((i, str(r["seq"]), r["name"], str(r["score"]), r["addr_city"],
                   "|".join(r["tags"])) for i, r in final.items())
