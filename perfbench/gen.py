"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its arguments: the same seed writes
byte-identical files. Each input set is written into a temporary directory
and renamed into place with a digest file, so an interrupted generation is
never reused.

Input sets:
  tables   the TPC-H-like star schema plus events/documents/embeddings that
           the gate keys read (same column names and physical types as the
           repository's test data), at a given scale factor
  etl      JSONL records and JSON-wrapped HL7 messages for the connector
           path, plus a seeded merge batch
  backlog  an event backlog for the streaming drain, staged as many small
           parquet files (Zipf-skewed users, out-of-order and late events)
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EPOCH_US = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * 86400 * 1000000


def digest_dir(path):
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cached(dest, build):
    """Return (digest, expect) for the input set at `dest`, building it
    with `build(tmpdir) -> expect` first when it is missing."""
    done = os.path.join(dest, "..", os.path.basename(dest) + ".done.json")
    if os.path.exists(done) and os.path.isdir(dest):
        with open(done) as fh:
            meta = json.load(fh)
        return meta["digest"], meta["expect"]
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(tmp)
    expect = build(tmp)
    digest = digest_dir(tmp)
    os.rename(tmp, dest)
    with open(done, "w") as fh:
        json.dump({"digest": digest, "expect": expect}, fh)
    return digest, expect


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def gen_tables(out, sf, seed=42):
    """The gate keys' tables at scale factor `sf` (0.01 = 60k lineitems)."""
    rng = np.random.default_rng(seed)
    n = lambda base, floor=1: max(floor, int(round(base * sf)))
    day_us = 86400 * 1000000
    d1995 = int((dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)).days)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    nc = n(150000)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]}),
        f"{out}/customer.parquet")

    ns = n(10000)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}),
        f"{out}/supplier.parquet")

    npart = n(200000)
    adj = ["red", "blue", "small", "large", "hot", "old", "green", "cold"]
    noun = ["plate", "widget", "ring", "rod", "bolt", "gear", "nut", "pipe"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)}),
        f"{out}/part.parquet")

    no = n(1500000)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts((d1995 + rng.integers(0, 2404, no)) * day_us),
        "o_orderpriority": prio[rng.integers(0, 5, no)]}),
        f"{out}/orders.parquet")

    nl = n(6000000)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts((d1995 + 1 + rng.integers(0, 2498, nl)) * day_us)}),
        f"{out}/lineitem.parquet")

    ne, users = n(1000000), n(15000, 5)
    ts = EPOCH_US + np.sort(rng.integers(0, 30 * day_us, ne))
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        f"{out}/events.parquet")

    nd = n(50000, 500)
    words = np.array(WORDS)
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(8, 100))]))
    langs = np.array(["en", "zh", "es", "de", "fr"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, nd, p=[0.44, 0.15, 0.15, 0.14, 0.12])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    nv = n(20000, 500)
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] * 0.15 + rng.normal(0, 1, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}),
        f"{out}/embeddings.parquet")
    return {"lineitem_rows": nl, "events_rows": ne}


def gen_etl(out, seed, n_records, n_msgs, n_files=16):
    """Raw connector inputs: JSONL records, JSON-wrapped HL7 messages and a
    merge batch keyed like the HL7 segment table. Every value is a hash of
    (row, seed, field), so DuckDB writes the files in parallel and still
    byte-identically. Returns the counts and sums the benchmark checks its
    outputs against."""
    import duckdb
    con = duckdb.connect()
    for d in ("records", "hl7", "updates"):
        os.makedirs(f"{out}/{d}")

    def h(field, mod, col="range"):
        return f"(hash({col}, {seed}, {field}) % {mod})::BIGINT"

    records = f"""SELECT range AS id, 1704067200000 + {h(1, 2592000000)} AS ts,
        'u' || lpad({h(2, 50000)}::VARCHAR, 5, '0') AS "user",
        ['order', 'refund', 'view', 'cart', 'return'][{h(3, 5)} + 1] AS kind,
        ((1 + {h(4, 499999)})::DECIMAL(12, 0) / 100)::DECIMAL(12, 2) AS amount,
        (1 + {h(5, 19)})::INTEGER AS qty,
        ['join', 'hash', 'row'][1:{h(6, 4)}] AS tags,
        {{'city': ['Oslo', 'Lima', 'Pune', 'Kyiv', 'Baku', 'Doha', 'Riga',
                   'Nice'][{h(7, 8)} + 1],
         'zip': lpad(({h(2, 50000)} % 9973)::VARCHAR, 5, '0')}} AS addr
        FROM range({{lo}}, {{hi}}) ORDER BY id"""
    # MSH, PID, then one to four OBX segments, CR-separated
    msgs = f"""SELECT range AS msg_id, concat_ws(chr(13),
        'MSH|^~\\&|GRAFT|FAC' || range % 7 || '|LAB|HOSP|2024010' ||
          range % 9 + 1 || '|ORU^R01|' || range || '|P|2.5',
        'PID|1||P' || lpad((range % 100000)::VARCHAR, 6, '0') || '||DOE^J' ||
          range % 97 || '||1980' || lpad((range % 12 + 1)::VARCHAR, 2, '0') || '01|F',
        array_to_string(list_transform(range(1 + {h(11, 4)}),
          k -> 'OBX|' || (k + 1) || '|NM|C' || k || '||' ||
               (hash(range, {seed}, 12 + k) % 100000) || '|mg'), chr(13))) AS msg
        FROM range({{lo}}, {{hi}}) ORDER BY msg_id"""
    for what, n, q in (("records", n_records, records), ("hl7", n_msgs, msgs)):
        per = -(-n // n_files)
        for f in range(n_files):
            lo, hi = f * per, min(n, (f + 1) * per)
            sql = q.replace("{lo}", str(lo)).replace("{hi}", str(hi))
            con.sql(f"COPY ({sql}) TO "
                    f"'{out}/{what}/part-{f:04d}.jsonl' (FORMAT JSON)")

    # merge batch: every 50th message (by hash) gets its PID segment
    # (seg_idx 1) replaced, and 1% brand-new messages arrive
    n_new = max(1, n_msgs // 100)
    con.sql(f"""COPY (SELECT msg_id, 1 AS seg_idx, 'ZUP|' || msg_id || '|corrected' AS seg
        FROM (SELECT range AS msg_id FROM range({n_msgs}) WHERE {h(20, 50)} = 0
              UNION ALL SELECT range FROM range({n_msgs}, {n_msgs + n_new}))
        ORDER BY msg_id) TO '{out}/updates/part-0000.jsonl' (FORMAT JSON)""")
    lo, hi = n_msgs // 4, n_msgs // 4 + n_msgs // 10
    cents, segs, in_range, upd = con.sql(f"""SELECT
        (SELECT sum(1 + {h(4, 499999)}) FROM range({n_records}))::BIGINT,
        (SELECT sum(3 + {h(11, 4)}) FROM range({n_msgs}))::BIGINT,
        (SELECT sum(3 + {h(11, 4)}) FROM range({lo}, {hi + 1}))::BIGINT,
        (SELECT count(*) FROM range({n_msgs}) WHERE {h(20, 50)} = 0)""").fetchone()
    return {"records": n_records, "records_amount_cents": int(cents),
            "msgs": n_msgs, "segments": int(segs),
            "updated": int(upd), "inserted": n_new,
            "rows_after_merge": int(segs) + n_new,
            "zup_after_merge": int(upd) + n_new,
            "read_lo": lo, "read_hi": hi, "read_rows": int(in_range)}


def gen_backlog(out, seed, n_files, rows_per_file, users=20000,
                late_share=0.03):
    """Event backlog for the streaming drain: `n_files` small parquet files
    in arrival order. Event time advances about one minute per file; rows
    inside a file arrive out of order, and `late_share` of them carry an
    event time three hours old, beyond every drain query's watermark."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(f"{out}/files")
    total_cents, n, late_per_file = 0, n_files * rows_per_file, []
    for f in range(n_files):
        ids = np.arange(f * rows_per_file, (f + 1) * rows_per_file)
        base = EPOCH_US + f * 60 * 1000000
        ts = base + rng.integers(0, 60 * 1000000, rows_per_file)
        late = rng.random(rows_per_file) < late_share
        ts = np.where(late, ts - 3 * 3600 * 1000000, ts)
        late_per_file.append(int(late.sum()))
        user = (rng.zipf(1.3, rows_per_file) - 1) % users
        cents = rng.integers(1, 50000, rows_per_file)
        total_cents += int(cents.sum())
        _write(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, rows_per_file)],
            "value": cents / 100.0}),
            f"{out}/files/part-{f:05d}.parquet")
        # the file source drains in modification-time order
        os.utime(f"{out}/files/part-{f:05d}.parquet", (1.7e9 + f, 1.7e9 + f))
    return {"rows": n, "files": n_files, "value_cents": total_cents,
            "late_per_file": late_per_file}
