"""Seeded inputs, built only from the program's public datagen and
imagecodec functions. The same seed gives the same inputs; the program
receives only what these functions generate.

Each generator also returns the analytic expected output and an input
size record (docs, spans, media, pixel bytes, heavy share).
"""

from __future__ import annotations

import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from onnxocr_spark.datagen.documents import doc_id_for, is_heavy, spans_for
from onnxocr_spark.datagen.render import (
    expected_media_text,
    is_flipped,
    media_lines,
    render_media,
)
from onnxocr_spark.imagecodec import encode_image

SPAN_T = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_T))])
SPAN_ROWS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
    ("media_bytes", pa.binary()),
])
# doc-index space the seed draws windows from; far below doc_id's 12 digits
_INDEX_SPACE = 10**9


def span_key(s) -> tuple:
    return (s["kind"], s["text"], s["media_ref"], int(s["offset"]))


# ------------------------------------------------------------- ocr_tensor
def ocr_images(seed: int, n: int, heavy_every: int = 10):
    """n rendered media images whose make-up is the same for every seed:
    exactly one in ``heavy_every`` heavy, each line count the renderer
    draws equally often, one in five flipped (the renderer's own rate),
    and one-digit offsets, so every line has the same width. Seeds
    differ in which documents fill that make-up and in its order.

    → (images, expected texts, sizes)"""
    n_heavy = n // heavy_every
    quota: Counter = Counter()
    for heavy, count, line_counts in ((True, n_heavy, (2, 3, 4, 5)),
                                      (False, n - n_heavy, (2, 3, 4))):
        for j in range(count):
            k = line_counts[j % len(line_counts)]
            quota[(heavy, k, (j // len(line_counts)) % 5 == 0)] += 1
    rng = random.Random(f"{seed}/ocr_images")
    picked, i = [], rng.randrange(_INDEX_SPACE)
    while len(picked) < n:
        doc_id = doc_id_for(i)
        for offset in range(10):
            for heavy in (False, True):
                key = (heavy, len(media_lines(doc_id, offset, heavy)),
                       is_flipped(doc_id, offset))
                if quota[key] > 0:
                    quota[key] -= 1
                    picked.append((doc_id, offset, heavy))
                    break
        i += 1
    rng.shuffle(picked)
    images = [render_media(d, o, heavy=h) for d, o, h in picked]
    expected = [expected_media_text(d, o, h) for d, o, h in picked]
    sizes = {"images": n, "media": n, "pixel_bytes": sum(im.nbytes for im in images),
             "heavy_share": n_heavy / n}
    return images, expected, sizes


# ---------------------------------------------------------- extract_commit
def _doc_shape(i: int, spans) -> tuple:
    n_media = sum(s["kind"] == "media" for s in spans)
    return is_heavy(i), n_media, len(spans) - n_media


def commit_docs(seed: int, n_media: int, path: str):
    """Generator documents holding at least ``n_media`` media spans,
    written as the documents table (media stay ``img://`` refs). Their
    make-up is the same for every seed: as many docs of each shape
    (heavy or not, media spans, text spans) as the first docs of the
    generator that hold ``n_media`` media, the generator's every 97th
    heavy. Seeds differ in which docs fill that make-up: the first
    fitting ones from a seeded doc index on.

    → (expected {doc_id: [span keys]}, media [(ref, heavy, text)], sizes)"""
    quota: Counter = Counter()
    i = media_left = 0
    while media_left < n_media:
        shape = _doc_shape(i, spans_for(i))
        quota[shape] += 1
        media_left += shape[1]
        i += 1
    n_docs = sum(quota.values())
    rows, expected, media = [], {}, []
    n_spans, i = 0, random.Random(f"{seed}/commit_docs").randrange(_INDEX_SPACE)
    while len(rows) < n_docs:
        spans = spans_for(i)
        shape = _doc_shape(i, spans)
        i += 1
        if quota[shape] == 0:
            continue
        quota[shape] -= 1
        doc_id, heavy = doc_id_for(i - 1), shape[0]
        rows.append({"doc_id": doc_id, "spans": spans})
        exp = []
        for s in spans:
            if s["kind"] == "media":
                s = dict(s, text=expected_media_text(doc_id, s["offset"], heavy))
                media.append((s["media_ref"], heavy, s["text"]))
            exp.append(span_key(s))
        expected[doc_id] = exp
        n_spans += len(spans)
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCS_SCHEMA), path)
    sizes = {"docs": len(rows), "spans": n_spans, "media": len(media),
             "heavy_share": sum(h for _, h, _ in media) / max(1, len(media))}
    return expected, media, sizes


def media_pixel_bytes(media) -> int:
    """Pixels the resolver renders for [(img:// ref, heavy, text)]."""
    total = 0
    for ref, heavy, _ in media:
        doc_id, off = ref[len("img://"):].rsplit("/", 1)
        total += render_media(doc_id, int(off), heavy=heavy).nbytes
    return total


# ---------------------------------------------------- extract_bytes_skewed
def skewed_span_rows(seed: int, n_media: int, path: str, sample_size: int,
                     heavy_every: int = 8):
    """Span rows of a seeded doc window holding at least ``n_media`` media
    rows, each carrying inline ``encode_image`` bytes. Exactly one item
    in ``heavy_every`` is rendered heavy (~585 KB against ~130 KB), all
    of them in seeded docs that fill up with heavy items in turn, so the
    heavy items sit in a minority of docs. ``sample_size`` media rows are
    kept, seeded, for the one-process pass.

    → (expected {doc_id: [span keys]}, sample [(ref, bytes, text)], sizes)"""
    rng = random.Random(f"{seed}/skewed_docs")
    start = rng.randrange(_INDEX_SPACE)
    docs, media = [], 0
    while media < n_media:
        i = start + len(docs)
        docs.append((i, spans_for(i)))
        media += sum(s["kind"] == "media" for s in docs[-1][1])
    # heavy media per doc: whole docs in seeded order, the last one partly
    heavy_left, heavy_of = media // heavy_every, {}
    for pos in rng.sample(range(len(docs)), len(docs)):
        if heavy_left == 0:
            break
        n = min(heavy_left, sum(s["kind"] == "media" for s in docs[pos][1]))
        heavy_of[pos], heavy_left = n, heavy_left - n

    expected, sample = {}, []
    n_spans = n_seen = n_heavy = pixel_bytes = 0
    with pq.ParquetWriter(path, SPAN_ROWS_SCHEMA) as writer:
        batch = []
        for pos, (i, spans) in enumerate(docs):
            doc_id, exp, k = doc_id_for(i), [], 0
            for s in spans:
                blob = None
                if s["kind"] == "media":
                    heavy = k < heavy_of.get(pos, 0)
                    k += 1
                    img = render_media(doc_id, s["offset"], heavy=heavy)
                    blob = encode_image(img)
                    pixel_bytes += img.nbytes
                    text = expected_media_text(doc_id, s["offset"], heavy)
                    # reservoir: a seeded sample of exactly sample_size items
                    if n_seen < sample_size:
                        sample.append((s["media_ref"], blob, text))
                    elif (j := rng.randrange(n_seen + 1)) < sample_size:
                        sample[j] = (s["media_ref"], blob, text)
                    n_seen += 1
                    n_heavy += heavy
                batch.append(dict(s, doc_id=doc_id, media_bytes=blob))
                if blob is not None:
                    s = dict(s, text=text)
                exp.append(span_key(s))
                n_spans += 1
            expected[doc_id] = exp
            if len(batch) >= 256:
                writer.write_table(pa.Table.from_pylist(batch, schema=SPAN_ROWS_SCHEMA))
                batch = []
        if batch:
            writer.write_table(pa.Table.from_pylist(batch, schema=SPAN_ROWS_SCHEMA))
    sizes = {"docs": len(docs), "spans": n_spans, "media": n_seen,
             "pixel_bytes": pixel_bytes, "heavy_share": n_heavy / n_seen,
             "heavy_docs": len(heavy_of), "input_file_bytes": os.path.getsize(path)}
    return expected, sample, sizes


# ----------------------------------------------------------------- battery
# The battery's ten tables follow the schema the query battery reads
# (a TPC-H-like star, an event stream, documents and embeddings). The
# program has no generator for them, so they are drawn here, seeded, at
# about the size of the battery's 0.01 scale factor.
BATTERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")
_WORDS = ("a the row key agg scan slow fast table value part hash merge batch "
          "spark line sort window join small big column data filter order "
          "query group customer stream vector").split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = "blue hot small old red new big green".split()
_PART_NOUN = "bolt gear anvil widget ring rod nut spring".split()
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en",) * 9 + ("zh", "es", "de", "fr") * 3


def battery_tables(seed: int, out_dir: str, n_docs: int = 500, n_orders: int = 15000,
                   n_lineitem: int = 60000, n_events: int = 10000, dim: int = 64):
    """The battery's ten tables, one parquet file each under out_dir.
    Documents are 10 to 99 words of a 30-word vocabulary; one in 20 is an
    earlier document plus a trailing ``dup`` token, so the near-duplicate
    queries find pairs. A copy of a copy is possible. Embeddings are random unit vectors in ``dim``
    dimensions with one of ten labels.

    → sizes"""
    import datetime

    import numpy as np

    rng = np.random.default_rng(seed)
    tables = {}

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = datetime.datetime.fromisoformat(start)
        return [base + datetime.timedelta(days=int(d)) for d in rng.integers(0, n_days, n)]

    tables["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                                 "r_name": list(_REGIONS)})
    tables["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                                 "n_name": [f"NATION_{i}" for i in range(25)],
                                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_supp, n_part = n_orders // 10, 100, 2000
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_orders)],
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_orders), pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[p] for p in rng.integers(0, 5, n_orders)],
    })
    quantity = rng.integers(1, 51, n_lineitem).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lineitem), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 3000, n_lineitem), 2),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_lineitem)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_lineitem)],
        "l_shipdate": pa.array(days("1995-01-02", 2498, n_lineitem), pa.timestamp("us")),
    })
    gaps = rng.exponential(30 * 86400 / n_events, n_events).cumsum()
    t0 = datetime.datetime(2024, 1, 1)
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=int(g * 1e6)) for g in gaps],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": [_EVENT_TYPES[e] for e in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    # the same make-up for every seed: word counts spread evenly over 10..99
    # and exactly one document in 20 a near-duplicate; seeds differ in
    # the words and in which documents these are
    lengths = rng.permutation(10 + np.arange(n_docs) * 90 // n_docs)
    dups = set(rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False).tolist())
    texts = []
    for i in range(n_docs):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, 30, lengths[i])))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[k % len(_LANGS)] for k in rng.permutation(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_docs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name in BATTERY_TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {"docs": n_docs, "tables": {k: t.num_rows for k, t in tables.items()},
            "input_file_bytes": sum(os.path.getsize(os.path.join(out_dir, f"{k}.parquet"))
                                    for k in BATTERY_TABLES)}
