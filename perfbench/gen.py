"""Seeded input generation for the three workloads.

Everything the program under test reads is produced here from the
workload seed, so the same seed gives byte-identical inputs. Generation
runs before the session starts and is excluded from every metric.

- ``iot_dropbox``: the pump's CSV drop-box (the reference job's IoT shape).
- ``corpus_dropbox``: the corpus stream's jsonl drop-box (plain/gzip/zstd).
- ``sf_tables``: documents/embeddings/events/lineitem/orders parquet
  tables in the shape of the engine's sf test data, for ``query_mix``.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- pump input

IOT_HEADER = "DateTime,Sensor_id,PM25,PM10,AQI,LAT,LONG,Remarks"
# the four reference timestamp formats (csv_ingest.DUCKDB_DATE_FORMATS)
IOT_TS_FORMATS = ["%y-%m-%d %H:%M:%S", "%y/%m/%d %H:%M:%S",
                  "%Y-%m-%d %H:%M:%S", "%Y/%m/%d %H:%M:%S"]
IOT_REMARKS = ["", "", "", "", "", "calibrated", "sensor reset",
               "low battery", ""]


def iot_dropbox(out_dir: Path, seed: int, n_files: int, rows: int,
                n_sensors: int = 40, dup_share: float = 0.10,
                update_share: float = 0.15) -> list[Path]:
    """Write ``n_files`` CSV files of ``rows`` rows each; return them in
    processing order (their mtimes are set oldest-first in that order).

    - ``dup_share`` of a file's rows repeat a primary key (DateTime,
      Sensor_id) seen earlier in the same file, with new measures;
    - ``update_share`` reuse a key of an EARLIER file (an upsert update);
    - sensor popularity is Zipf-skewed; every row picks one of the four
      timestamp formats; some rows put a space after each comma; ~5 % of
      AQI values are empty.
    """
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    sensors = [f"S{i:03d}" for i in range(n_sensors)]
    weights = [1.0 / (i + 1) ** 1.1 for i in range(n_sensors)]
    earlier: list[tuple[datetime, str]] = []
    paths = []
    base = datetime(2021, 10, 1)
    for f in range(n_files):
        day = base + timedelta(days=f)
        keys: list[tuple[datetime, str]] = []
        lines = [IOT_HEADER]
        for _ in range(rows):
            r = rng.random()
            if keys and r < dup_share:
                ts, sensor = rng.choice(keys)
            elif earlier and r < dup_share + update_share:
                ts, sensor = rng.choice(earlier)
                keys.append((ts, sensor))
            else:
                ts = day + timedelta(seconds=rng.randrange(86_400))
                sensor = rng.choices(sensors, weights)[0]
                keys.append((ts, sensor))
            si = sensors.index(sensor)
            aqi = "" if rng.random() < 0.05 else str(rng.randrange(5, 300))
            sep = ", " if rng.random() < 0.3 else ","
            lines.append(sep.join([
                ts.strftime(rng.choice(IOT_TS_FORMATS)), sensor,
                f"{rng.uniform(2, 180):.1f}", f"{rng.uniform(5, 250):.1f}",
                aqi, f"14.{600 + si}", f"121.{100 + si}",
                rng.choice(IOT_REMARKS)]))
        earlier.extend(keys)
        p = out_dir / f"zone_airquality_{f:03d}.csv"
        p.write_text("\n".join(lines) + "\n")
        paths.append(p)
    set_mtimes(paths)
    return paths


def set_mtimes(paths: list[Path], start: int = 1_600_000_000) -> None:
    """Oldest-first mtimes in list order (the pipeline drains by mtime)."""
    for i, p in enumerate(paths):
        os.utime(p, (start + 60 * i, start + 60 * i))


# ------------------------------------------------------------ shared text

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _doc_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n_words))


def _near_copy(rng: random.Random, text: str) -> str:
    """One word replaced by "dup": a near duplicate of ``text``."""
    w = text.split()
    w[rng.randrange(len(w))] = "dup"
    return " ".join(w)


# --------------------------------------------------------- corpus stream

def corpus_dropbox(out_dir: Path, seed: int, n_batches: int,
                   docs_per_batch: int, exact_share: float = 0.08,
                   near_share: float = 0.06,
                   short_share: float = 0.05) -> dict:
    """One jsonl file per micro-batch, each written plain, gzip or zstd
    (seeded choice). Documents follow the sf ``documents`` shape; a share
    are exact copies (same text, new id) or near copies (one word
    replaced) of a document from the same or an earlier batch, and a share
    are too short for the quality gate.

    Returns ``{"paths", "batches", "derived", "raw_bytes"}``: the files in
    drain order, each batch's rows, the ids of copied documents and the
    uncompressed jsonl size."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    seen: list[str] = []
    paths, batches, derived = [], [], set()
    doc_id = raw_bytes = 0
    for b in range(n_batches):
        rows = []
        for _ in range(docs_per_batch):
            r = rng.random()
            if seen and r < exact_share:
                text = rng.choice(seen)
                derived.add(doc_id)
            elif seen and r < exact_share + near_share:
                text = _near_copy(rng, rng.choice(seen))
                derived.add(doc_id)
            elif r < exact_share + near_share + short_share:
                text = _doc_text(rng, rng.randrange(2, 6))
            else:
                text = _doc_text(rng, rng.randrange(12, 90))
            seen.append(text)
            rows.append({"doc_id": doc_id, "text": text,
                         "lang": rng.choices(LANGS, LANG_P)[0],
                         "source": f"src{doc_id % 20}"})
            doc_id += 1
        raw = "".join(json.dumps(r) + "\n" for r in rows).encode()
        raw_bytes += len(raw)
        codec = rng.choice(["plain", "gzip", "zstd"])
        name = f"batch_{b:03d}.jsonl"
        if codec == "gzip":
            name, raw = name + ".gz", gzip.compress(raw, mtime=0)
        elif codec == "zstd":
            name, raw = name + ".zst", pa.Codec("zstd").compress(
                raw, asbytes=True)
        (out_dir / name).write_bytes(raw)
        paths.append(out_dir / name)
        batches.append(rows)
    set_mtimes(paths)
    return {"paths": paths, "batches": batches, "derived": derived,
            "raw_bytes": raw_bytes}


# ------------------------------------------------------------- sf tables

def sf_tables(out_dir: Path, seed: int, n_events: int, n_orders: int,
              n_docs: int, n_emb: int) -> Path:
    """Write the five tables ``query_mix`` reads, in the column names,
    types and value shapes of the engine's sf test data (lineitem has four
    lines per order on average)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)

    # events: monotone ts over 30 days, 150 users, 5 types
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    types = np.array(["view", "click", "purchase", "signup", "error"])
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, n_events)),
        "event_type": pa.array(types[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.maximum(
            np.round(rng.exponential(50.0, n_events), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, out_dir / "events.parquet")

    # orders + lineitem (TPC-H-ish)
    d0 = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(86_400 * 10**6, "us")
    odate = d0 + rng.integers(0, 2400, n_orders) * day
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10),
                                           n_orders)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[
            rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000,
                                                      n_orders), 2)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_orders)]),
    })
    pq.write_table(orders, out_dir / "orders.parquet")
    n_li = 4 * n_orders
    okey = rng.integers(0, n_orders, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(1, n_orders // 7), n_li)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[
            rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 120, n_li) * day),
    })
    pq.write_table(lineitem, out_dir / "lineitem.parquet")

    # documents: 30-word vocabulary, ~5 % near-duplicate copies
    texts: list[str] = []
    for i in range(n_docs):
        if texts and prng.random() < 0.05:
            texts.append(_near_copy(prng, prng.choice(texts)))
        else:
            texts.append(_doc_text(prng, prng.randrange(8, 90)))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([prng.choices(LANGS, LANG_P)[0]
                          for _ in range(n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(documents, out_dir / "documents.parquet")

    # embeddings: unit vectors around 10 label centroids, dim 64
    cents = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = cents[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(embeddings, out_dir / "embeddings.parquet")
    return out_dir
