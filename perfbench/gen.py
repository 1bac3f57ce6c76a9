#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Every input the engine sees is made here from a seed; the same seed
gives byte-identical tables (the stream generator's records are
identical too, only their creation stamps follow the wall clock).

  gen.py warehouse --seed N --out DIR --sf SF --etl-copies K
      The warehouse tables (region .. lineitem, events, documents,
      embeddings) with the shapes of the reference testdata, plus
      DIR/etl/events.parquet: K copies of `events` with offset ids,
      shifted timestamps and seed-jittered values (the batch ETL input).
  gen.py corpus --seed N --out DIR
      A 500-document / 500-vector documents/embeddings corpus (about 5%
      near-duplicate documents, 10 labelled embedding clusters), plus the
      other tables at their smallest scale.
  gen.py stream --seed N --in DIR --stage DIR --seconds S --rate R --burst B
      The open-loop stream generator: one thread writing JSON wire
      records (FIXTURES A1, 1,500 devices) into DIR on a fixed 100 ms
      schedule for S seconds, rounded down to whole trigger intervals of
      the pipeline (TRIGGER_S), starting just after a multiple of the
      interval, then dropping one burst file of B records. Before the
      schedule starts it waits for STAGE/warm.done; after it, it publishes
      STAGE/fixed.json and waits for STAGE/burst.go. The harness writes
      both once the pipeline has processed what came before. Each
      record's `time` is its scheduled creation stamp. Statistics go to
      STAGE/gen_stats.json.
  gen.py warmup --seed N --in DIR --rate R
      The stream's warm-up files (5 s worth of records), written before the
      pipeline starts so its first micro-batch warms the engine.

Each subcommand prints one JSON line with the seed and the input sizes.
"""
import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
ADJ = "small red blue cold hot old new large".split()
NOUN = "ring widget bolt gear gizmo rod anvil plate".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64
EVENTS_T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86400 * 1_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _days(rng, n, start, end):
    d0, d1 = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, int((d1 - d0).astype(int)) + 1, n)
    return (d0 + off).astype("datetime64[ms]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, n, n_users):
    gaps = rng.exponential(EVENTS_SPAN_US / n, n)
    ts_us = EVENTS_T0_US + np.cumsum(gaps).astype(np.int64)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": ts_us,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": value,
        "k": rng.integers(0, 100, n),
    }


def events_arrow(ev):
    # nanosecond timestamps, like the reference testdata's events.ts
    return pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": pa.array(ev["ts_us"] * 1000, type=pa.timestamp("ns")),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"]),
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"]]),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    return texts


def embeddings(rng, n):
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, n)
    v = rng.normal(0.0, 1.0, (n, DIM)) + 0.15 * centroids[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def corpus(rng, n_docs=500, n_vecs=500):
    """The documents and embeddings tables."""
    texts = documents(rng, n_docs)
    langs = np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]
    vecs, labels = embeddings(rng, n_vecs)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    embs = pa.table({
        "vec_id": pa.array(range(n_vecs), type=pa.int64()),
        "embedding": pa.array([list(map(float, e)) for e in vecs], type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })
    return docs, embs


def star_schema(rng, sf, out):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(pa.table({"r_regionkey": pa.array(range(5), type=pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), type=pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04")),
    }), f"{out}/lineitem.parquet")
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_li}


def cmd_warehouse(a):
    rng = np.random.default_rng(a.seed)
    sizes = star_schema(rng, a.sf, a.out)
    n_ev = int(1_000_000 * a.sf)
    ev = events_table(rng, n_ev, max(15, int(15_000 * a.sf)))
    _write(events_arrow(ev), f"{a.out}/events.parquet")
    docs, embs = corpus(rng)
    _write(docs, f"{a.out}/documents.parquet")
    _write(embs, f"{a.out}/embeddings.parquet")
    # the ETL input: K shifted, re-jittered copies of events
    parts = []
    for k in range(a.etl_copies):
        c = dict(ev)
        c["event_id"] = ev["event_id"] + k * n_ev
        c["ts_us"] = ev["ts_us"] + k * EVENTS_SPAN_US
        c["value"] = np.maximum(np.round(ev["value"] * rng.uniform(0.9, 1.1, n_ev), 2), 0.01)
        parts.append(events_arrow(c))
    _write(pa.concat_tables(parts), f"{a.out}/etl/events.parquet")
    sizes.update(events=n_ev, documents=docs.num_rows, embeddings=embs.num_rows,
                 etl_events=n_ev * a.etl_copies)
    return sizes


def cmd_corpus(a):
    rng = np.random.default_rng(a.seed)
    star_schema(rng, 0.001, a.out)  # the non-corpus tables at their smallest scale
    ev = events_table(rng, 1000, 15)
    _write(events_arrow(ev), f"{a.out}/events.parquet")
    docs, embs = corpus(rng)
    _write(docs, f"{a.out}/documents.parquet")
    _write(embs, f"{a.out}/embeddings.parquet")
    return {"documents": docs.num_rows, "embeddings": embs.num_rows}


DEVICE_TYPES = [  # (type, prefix, unit, base, variation, anomaly rate) — FIXTURES A6
    ("temperature", "TEMP", "°C", 22.0, 3.0, 0.02),
    ("humidity", "HUM", "%", 50.0, 10.0, 0.03),
    ("motion", "MOT", "boolean", 0.0, 1.0, 0.0),
    ("energy", "ENR", "kWh", 100.0, 20.0, 0.01),
]
N_DEVICES = 1500
TICK_S = 0.1
WARMUP_S = 5.0
TRIGGER_S = 5.0  # StreamPipeline's reference processing-time trigger


def _iso(ms):
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000)) + f".{ms % 1000:03d}Z"


def wire_records(rng, device_idx, stamp_ms, seq0):
    """JSON wire records for the given devices, all stamped `stamp_ms`.
    About 1% are invalid (out-of-range quality or a null value), the
    rest valid; returns (lines, n_valid)."""
    lines, n_valid = [], 0
    t = _iso(stamp_ms)
    for j, d in enumerate(device_idx):
        dtype, prefix, unit, base, var, arate = DEVICE_TYPES[d % 4]
        anomalous = rng.random() < arate
        if dtype == "motion":
            value = float(rng.random() < 0.3)
        else:
            value = base + rng.normal(0.0, var)
            if anomalous:
                value += rng.choice([-1, 1]) * rng.uniform(3, 5) * var
            if dtype == "humidity":
                value = min(max(value, 0.0), 100.0)
            elif dtype == "energy":
                value = max(value, 0.0)
            value = round(value, 4)
        quality = int(rng.integers(70, 90) if anomalous else rng.integers(90, 101))
        bad = rng.random()
        if bad < 0.005:
            quality = 150
        elif bad < 0.01:
            value = None
        else:
            n_valid += 1
        lines.append(json.dumps({
            "time": t, "device_id": f"{prefix}-{d:04d}", "device_type": dtype,
            "value": value, "unit": unit, "quality_score": quality,
            "is_anomaly": bool(anomalous),
            "metadata": json.dumps({"seq": seq0 + j, "fw": f"1.{d % 7}"}),
        }, ensure_ascii=False))
    return lines, n_valid


def _drop(path, lines):
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, path)  # atomic: the file source never sees a partial file


def _publish(stage, name, obj):
    tmp = os.path.join(stage, "." + name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.rename(tmp, os.path.join(stage, name))


def warmup_files(a):
    """The warm-up: WARMUP_S seconds of records, split into files the way
    the schedule splits them, so the first micro-batch warms the same
    file-listing and parsing paths the measured ones use."""
    per_tick = int(round(a.rate * TICK_S))
    n = int(round(WARMUP_S / TICK_S))
    now = int(time.time() * 1000)
    return [wire_records(np.random.default_rng([a.seed, 0, j]),
                         (np.arange(per_tick) + j * per_tick) % N_DEVICES, now, 0) for j in range(n)]


def cmd_warmup(a):
    os.makedirs(a.indir, exist_ok=True)
    files = warmup_files(a)
    for j, (lines, _) in enumerate(files):
        _drop(os.path.join(a.indir, f"warm-{j:06d}.json"), lines)
    return {"warmup_events": sum(len(f[0]) for f in files), "warmup_valid": sum(f[1] for f in files)}


def cmd_stream(a):
    per_tick = int(round(a.rate * TICK_S))
    # whole trigger intervals, so every run splits the fixed phase into
    # the same micro-batches
    fixed_s = max(1, int(a.seconds // TRIGGER_S)) * TRIGGER_S
    n_ticks = int(round(fixed_s / TICK_S))
    # the warm-up files (gen.py warmup) are already in place; count them
    warm_files = warmup_files(a)
    n_warm = n_events = sum(len(f[0]) for f in warm_files)
    n_valid, files = sum(f[1] for f in warm_files), len(warm_files)
    # the burst is made now, while the warm-up runs, so dropping it later
    # is one rename
    burst_ms = int(time.time() * 1000)
    burst, burst_valid = wire_records(np.random.default_rng([a.seed, n_ticks + 1]),
                                      np.arange(a.burst) % N_DEVICES, burst_ms, 0)
    warm = os.path.join(a.stage, "warm.done")
    deadline = time.time() + 90
    while not os.path.exists(warm) and time.time() < deadline:
        time.sleep(0.02)
    # start just after a trigger boundary: Spark fires processing-time
    # triggers at multiples of the interval since the epoch, so every run
    # splits the fixed phase into the same micro-batches
    lateness_ms = []
    # (two seconds out at least, so a no-data batch that follows the
    # warm-up has finished)
    t0 = (int(time.time() / TRIGGER_S) + 1) * TRIGGER_S + 0.02
    if t0 - time.time() < 2.0:
        t0 += TRIGGER_S
    for j in range(n_ticks):
        dev = (np.arange(per_tick) + j * per_tick) % N_DEVICES
        due = t0 + j * TICK_S
        now = time.time()
        if due > now:
            time.sleep(due - now)
        lateness_ms.append(max(0.0, (time.time() - due) * 1000.0))
        lines, v = wire_records(np.random.default_rng([a.seed, j + 1]), dev, int(due * 1000), n_events)
        _drop(os.path.join(a.indir, f"tick-{j:06d}.json"), lines)
        n_events += len(lines)
        n_valid += v
        files += 1
    fixed_end_ms = int((t0 + n_ticks * TICK_S) * 1000)
    # the burst waits until the pipeline has committed the fixed phase, so
    # no fixed-phase event shares the burst's micro-batch
    _publish(a.stage, "fixed.json", {"events": n_events})
    go = os.path.join(a.stage, "burst.go")
    deadline = time.time() + 90
    while not os.path.exists(go) and time.time() < deadline:
        time.sleep(0.02)
    _drop(os.path.join(a.indir, "burst-000000.json"), burst)
    stats = {
        "seed": a.seed, "rate_per_s": a.rate, "fixed_seconds": fixed_s,
        "warmup_events": n_warm, "fixed_events": n_events - n_warm, "burst_events": len(burst),
        "events": n_events + len(burst), "valid": n_valid + burst_valid, "files": files + 1,
        "fixed_start_ms": int(t0 * 1000), "fixed_end_ms": fixed_end_ms,
        "late_ms_p99": float(np.percentile(lateness_ms, 99)) if lateness_ms else 0.0,
    }
    _publish(a.stage, "gen_stats.json", stats)
    return stats


def main(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = p.add_subparsers(dest="cmd", required=True)
    w = sub.add_parser("warehouse")
    w.add_argument("--seed", type=int, required=True)
    w.add_argument("--out", required=True)
    w.add_argument("--sf", type=float, required=True)
    w.add_argument("--etl-copies", type=int, required=True)
    c = sub.add_parser("corpus")
    c.add_argument("--seed", type=int, required=True)
    c.add_argument("--out", required=True)
    wu = sub.add_parser("warmup")
    wu.add_argument("--seed", type=int, required=True)
    wu.add_argument("--in", dest="indir", required=True)
    wu.add_argument("--rate", type=float, required=True)
    s = sub.add_parser("stream")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--in", dest="indir", required=True)
    s.add_argument("--stage", required=True)
    s.add_argument("--seconds", type=float, required=True)
    s.add_argument("--rate", type=float, required=True)
    s.add_argument("--burst", type=int, required=True)
    a = p.parse_args(argv)
    sizes = {"warehouse": cmd_warehouse, "corpus": cmd_corpus, "warmup": cmd_warmup,
             "stream": cmd_stream}[a.cmd](a)
    print(json.dumps({"seed": a.seed, "input": a.cmd, "sizes": sizes}))


if __name__ == "__main__":
    main(sys.argv[1:])
