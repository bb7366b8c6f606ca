"""Seeded inputs for the ingest workload, with the counts they must land.

    python3 perfbench/gen_ingest.py SEED OUT_DIR

writes the inputs under OUT_DIR and prints the spec that perfbench.Main
reads: paths, and the expected landed and rejected counts, computed here
while generating. It needs nothing beyond Python's standard library: the
trip months, documents and events are written as one JSON-lines file per
schema, and the harness turns each into the parquet files the spec's
`raw` list names, before it times anything.

The trip months carry the messiness `ingest_data.py` has to handle:
green months spell columns `lpep_*` and ship timestamps as strings, a
share of which cannot be parsed; yellow months spell them `tpep_*` and
ship typed timestamps. Both have null pickups, null `passenger_count`,
and rows dated outside the month. Each month's stray rows fall in a
month of 2008 that no other file touches, so re-loading a month replaces
exactly what it wrote and the landed count is unchanged. The stream
inputs are documents and events split into many small files.
"""
import csv
import json
import os
import random
import shutil
import sys
from datetime import datetime, timedelta

MONTHS = ["2024-01", "2024-02"]
TRIPS_PER_MONTH = 10000
ZONES = 265
STREAM_FILES = 16
FILES_PER_TRIGGER = 8
CORPUS_DOCS = 600
INCOMING_DOCS = 240
EVENTS = 8000
BAD_TIMESTAMPS = ["N/A", "not-a-date", "", "2024/13/45 25:61"]
DAY_S = 86400


def _write(raw, rows, path, schema):
    """Queue `rows` to become the parquet file `path` with `schema`."""
    raw.setdefault(schema, []).append((path, rows))


def _flush(raw, out):
    """Write one JSON-lines file per schema, each row tagged with the index
    of its parquet file in `_file`; return the spec's `raw` list."""
    spec = []
    for schema, files in raw.items():
        src = os.path.join(out, f"{schema}.jsonl")
        with open(src, "w") as f:
            for k, (_, rows) in enumerate(files):
                for row in rows:
                    f.write(json.dumps({**row, "_file": k}, separators=(",", ":")))
                    f.write("\n")
        spec.append({"json": src, "schema": schema, "parquet": [p for p, _ in files]})
    return spec


def _zones(rng, path):
    boroughs = ["Manhattan", "Queens", "Brooklyn", "Bronx", "Staten Island", "EWR"]
    junk = 5
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["LocationID", "Borough", "Zone", "service_zone"])
        for i in range(1, ZONES + 1):
            w.writerow([i, rng.choice(boroughs), f"Zone {i}, part {rng.randrange(1, 9)}",
                        "Boro Zone"])
        for _ in range(junk):  # rows without a usable id are dropped
            w.writerow([rng.choice(["N/A", ""]), "Unknown", "NV", "N/A"])
    return ZONES


def _month(rng, raw, m_idx, month, green, path):
    start = datetime.fromisoformat(f"{month}-01")
    # rows dated outside the month: a 2008 month of this file's own
    stray_start = datetime(2008, m_idx + 1, 1)
    days = 28
    rows, rejected, null_pax = [], 0, 0
    for _ in range(TRIPS_PER_MONTH):
        stray = rng.random() < 0.01
        pickup = (stray_start if stray else start) + timedelta(seconds=rng.randrange(days * DAY_S))
        dropoff = pickup + timedelta(seconds=rng.randrange(60, 3600))
        no_pickup = rng.random() < 0.02
        no_pax = rng.random() < 0.05
        fare = round(rng.gammavariate(2.0, 7.0), 2)
        tip = round(fare * rng.random() * 0.3, 2)
        row = {
            "VendorID": rng.randrange(1, 3),
            "PULocationID": rng.randrange(1, ZONES + 1),
            "DOLocationID": rng.randrange(1, ZONES + 1),
            "passenger_count": None if no_pax else float(rng.randrange(1, 7)),
            "trip_distance": round(rng.gammavariate(1.5, 2.0), 2),
            "RatecodeID": float(rng.randrange(1, 6)),
            "store_and_fwd_flag": "Y" if rng.random() < 0.03 else "N",
            "payment_type": rng.randrange(1, 5),
            "fare_amount": fare,
            "extra": rng.choice([0.0, 0.5, 1.0]),
            "mta_tax": 0.5,
            "tip_amount": tip,
            "tolls_amount": 0.0,
            "improvement_surcharge": 0.3,
            "total_amount": round(fare + tip + 0.8, 2),
            "congestion_surcharge": rng.choice([0.0, 2.5]),
        }
        unparseable = False
        if green:
            # string timestamps, a share of which cannot be parsed
            text = pickup.strftime("%Y-%m-%d %H:%M:%S")
            unparseable = rng.random() < 0.03 and not no_pickup
            if unparseable:
                text = rng.choice(BAD_TIMESTAMPS)
            row["lpep_pickup_datetime"] = None if no_pickup else text
            row["lpep_dropoff_datetime"] = dropoff.strftime("%Y-%m-%d %H:%M:%S")
            row["trip_type"] = float(rng.randrange(1, 3))
        else:
            row["tpep_pickup_datetime"] = None if no_pickup else pickup.isoformat()
            row["tpep_dropoff_datetime"] = dropoff.isoformat()
            row["Airport_fee"] = rng.choice([0.0, 1.75])
        rows.append(row)
        rejected += no_pickup or unparseable
        null_pax += no_pax
    _write(raw, rows, path, "green" if green else "yellow")
    n = TRIPS_PER_MONTH
    return {"month": month, "path": path, "rows_in": n, "rows_rejected": rejected,
            "null_passengers": null_pax, "landed": n - rejected}


def _docs(rng, raw, out):
    vocab = [f"w{i}" for i in range(2000)]

    def text():
        return " ".join(rng.choice(vocab) for _ in range(rng.randrange(25, 60)))

    corpus = [text() for _ in range(CORPUS_DOCS)]
    incoming = []
    for _ in range(INCOMING_DOCS):
        if rng.random() < 0.35:  # a near-duplicate of a corpus document
            words = rng.choice(corpus).split(" ")
            for j in rng.sample(range(len(words)), max(1, len(words) // 12)):
                words[j] = rng.choice(vocab)
            incoming.append(" ".join(words))
        else:
            incoming.append(text())
    corpus_path = os.path.join(out, "docs_corpus.parquet")
    _write(raw, [{"doc_id": i, "text": t} for i, t in enumerate(corpus)], corpus_path, "docs")
    inc_dir = os.path.join(out, "docs_incoming")
    os.makedirs(inc_dir)
    for k in range(STREAM_FILES):
        part = range(k * INCOMING_DOCS // STREAM_FILES, (k + 1) * INCOMING_DOCS // STREAM_FILES)
        _write(raw, [{"doc_id": 100000 + i, "text": incoming[i]} for i in part],
               os.path.join(inc_dir, f"part-{k:03d}.parquet"), "docs")
    return corpus_path, inc_dir


def _events(rng, raw, out):
    n = EVENTS
    start = datetime(2024, 3, 1)
    ts = sorted(rng.randrange(3 * DAY_S) for _ in range(n))
    events = [{
        "event_id": i + 1,
        "ts": (start + timedelta(seconds=s)).isoformat() + "Z",
        "user_id": rng.randrange(1, 500),
        "event_type": rng.choice(["view", "click", "purchase", "search"]),
        "value": round(rng.gammavariate(2.0, 10.0), 2),
        "props": rng.choice(['{"src":"web"}', '{"src":"app"}', None]),
    } for i, s in enumerate(ts)]
    # exact duplicate deliveries, next to their original so that they
    # arrive in the same file and never fall behind the watermark
    order = sorted(list(range(n)) + rng.sample(range(n), n // 20))
    ev_dir = os.path.join(out, "events")
    os.makedirs(ev_dir)
    bounds = [k * len(order) // STREAM_FILES for k in range(STREAM_FILES + 1)]
    # a file boundary never splits an event from its duplicate
    bounds = [b + 1 if 0 < b < len(order) and order[b] == order[b - 1] else b for b in bounds]
    for k in range(STREAM_FILES):
        _write(raw, [events[i] for i in order[bounds[k]:bounds[k + 1]]],
               os.path.join(ev_dir, f"part-{k:03d}.parquet"), "events")
    return ev_dir, len(order), n


def generate(seed, out):
    """Write every input under `out`; return the spec with expected counts."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = random.Random(seed)
    raw = {}
    zones_csv = os.path.join(out, "zones.csv")
    zones = _zones(rng, zones_csv)
    months = [_month(rng, raw, i, m, i % 2 == 0, os.path.join(out, f"trips_{m}.parquet"))
              for i, m in enumerate(MONTHS)]
    corpus, incoming = _docs(rng, raw, out)
    events_dir, events_rows, events_distinct = _events(rng, raw, out)
    return {
        "seed": seed,
        "raw": _flush(raw, out),
        "zones_csv": zones_csv,
        "zones_landed": zones,
        "months": months,
        "reload_month": rng.randrange(len(MONTHS)),
        "landed_total": sum(m["landed"] for m in months),
        "docs_corpus": corpus,
        "docs_incoming_dir": incoming,
        "events_dir": events_dir,
        "events_rows": events_rows,
        "events_distinct": events_distinct,
        "stream_files": STREAM_FILES,
        "max_files_per_trigger": FILES_PER_TRIGGER,
    }


if __name__ == "__main__":
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2]), indent=1))
