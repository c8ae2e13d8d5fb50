"""Seeded input generator for the backup_spine workload.

An events-shaped table: event_id, ts, user_id, event_type (the partition
column), value, props (a JSON string). The row count, the 30-day span and
the Zipf shape of event_type are fixed; the seed only changes the values.
The same seed writes byte-identical parquet.
"""
import json
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = 100_000
SPAN_START_US = 1_709_251_200_000_000  # 2024-03-01 00:00:00 UTC
SPAN_DAYS = 30
DAY_US = 86_400_000_000
# Zipf(s=1) over 8 values: the hottest holds 1/H_8 = 36.8% of the rows.
EVENT_TYPES = ["view", "click", "scroll", "search", "cart", "purchase",
               "share", "logout"]
ZIPF = np.array([1.0 / k for k in range(1, len(EVENT_TYPES) + 1)])
ZIPF /= ZIPF.sum()
DEVICES = ["ios", "android", "web", "tv"]
TAGS = ["new", "returning", "promo", "beta", "mobile", "desktop"]


def generate(seed, rows=ROWS):
    """Columns as numpy arrays (props as a Python list of str)."""
    rng = np.random.default_rng(seed)
    ts = SPAN_START_US + rng.integers(0, SPAN_DAYS * DAY_US, rows)
    kind = rng.choice(len(EVENT_TYPES), size=rows, p=ZIPF)
    user = rng.integers(1, 50_001, rows)
    cents = rng.integers(0, 100_000, rows)
    dev = rng.integers(0, len(DEVICES), rows)
    sess = rng.integers(0, 1_000_000, rows)
    ntag = rng.integers(0, 4, rows)
    tag0 = rng.integers(0, len(TAGS), rows)
    props = [
        json.dumps({"device": DEVICES[d], "session": int(s),
                    "tags": [TAGS[(t + i) % len(TAGS)] for i in range(n)]},
                   separators=(",", ":"))
        for d, s, n, t in zip(dev.tolist(), sess.tolist(), ntag.tolist(),
                              tag0.tolist())
    ]
    return {
        "event_id": np.arange(1, rows + 1, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": user.astype(np.int64),
        "event_type": kind.astype(np.int64),
        "cents": cents.astype(np.int64),
        "props": props,
    }


def write_parquet(cols, path):
    table = pa.table({
        "event_id": pa.array(cols["event_id"]),
        "ts": pa.array(cols["ts"], type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(cols["user_id"]),
        "event_type": pa.array([EVENT_TYPES[k] for k in cols["event_type"]]),
        "value": pa.array(cols["cents"] / 100.0),
        "props": pa.array(cols["props"]),
    })
    pq.write_table(table, path, compression="snappy", row_group_size=131072)


if __name__ == "__main__":
    write_parquet(generate(int(sys.argv[1])), sys.argv[2])
