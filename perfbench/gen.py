"""Seeded input generator for the broker workload.

Every draw comes from one `numpy.random.Generator` seeded from the
workload seed, so the same seed always writes byte-identical parquet.

The events table has the shape of the library's sf0.1 testdata (see
FIXTURES.md for the schema). Larger inputs are REPLICAS of a base,
decorrelated the way `tools/gen_sf1.py` does it, with the replica draws
taken from the seed: replica k offsets event ids and user ids into their
own range and applies a seeded permutation of the replica's user ids,
which moves keys between xxh3 partitions (partition skew changes with the
seed).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_USERS = 1_500

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def events(seed, replicas, n=N_EVENTS):
    """`replicas` x `n` events with sorted timestamps over 30 days."""
    r = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span, n)) + t0
    user = r.integers(0, N_USERS, n)
    etype = EVENT_TYPES[r.integers(0, len(EVENT_TYPES), n)]
    value = np.round(r.exponential(50.0, n), 2)
    props = np.char.add(np.char.add('{"k": ', r.integers(0, 100, n)
                                    .astype(str)), "}")
    parts = []
    for k in range(replicas):
        perm = r.permutation(N_USERS)
        parts.append(pa.table({
            "event_id": pa.array(np.arange(n) + k * n),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(perm[user] + k * N_USERS),
            "event_type": pa.array(etype),
            "value": pa.array(value),
            "props": pa.array(props),
        }))
    return pa.concat_tables(parts)


def write(table, path):
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
