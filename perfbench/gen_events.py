"""Seeded `events` table and the expected results of the catalog phase.

The catalog phase runs a few `graft.queries.Catalog` queries over an
events table (the TESTDATA.md schema: event_id, ts, user_id, event_type,
value, props). Three of them drain `graft.streaming.EventStream`. This
module writes the table as JSON lines, with `ts` as integer microseconds;
the harness turns it into the parquet file `graft.Tables` reads. It also
computes every query's result rows closed-form from the same rows, so the
harness can compare them order-insensitively.

  - `ts` strictly increases with event_id, so "latest per user" has no ties;
  - users and event types are Zipf-distributed;
  - values have two decimals, and `cents(v)` is floor(v * 100 + 0.5) as in
    `CatalogShared.cents`.

Usage: gen_events.py --seed N --events N --out DIR
writes DIR/events.jsonl and DIR/catalog_expected.json.
"""

import argparse
import datetime
import json
import math
import os
import random
from collections import defaultdict

from gen_capture import Zipf

# The catalog queries of the phase. The window aggregation scans the whole
# table; the three drains stream the fixed slice event_id < SLICE.
QUERIES = ["stream_window_agg", "stream_running_counts", "stream_dedup_drain",
           "stream_upsert_sink"]
SLICE = 1500
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
T0_US = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) * 10**6
USERS = 400


def cents(v):
    return math.floor(v * 100 + 0.5)


def utc(us):
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)


def make_events(seed, n):
    rng = random.Random(seed * 104729 + 3)
    users, types = Zipf(USERS), Zipf(len(EVENT_TYPES), 0.7)
    user_of_rank = list(range(1, USERS + 1))
    rng.shuffle(user_of_rank)
    ts, rows = T0_US, []
    for i in range(n):
        ts += rng.randint(1_000_000, 300_000_000) + rng.randint(0, 999_999)
        rows.append((i, ts, user_of_rank[users.draw(rng)], EVENT_TYPES[types.draw(rng)],
                     rng.randint(1, 20_000) / 100, '{"k": %d}' % rng.randint(0, 99)))
    return rows


def expected(rows):
    """Each query's result rows, tab-joined as the harness renders them."""
    def line(*vs):
        return "\t".join(str(v) for v in vs)

    windows = defaultdict(lambda: [0, 0])
    for _, ts, _, etype, value, _ in rows:
        w = windows[(utc(ts).strftime("%Y-%m-%d %H:00"), etype)]
        w[0] += 1
        w[1] += cents(value)
    sl = [r for r in rows if r[0] < SLICE]
    counts, latest = defaultdict(int), {}
    for r in sl:
        counts[r[2]] += 1
        latest[r[2]] = r  # ts increases with event_id
    return {
        "stream_window_agg": [line(k[0], k[1], c, s) for k, (c, s) in windows.items()],
        "stream_running_counts": [line(u, c) for u, c in counts.items()],
        "stream_dedup_drain": [line(r[0], r[2], r[3], cents(r[4])) for r in sl],
        "stream_upsert_sink": [line(u, r[0], r[3], cents(r[4])) for u, r in latest.items()],
    }


def generate(seed, n, out):
    """Writes the table and the expected rows; returns the seeded query order."""
    os.makedirs(out, exist_ok=True)
    rows = make_events(seed, n)
    with open(os.path.join(out, "events.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(dict(zip(("event_id", "ts_us", "user_id", "event_type",
                                         "value", "props"), r))) + "\n")
    with open(os.path.join(out, "catalog_expected.json"), "w") as f:
        json.dump({q: sorted(v) for q, v in expected(rows).items()}, f)
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    return order


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--events", type=int, default=20_000)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    print(json.dumps(generate(a.seed, a.events, a.out)))


if __name__ == "__main__":
    main()
