#!/usr/bin/env python3
"""Load generator for the ``live`` workload, run as its own process.

    python3 perfbench/livegen.py --seed N --turns TURNS.parquet --dest DIR \
        --period 0.5 --files 60 --rows 50 --start EPOCH_S --log LOG.jsonl

Reads the seeded turns (``datagen.generate_turns(seed=N)``, written by
the workload before this process starts) and releases them into DIR as
an open loop: file k is due at START + k * PERIOD, whatever the consumer
is doing. Each file is written under a hidden temporary name and renamed
into place, so the file source never lists a partial file.

Arrival order is event-time order, except that a turn whose timestamp
lies behind its conversation's previous turn (the datagen late-row
fixture) arrives right after that on-time neighbour: it is late on
arrival, so the consumer's watermark handling sees it as late.

One JSON line per file goes to LOG: its name, rows, the (conv_id,
turn_idx) keys it holds, its due time and its actual release time
(wall-clock seconds). The last line reports how late the generator ran.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def spark_readable(t: pa.Table) -> pa.Table:
    """Timestamps as UTC microseconds, the parquet type Spark's
    TimestampType reads."""
    i = t.schema.get_field_index("ts")
    return t.set_column(i, "ts", pc.cast(t["ts"], pa.timestamp("us", tz="UTC")))


def arrival_order(t: pa.Table) -> pa.Table:
    """Sort by arrival time: each turn arrives at the latest timestamp
    seen so far in its conversation (its own, or an earlier turn's when
    it is a late row)."""
    df = t.to_pandas().sort_values(["conv_id", "turn_idx"], kind="mergesort")
    df["_arrive"] = df.groupby("conv_id")["ts"].cummax()
    df = df.sort_values(["_arrive", "conv_id", "turn_idx"], kind="mergesort")
    return pa.Table.from_pandas(df.drop(columns="_arrive"), schema=t.schema,
                                preserve_index=False)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--turns", required=True)
    ap.add_argument("--dest", required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()

    turns = spark_readable(arrival_order(pq.read_table(a.turns)))
    if turns.num_rows < a.files * a.rows:
        print(f"need {a.files * a.rows} turns, have {turns.num_rows}", file=sys.stderr)
        return 2
    late = []
    with open(a.log, "w") as log:
        for k in range(a.files):
            chunk = turns.slice(k * a.rows, a.rows)
            name = f"part-s{a.seed}-{k:05d}.parquet"
            due = a.start + k * a.period
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            tmp = os.path.join(a.dest, f".{name}.tmp")
            pq.write_table(chunk, tmp)
            os.rename(tmp, os.path.join(a.dest, name))
            released = time.time()
            late.append(released - due)
            keys = [[c, i] for c, i in zip(chunk["conv_id"].to_pylist(),
                                           pc.cast(chunk["turn_idx"], pa.int64()).to_pylist())]
            log.write(json.dumps({"file": name, "rows": chunk.num_rows, "due": due,
                                  "released": released, "keys": keys}) + "\n")
            log.flush()
        late.sort()
        log.write(json.dumps({"done": True, "late_max_s": late[-1],
                              "late_p90_s": late[int(0.9 * (len(late) - 1))]}) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
