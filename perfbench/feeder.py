#!/usr/bin/env python3
"""Open-loop load generator for the stream_ingest workload.

A single-threaded process apart from the engine's JVM. It cuts a
generated mention set (gen.py's embeddings shape) into parquet chunks of
mention events, `key, id, order, vec, due_off_ms, chunk`, and publishes
them into a watched directory on a fixed schedule:

- a reference phase at `--rate` rows/s, one chunk every `--interval-ms`,
  after a `--lead-in-ms` stretch at the same rate whose rows are processed
  and checked but not timed (the first batches under load run slower);
- then `--bursts` chunks of `--burst` rows each, `--gap-ms` apart (the
  first `--gap-ms` after the phase), whose drain times give the
  saturated throughput.

Every chunk is written in full to a staging directory before the
schedule starts and published by an atomic rename at its due time, so a
chunk is never seen half-written and no write cost lands on the clock.
Rows are stamped with their due time (`due_off_ms` after the schedule
origin `t0_ms`); latency is measured from the due time, not from when
the file appeared. Two plain-text files carry the schedule to the
engine side:

- schedule.txt: `t0_ms`, then one `chunk first_id rows due_off_ms phase`
  line per chunk, written before the first chunk is due;
- published.txt: one `chunk publish_ms gen_lag_ms` line per chunk,
  written when the schedule is done; gen_lag_ms is the generator's own
  lateness.

The schedule's numbers all come from the command line; run.py's
`STREAM` holds them.

Usage:
  python3 feeder.py warm <set_dir> <out_dir>
  python3 feeder.py run <set_dir> <stream_dir> --rate R --seconds S
                    --lead-in-ms L --interval-ms I --burst B --bursts K --gap-ms G
"""
import argparse
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

WARM_CHUNKS = 5      # warm-up chunks of 100 rows, one micro-batch each
START_DELAY_MS = 300  # first chunk due this long after schedule.txt is written


def chunk_table(emb: pa.Table, first: int, n: int, due_off_ms: int, chunk: int) -> pa.Table:
    ids = emb.column("vec_id").slice(first, n)
    return pa.table({
        "key": pa.array([0] * n, pa.int64()),
        "id": ids,
        "order": ids,
        "vec": emb.column("embedding").slice(first, n),
        "due_off_ms": pa.array([due_off_ms] * n, pa.int64()),
        "chunk": pa.array([chunk] * n, pa.int32()),
    })


def write_lines(path: str, lines) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("".join(line + "\n" for line in lines))
    os.replace(tmp, path)


def warm(set_dir: str, out_dir: str) -> None:
    """Chunks for the engine's untimed warm-up query, one batch each."""
    emb = pq.read_table(os.path.join(set_dir, "embeddings.parquet"))
    os.makedirs(out_dir, exist_ok=True)
    per = 100
    for c in range(WARM_CHUNKS):
        pq.write_table(chunk_table(emb, c * per, per, 0, c),
                       os.path.join(out_dir, f"chunk-{c:05d}.parquet"))


def run(a) -> None:
    emb = pq.read_table(os.path.join(a.set_dir, "embeddings.parquet"))
    per = a.rate * a.interval_ms // 1000
    n_lead = a.lead_in_ms // a.interval_ms
    n_ref = n_lead + a.seconds * 1000 // a.interval_ms
    plan = [(i * per, per, i * a.interval_ms, "lead" if i < n_lead else "ref")
            for i in range(n_ref)]
    plan += [(n_ref * per + b * a.burst, a.burst, n_ref * a.interval_ms + (b + 1) * a.gap_ms, "burst")
             for b in range(a.bursts)]
    need = plan[-1][0] + plan[-1][1]
    if emb.num_rows < need:
        raise SystemExit(f"feeder: set has {emb.num_rows} rows, schedule needs {need}")

    staging = os.path.join(a.stream_dir, "staging")
    watch = os.path.join(a.stream_dir, "watch")
    os.makedirs(staging, exist_ok=True)
    os.makedirs(watch, exist_ok=True)
    names = []
    for c, (first, n, due, _) in enumerate(plan):
        name = f"chunk-{c:05d}.parquet"
        pq.write_table(chunk_table(emb, first, n, due, c), os.path.join(staging, name))
        names.append(name)

    t0_ms = int(time.time() * 1000) + START_DELAY_MS
    write_lines(os.path.join(a.stream_dir, "schedule.txt"),
                [str(t0_ms)] + [f"{c} {f} {n} {d} {ph}" for c, (f, n, d, ph) in enumerate(plan)])

    published = []
    for c, (_, _, due, _) in enumerate(plan):
        wait = (t0_ms + due) / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staging, names[c]), os.path.join(watch, names[c]))
        published.append(time.time() * 1000.0)

    write_lines(os.path.join(a.stream_dir, "published.txt"),
                [f"{c} {p:.3f} {p - (t0_ms + d):.3f}"
                 for c, (p, (_, _, d, _)) in enumerate(zip(published, plan))])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    w = sub.add_parser("warm")
    w.add_argument("set_dir")
    w.add_argument("out_dir")
    r = sub.add_parser("run")
    r.add_argument("set_dir")
    r.add_argument("stream_dir")
    for arg in ("--rate", "--seconds", "--interval-ms", "--lead-in-ms", "--burst", "--bursts",
                "--gap-ms"):
        r.add_argument(arg, type=int, required=True)
    a = ap.parse_args()
    if a.mode == "warm":
        warm(a.set_dir, a.out_dir)
    else:
        run(a)


if __name__ == "__main__":
    main()
