#!/usr/bin/env python3
"""Proves the benchmark's gates can fail: it runs the workloads at their
benchmark sizes, corrupts their delivered output, and expects each check to
reject it.

    python3 pipebench/selftest.py

1. one corrupted fct_prices row fails the securities check;
2. one dropped accepted doc fails the streaming check;
3. an operation that throws is counted in `failed` (error_rate > 0).

Exits 0 when every gate fired, 1 otherwise.
"""
import glob
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import run
import checks


def corrupt_fct_row(dw):
    path = sorted(f for f in glob.glob(f"{dw}/fct_prices/*.parquet")
                  if pq.read_metadata(f).num_rows > 0)[0]
    t = pq.read_table(path)
    close = t.column("close").to_pylist()
    i = next(k for k, v in enumerate(close) if v is not None)
    close[i] = close[i] + 0.01
    pq.write_table(t.set_column(t.column_names.index("close"), "close",
                                pa.array(close, pa.float64())), path)


def drop_accepted_doc(state):
    path = sorted(f for f in glob.glob(f"{state}/delta/d*/accepted/*.parquet")
                  if pq.read_metadata(f).num_rows > 0)[0]
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)


def main():
    proved = []

    out = run.measure("daily_incremental", seed=7, seconds=1, trace=False, keep=True)
    try:
        before = all(c[1] for c in checks.securities(
            out["rundir"], out["meta"], out["result"], "daily_incremental")[0])
        corrupt_fct_row(f"{out['rundir']}/dw")
        after, failed = checks.securities(out["rundir"], out["meta"], out["result"],
                                          "daily_incremental")
        fired = before and not all(c[1] for c in after) and bool(failed)
        proved.append(("corrupted fct_prices row fails the check", fired))
    finally:
        shutil.rmtree(out["rundir"].rsplit("/", 1)[0], ignore_errors=True)

    out = run.measure("stream_dedup", seed=7, seconds=1, trace=False, keep=True)
    try:
        drain = [o for o in out["result"]["ops"] if o["error"] is None][-1]
        before = all(c[1] for c in checks.stream(out["rundir"], out["meta"], out["result"])[0])
        drop_accepted_doc(f"{drain['root']}/state")
        after, failed = checks.stream(out["rundir"], out["meta"], out["result"])
        fired = before and not all(c[1] for c in after) and bool(failed)
        proved.append(("dropped accepted doc fails the check", fired))
    finally:
        shutil.rmtree(out["rundir"].rsplit("/", 1)[0], ignore_errors=True)

    # the second price fetch of the run throws inside the first daily run
    out = run.measure("daily_incremental", seed=7, seconds=1, trace=False, fault=1)
    line = out["line"]
    proved.append(("an operation that throws raises error_rate",
                   line["failed"] >= 1 and not line["correct"]))

    for name, ok in proved:
        print(f"{'PASS' if ok else 'FAIL'}: {name}")
    sys.exit(0 if all(ok for _, ok in proved) else 1)


if __name__ == "__main__":
    main()
