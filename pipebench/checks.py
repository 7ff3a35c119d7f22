"""Output checks. Every reference answer here is computed independently of
the program: the securities answer by DuckDB evaluating the reference's dbt
SQL (staging casts and rounds, the ffill window, UNION ALL) and DQ tests
over the generated raw rows; the streaming answer by the batch
`Dedup.dedupIndexAddBatch` replay the JVM side writes, plus the planted
ground truth of the generator.

Each check returns (name, passed, detail).
"""
import datetime as dt
import glob

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gen import FIELDS, fx_symbol, stock_symbol_rows


def _unpivot(path, category, windows):
    """The flow's view of a wide file: for each fetch window, the frame's
    rows in the window, all-null ticker columns dropped, stacked to long
    rows with null cells kept (transform_price_df)."""
    t = pq.read_table(path)
    dates = np.array([d.date() for d in t.column("Date").to_pylist()])
    tickers = [c[len("Open_"):] for c in t.column_names if c.startswith("Open_")]
    syms = np.array([fx_symbol(tk) if category == "fx" else tk for tk in tickers], dtype=object)
    # pyarrow turns a nullable int64 column into float64 with NaN; volumes
    # stay far below 2**53, so the round trip is exact
    mats = {f: np.column_stack([t.column(f"{f}_{tk}").to_numpy(zero_copy_only=False)
                                for tk in tickers]).astype("float64") for f in FIELDS}
    nulls = np.logical_and.reduce([np.isnan(mats[f]) for f in FIELDS])
    out = []
    for lo, hi in windows:
        rows = np.nonzero((dates >= lo) & (dates <= hi))[0]
        if len(rows) == 0:
            continue
        live = np.nonzero(~nulls[rows].all(axis=0))[0]
        if len(live) == 0:
            continue
        r = np.repeat(rows, len(live))
        c = np.tile(live, len(rows))
        vol = mats["Volume"][r, c]
        out.append(pd.DataFrame({
            "date_stamp": dates[r], "symbol": syms[c],
            "open": mats["Open"][r, c], "high": mats["High"][r, c],
            "low": mats["Low"][r, c], "close": mats["Close"][r, c],
            "volume": pd.array(vol, dtype="Int64")}))
    return out


STG = """
WITH r AS (SELECT CAST(date_stamp AS DATE) AS date_stamp, symbol, {rounds},
                  CAST(volume AS BIGINT) AS volume FROM {src})
SELECT date_stamp, symbol,
  CASE WHEN open IS NULL THEN last_value(close) OVER w ELSE open END AS open,
  CASE WHEN high IS NULL THEN last_value(close) OVER w ELSE high END AS high,
  CASE WHEN low IS NULL THEN last_value(close) OVER w ELSE low END AS low,
  CASE WHEN close IS NULL THEN last_value(close) OVER w ELSE close END AS close,
  CASE WHEN volume IS NULL THEN 0 ELSE volume END AS volume
FROM r
WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""


def _st_round(c):
    return f"round(CAST({c} AS DECIMAL(38,9)), 2)::DOUBLE AS {c}"


def _fx_round(c):
    return (f"CASE WHEN symbol = 'USDJPY' THEN round(CAST({c} AS DECIMAL(38,9)), 3)::DOUBLE "
            f"ELSE round(CAST({c} AS DECIMAL(38,9)), 5)::DOUBLE END AS {c}")


def build_oracle(con, prefix, lake_rows, symbol_rows):
    """Create `<prefix>_fct`, `<prefix>_dim` from long lake rows per category
    and the stock-symbol snapshots."""
    for cat, frames in lake_rows.items():
        df = pd.concat(frames, ignore_index=True)
        df = df.drop_duplicates(["date_stamp", "symbol"], keep="last")
        con.register(f"{prefix}_ph_{cat}_df", df)
        con.execute(f"CREATE OR REPLACE TABLE {prefix}_ph_{cat} AS SELECT "
                    "CAST(date_stamp AS DATE) AS date_stamp, symbol, open, high, low, close, "
                    f"CAST(volume AS BIGINT) AS volume FROM {prefix}_ph_{cat}_df")
    con.register(f"{prefix}_sym_df", symbol_rows)
    rounds = lambda f: ", ".join(f(c) for c in ("open", "high", "low", "close"))
    con.execute(f"""CREATE OR REPLACE TABLE {prefix}_fct AS
        SELECT * FROM ({STG.format(rounds=rounds(_fx_round), src=f'{prefix}_ph_fx')})
        UNION ALL
        SELECT * FROM ({STG.format(rounds=rounds(_st_round), src=f'{prefix}_ph_sp_stocks')})""")
    con.execute(f"""CREATE OR REPLACE TABLE {prefix}_dim AS
        SELECT DISTINCT symbol, NULL::VARCHAR AS name, NULL::VARCHAR AS sector,
          NULL::VARCHAR AS industry, 'FX' AS asset_type, false AS in_sp400,
          false AS in_sp500, false AS in_sp600, NULL::DATE AS date_stamp
        FROM {prefix}_ph_fx
        UNION ALL
        SELECT symbol, name, sector, industry, 'Stock' AS asset_type,
          in_sp400, in_sp500, in_sp600, CAST(date_stamp AS DATE) AS date_stamp
        FROM {prefix}_sym_df""")


def dq_suite(con, dim, fct):
    """The reference's declared tests (properties.yml) as dbt would compile
    them, one violation count per check, in the program's suite order."""
    q = lambda s: con.execute(s).fetchone()[0]
    flag = lambda c: f"SELECT count(*) FROM {dim} WHERE {c} IS NULL OR {c} NOT IN (true, false)"
    return [
        ("dim_symbols", "not_null", "symbol", q(f"SELECT count(*) FROM {dim} WHERE symbol IS NULL")),
        ("dim_symbols", "unique", "symbol",
         q(f"SELECT count(*) FROM (SELECT symbol FROM {dim} GROUP BY symbol HAVING count(*) > 1)")),
        ("dim_symbols", "accepted_values", "asset_type",
         q(f"SELECT count(*) FROM {dim} WHERE asset_type IS NULL OR asset_type NOT IN ('FX','Stock')")),
        ("dim_symbols", "accepted_values", "in_sp400", q(flag("in_sp400"))),
        ("dim_symbols", "accepted_values", "in_sp500", q(flag("in_sp500"))),
        ("dim_symbols", "accepted_values", "in_sp600", q(flag("in_sp600"))),
        ("dim_symbols", "relationships", "symbol",
         q(f"SELECT count(*) FROM {dim} d WHERE NOT EXISTS "
           f"(SELECT 1 FROM {fct} f WHERE f.symbol = d.symbol)")),
        ("fct_prices", "not_null", "date_stamp", q(f"SELECT count(*) FROM {fct} WHERE date_stamp IS NULL")),
        ("fct_prices", "not_null", "symbol", q(f"SELECT count(*) FROM {fct} WHERE symbol IS NULL")),
        ("fct_prices", "relationships", "symbol",
         q(f"SELECT count(*) FROM {fct} f WHERE NOT EXISTS "
           f"(SELECT 1 FROM {dim} d WHERE d.symbol = f.symbol)")),
    ]


def _symbol_snapshots(raw_path, stamps):
    raw = pq.read_table(raw_path)
    base = pd.DataFrame(stock_symbol_rows(raw))
    frames = []
    for s in stamps:
        f = base.copy()
        f["date_stamp"] = s
        frames.append(f)
    return pd.concat(frames, ignore_index=True)


FCT_COLS = "date_stamp, symbol, open, high, low, close, volume"
DIM_COLS = "symbol, name, sector, industry, asset_type, in_sp400, in_sp500, in_sp600, date_stamp"


def _diff(con, a, b, cols):
    """Rows of a not in b and of b not in a, as multisets (NULLs equal)."""
    ab = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL "
                     f"SELECT {cols} FROM {b})").fetchone()[0]
    ba = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {b} EXCEPT ALL "
                     f"SELECT {cols} FROM {a})").fetchone()[0]
    return ab, ba


def _load_output(con, name, path):
    files = glob.glob(f"{path}/*.parquet")
    if not files:
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT NULL WHERE false")
        return False
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet({files!r})")
    return True


def _dq_of(op):
    return [(d["table"], d["check"], d["column"], d["violations"]) for d in op.get("dq", [])]


def securities(data, meta, result, workload):
    """Checks for daily_incremental and backfill. Returns (checks, failed op
    indexes)."""
    con = duckdb.connect()
    ops = result["ops"]
    good = [o for o in ops if o["error"] is None]
    checks, failed = [], {o["index"] for o in ops if o["error"] is not None}
    chunks = meta["chunks"]
    day = dt.date.fromisoformat
    if workload == "daily_incremental":
        ran = [day(o["label"]) for o in good]
        out_dw = f"{data}/dw"
        hist = {c: [pq.read_table(f"{data}/raw/history/{c}.parquet")
                    .to_pandas(types_mapper={pa.int64(): pd.Int64Dtype()}.get)]
                for c in ("sp_stocks", "fx")}
        stamps = [day(meta["history"]["stamp"])] + [d - dt.timedelta(days=1) for d in ran]
        windows = {"flow": ([(d, d) for d in ran], stamps)}
        bf = result.get("backfill")
        if bf:
            # the program's backfill over the daily runs' span, from the
            # same history: one fetch window, one new snapshot (end - 1 day)
            end = day(bf["end"])
            windows["backfill"] = ([(day(meta["fetch_days"][0]), end)],
                                   [stamps[0], end - dt.timedelta(days=1)])
    else:
        if not good:
            return [("backfill.completed", False, "no backfill completed")], failed | {o["index"] for o in ops}
        last = good[-1]
        out_dw = f"{last['root']}/dw"
        hist = {"sp_stocks": [], "fx": []}
        stamps = [day(meta["days"][-1]) - dt.timedelta(days=1)]
        windows = {"flow": ([(day(meta["days"][0]), day(meta["days"][-1]))], stamps)}

    have_fct = _load_output(con, "out_fct", f"{out_dw}/fct_prices")
    have_dim = _load_output(con, "out_dim", f"{out_dw}/dim_symbols")
    for prefix, (wins, snap) in windows.items():
        rows = {c: list(hist[c]) for c in hist}
        for ch in chunks:
            rows[ch["category"]] += _unpivot(ch["file"], ch["category"], wins)
        build_oracle(con, f"o_{prefix}", rows,
                     _symbol_snapshots(f"{data}/raw/symbols_sp_stocks.parquet", snap))
    if not (have_fct and have_dim):
        checks.append(("warehouse.written", False, "fct_prices or dim_symbols missing"))
        return checks, failed | {o["index"] for o in ops}

    ab, ba = _diff(con, "out_fct", "o_flow_fct", FCT_COLS)
    n = con.execute("SELECT count(*) FROM o_flow_fct").fetchone()[0]
    checks.append(("fct_prices == dbt SQL in DuckDB", ab == 0 and ba == 0,
                   f"{n} oracle rows; {ab} extra, {ba} missing"))
    ab2, ba2 = _diff(con, "out_dim", "o_flow_dim", DIM_COLS)
    checks.append(("dim_symbols == dbt SQL in DuckDB", ab2 == 0 and ba2 == 0,
                   f"{ab2} extra, {ba2} missing"))
    final_bad = not (ab == ba == ab2 == ba2 == 0)

    # the warehouse as of each op: the ffill only looks back, so the final
    # answer cut at an op's day is that op's answer
    def expect_dq(o):
        if workload != "daily_incremental":
            return dq_suite(con, "o_flow_dim", "o_flow_fct")
        d = day(o["label"])
        con.execute("CREATE OR REPLACE VIEW dim_k AS SELECT * FROM o_flow_dim "
                    f"WHERE date_stamp IS NULL OR date_stamp < DATE '{d}'")
        con.execute(f"CREATE OR REPLACE VIEW fct_k AS SELECT * FROM o_flow_fct "
                    f"WHERE date_stamp <= DATE '{d}'")
        return dq_suite(con, "dim_k", "fct_k")
    bad_dq = [o["index"] for o in good if _dq_of(o) != expect_dq(o)]
    final_dq = expect_dq(good[-1]) if good else []
    detail = ", ".join(f"{t}.{c}({col})={v}" for t, c, col, v in final_dq if v) or "all 0"
    checks.append(("DQ results == dbt tests in DuckDB, after every op", not bad_dq,
                   f"violations after the last op: {detail}; ops differing: {bad_dq}"))
    failed |= set(bad_dq)

    if workload == "daily_incremental":
        if bf:
            final_bad |= not _daily_vs_backfill(con, checks, bf, stamps[-1])
        counts = dict(con.execute("SELECT date_stamp, count(*) FROM o_flow_fct GROUP BY 1").fetchall())
        cum, running = {}, 0
        for d in sorted(counts):
            running += counts[d]
            cum[d] = running
        bad_rows = [o["index"] for o in good
                    if o.get("fct_rows") != max((v for k, v in cum.items() if k <= day(o["label"])),
                                                default=0)]
        checks.append(("fct_prices row count after every daily run", not bad_rows,
                       f"ops differing: {bad_rows}"))
        failed |= set(bad_rows)
        if final_bad and good:
            failed.add(good[-1]["index"])
    else:
        ref = good[-1]
        key = lambda o: (o.get("fct_rows"), o.get("fct_hash"), o.get("dim_rows"), o.get("dim_hash"))
        differ = [o["index"] for o in good if key(o) != key(ref)]
        checks.append(("every backfill delivered the same tables", not differ,
                       f"ops differing from the checked one: {differ}"))
        failed |= set(differ)
        if final_bad:
            failed |= {o["index"] for o in good if key(o) == key(ref)}
    return checks, failed


def _daily_vs_backfill(con, checks, bf, latest):
    """The daily warehouse against the program's own backfill over the same
    span. A one-day fetch drops a blank ticker-day's all-null column while
    the backfill keeps its row, so the two may differ; they must differ on
    exactly the rows on which the dbt SQL over per-day and whole-span
    windows differs. Appends the checks; returns whether all passed."""
    if bf["error"] is not None:
        checks.append(("program backfill over the daily span ran", False, bf["error"]))
        return False
    _load_output(con, "bf_fct", f"{bf['dw']}/fct_prices")
    _load_output(con, "bf_dim", f"{bf['dw']}/dim_symbols")
    ab, ba = _diff(con, "bf_fct", "o_backfill_fct", FCT_COLS)
    d1, d2 = _diff(con, "bf_dim", "o_backfill_dim", DIM_COLS)
    checks.append(("program backfill fct_prices, dim_symbols == dbt SQL in DuckDB",
                   ab == ba == d1 == d2 == 0,
                   f"fct {ab} extra, {ba} missing; dim {d1} extra, {d2} missing"))
    # the rows only in one of the two warehouses, as the program and as the
    # oracle have them
    for side, a, b in (("daily", "out_fct", "bf_fct"), ("backfill", "bf_fct", "out_fct"),
                       ("o_daily", "o_flow_fct", "o_backfill_fct"),
                       ("o_backfill", "o_backfill_fct", "o_flow_fct")):
        con.execute(f"CREATE OR REPLACE TABLE only_{side} AS SELECT {FCT_COLS} FROM {a} "
                    f"EXCEPT ALL SELECT {FCT_COLS} FROM {b}")
    n = {t: con.execute(f"SELECT count(*) FROM only_{t}").fetchone()[0]
         for t in ("daily", "backfill", "o_daily", "o_backfill")}
    same = sum(_diff(con, "only_daily", "only_o_daily", FCT_COLS)) == 0 and \
        sum(_diff(con, "only_backfill", "only_o_backfill", FCT_COLS)) == 0
    checks.append(("fct_prices: daily runs vs program backfill differ only where the dbt SQL "
                   "says per-day fetches differ", same,
                   f"{n['daily']} rows only in daily, {n['backfill']} only in backfill "
                   f"(expected {n['o_daily']}, {n['o_backfill']}; blank ticker-days)"))
    # the symbol snapshots do not depend on the fetch windows
    con.execute("CREATE OR REPLACE VIEW out_dim_latest AS SELECT * FROM out_dim "
                f"WHERE date_stamp IS NULL OR date_stamp = DATE '{latest}'")
    con.execute("CREATE OR REPLACE VIEW bf_dim_latest AS SELECT * FROM bf_dim "
                f"WHERE date_stamp IS NULL OR date_stamp = DATE '{latest}'")
    e1, e2 = _diff(con, "out_dim_latest", "bf_dim_latest", DIM_COLS)
    checks.append(("dim_symbols latest snapshot == program backfill's", e1 == e2 == 0,
                   f"{e1} extra, {e2} missing"))
    return ab == ba == d1 == d2 == e1 == e2 == 0 and same


def stream(data, meta, result):
    """Checks for stream_dedup. Returns (checks, failed drain indexes)."""
    ops = result["ops"]
    good = [o for o in ops if o["error"] is None]
    failed = {o["index"] for o in ops if o["error"] is not None}
    if not good:
        return [("stream.completed", False, "no drain completed")], failed
    last = good[-1]
    state = f"{last['root']}/state"
    with open(f"{state}/_current") as f:
        head = int(f.read().strip())
    files = [p for i in range(1, head + 1)
             for p in glob.glob(f"{state}/delta/d{i}/accepted/*.parquet")]
    accepted = set(duckdb.sql(f"SELECT doc_id FROM read_parquet({files!r})").fetchnumpy()["doc_id"]
                   .tolist()) if files else set()
    with open(f"{data}/replay_accepted.txt") as f:
        replay = {int(x) for x in f.read().split()}
    planted = meta["planted"]
    copies_kept = sorted(set(planted["copy"]) & accepted)
    unique_lost = sorted(set(planted["unique"]) - accepted)
    # an exact copy always meets its original in every band, so no two
    # accepted docs may share a text; a copy is still accepted when every
    # earlier doc with its text was rejected (the one-pass pair rule drops
    # a doc whose witness was dropped too, Dedup.dedupIndexAddBatch)
    docs = f"{data}/docs/*.parquet"
    twins = duckdb.sql(f"SELECT count(*) FROM (SELECT text FROM read_parquet('{docs}') "
                       f"WHERE doc_id IN (SELECT unnest(?::BIGINT[])) GROUP BY text "
                       f"HAVING count(*) > 1)", params=[sorted(accepted)]).fetchone()[0] \
        if accepted else 0
    checks = [
        ("accepted set == batch dedupIndexAddBatch replay", accepted == replay,
         f"{len(accepted)} accepted, {len(replay)} in replay, "
         f"{len(accepted - replay)} extra, {len(replay - accepted)} missing"),
        ("no two accepted docs are exact copies", twins == 0,
         f"{twins} texts accepted twice; {len(planted['copy'])} planted copies, "
         f"{len(copies_kept)} accepted because every earlier doc with their text was rejected"),
        ("every planted unique doc accepted", not unique_lost,
         f"{len(planted['unique'])} unique, {len(unique_lost)} rejected"),
    ]
    key = lambda o: (o.get("accepted"), o.get("accepted_hash"))
    differ = [o["index"] for o in good if key(o) != key(last)]
    checks.append(("every drain committed the same state", not differ,
                   f"drains differing from the checked one: {differ}"))
    failed |= set(differ)
    if not all(c[1] for c in checks[:3]):
        failed |= {o["index"] for o in good if key(o) == key(last)}
    return checks, failed
