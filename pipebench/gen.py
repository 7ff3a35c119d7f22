"""Seeded input generators for the three workloads.

Everything the program reads comes from here, and everything is a pure
function of (workload sizes, seed): the same seed writes byte-identical
inputs.

Securities inputs carry what the flow's behaviour depends on: ~1% null OHLC
cells, ~1% null volumes, all-null "halted" ticker-days, late listings, a
few delisted tickers that never return a price (the transform drops their
all-null columns in every fetch), dotted symbols (BRK.B -> BRK-B), null GICS
fields, weekends absent from every calendar and stock-market holidays on
which FX still trades.

The document backlog carries planted near-duplicate clusters with
Zipf-distributed sizes, exact copies, one hot clique and unique documents.
"""
import datetime as dt
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIELDS = ("Open", "High", "Low", "Close", "Volume")
# Yahoo-style raw FX tickers; the transform maps JPY=X/CHF=X/CAD=X to
# USDJPY/USDCHF/USDCAD and strips "=X" from the rest.
FX_RAW = ("AUDUSD=X", "CAD=X", "CHF=X", "EURUSD=X", "GBPUSD=X", "JPY=X",
          "NZDUSD=X")
FX_BASE = {"AUDUSD=X": 0.68, "CAD=X": 1.33, "CHF=X": 0.91, "EURUSD=X": 1.09,
           "GBPUSD=X": 1.27, "JPY=X": 142.0, "NZDUSD=X": 0.62}
SECTORS = ("Energy", "Materials", "Industrials", "Utilities", "Health Care",
           "Financials", "Information Technology", "Real Estate")
FIRST_DAY = dt.date(2021, 1, 4)  # a Monday
ARRIVAL_EPOCH = 1_700_000_000


def business_days(first, n):
    out, d = [], first
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def fx_symbol(raw):
    s = raw[:-2] if raw.endswith("=X") else raw
    return {"CHF": "USDCHF", "CAD": "USDCAD", "JPY": "USDJPY"}.get(s, s)


def _tickers(rng, n):
    seen, out = set(), []
    letters = np.array(list(string.ascii_uppercase))
    while len(out) < n:
        k = int(rng.integers(2, 5))
        t = "".join(rng.choice(letters, k))
        if t not in seen:
            seen.add(t)
            out.append(t)
    # a few share classes with a literal dot, which the symbol transform
    # rewrites to a dash (BRK.B -> BRK-B)
    for i in range(0, n, max(1, n // 8)):
        out[i] = out[i] + ".B"
    return out


def _panel(rng, n_days, n_tick, base, decimals):
    """Random-walk OHLCV panel, shape (days, tickers)."""
    ret = rng.normal(0.0, 0.015, size=(n_days, n_tick))
    close = base[None, :] * np.exp(np.cumsum(ret, axis=0))
    prev = np.vstack([base[None, :], close[:-1]])
    opn = prev * (1.0 + rng.normal(0.0, 0.004, size=(n_days, n_tick)))
    high = np.maximum(opn, close) * (1.0 + np.abs(rng.normal(0, 0.006, (n_days, n_tick))))
    low = np.minimum(opn, close) * (1.0 - np.abs(rng.normal(0, 0.006, (n_days, n_tick))))
    vol = rng.integers(10_000, 5_000_000, size=(n_days, n_tick)).astype(np.int64)
    r = lambda a: np.round(a, decimals)
    return {"Open": r(opn), "High": r(high), "Low": r(low), "Close": r(close),
            "Volume": vol}


def _null_masks(rng, n_days, n_tick):
    """Per-field null masks, with blank ticker-days (every field null) and
    late listings. A one-day fetch drops a blank ticker's all-null column,
    while a multi-day fetch keeps its row, so a daily run and a backfill
    over the same span differ on exactly these rows."""
    masks = {f: rng.random((n_days, n_tick)) < 0.01 for f in FIELDS}
    blank = (rng.random((n_days, n_tick)) < 0.003)
    late = rng.random(n_tick) < 0.01
    start = rng.integers(1, max(2, n_days // 3), size=n_tick)
    blank |= late[None, :] & (np.arange(n_days)[:, None] < start[None, :])
    for f in FIELDS:
        masks[f] |= blank
    # outside blank days at least one field of a live ticker-day is set
    all_null = np.logical_and.reduce([masks[f] for f in FIELDS])
    masks["Close"] &= ~(all_null & ~blank)
    return masks


def _wide_table(days, tickers, panel, masks, rows):
    cols = {"Date": pa.array(
        [dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc) for d in days],
        type=pa.timestamp("us", tz="UTC"))}
    for f in FIELDS:
        typ = pa.int64() if f == "Volume" else pa.float64()
        for j, t in enumerate(tickers):
            cols[f"{f}_{t}"] = pa.array(panel[f][rows, j], type=typ, mask=masks[f][rows, j])
    return pa.table(cols)


def _long_table(days, symbols, panel, masks, rows):
    nd, ns = len(rows), len(symbols)
    data = {"date_stamp": pa.array(np.repeat(np.array(days, dtype="datetime64[D]"), ns)),
            "symbol": pa.array(np.tile(np.array(symbols, dtype=object), nd))}
    for f in FIELDS:
        typ = pa.int64() if f == "Volume" else pa.float64()
        data[f.lower()] = pa.array(panel[f][rows].reshape(-1), type=typ,
                                   mask=masks[f][rows].reshape(-1))
    return pa.table(data)


def write_split(table, path, parts=4):
    """A table directory of `parts` files, the layout a 4-task write leaves."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{i:05d}.parquet")


def stock_symbol_rows(raw):
    """The transformed (lake) form of the raw symbol list, per the
    reference's transform_stocks_symbol_df."""
    g = lambda c: raw.column(c).to_pylist()
    return {
        "symbol": [s.replace(".", "-") for s in g("Symbol")],
        "name": g("Security"),
        "sector": [s if s is not None else "Missing" for s in g("GICS Sector")],
        "industry": [s if s is not None else "Missing" for s in g("GICS Sub-Industry")],
        "in_sp400": [bool(b) for b in g("in_sp400")],
        "in_sp500": [bool(b) for b in g("in_sp500")],
        "in_sp600": [bool(b) for b in g("in_sp600")],
    }


def securities(out, seed, n_stocks, n_days, history_days, chunk):
    """Raw inputs for `daily_incremental` (history_days > 0) or `backfill`
    (history_days == 0). The wide files hold the days the flow will fetch,
    one file per `chunk` symbols of the sorted universe (the flow's own
    chunking); for daily_incremental the first `history_days` days are
    written straight into the lake and warehouse as the pre-existing
    history, the form a past backfill left behind."""
    rng = np.random.default_rng(seed)
    days = business_days(FIRST_DAY, n_days)
    # ~9 stock-market holidays a year; on one inside the fetch window a
    # one-day stock fetch comes back empty
    hol_pool = np.arange(1, n_days)
    n_hol = int(len(days) / 252 * 9)
    holidays = set(rng.choice(hol_pool, size=n_hol, replace=False).tolist())
    st_rows = np.array([i for i in range(n_days) if i not in holidays])
    fx_rows = np.arange(n_days)

    raw_syms = _tickers(rng, n_stocks)
    n_dead = max(1, n_stocks // 250)
    dead = set(rng.choice(n_stocks, size=n_dead, replace=False).tolist())
    sector = [None if rng.random() < 0.02 else SECTORS[int(rng.integers(len(SECTORS)))]
              for _ in range(n_stocks)]
    flag = lambda p: [None if rng.random() < 0.05 else bool(rng.random() < p)
                      for _ in range(n_stocks)]
    raw = pa.table({
        "Symbol": raw_syms,
        "Security": [f"{s} Holdings" for s in raw_syms],
        "GICS Sector": sector,
        "GICS Sub-Industry": [None if s is None else f"{s} / sub" for s in sector],
        "in_sp400": flag(0.27), "in_sp500": flag(0.33), "in_sp600": flag(0.4),
    })
    os.makedirs(f"{out}/raw", exist_ok=True)
    pq.write_table(raw, f"{out}/raw/symbols_sp_stocks.parquet")
    pq.write_table(pa.table({"Symbol": list(FX_RAW)}), f"{out}/raw/symbols_fx.parquet")

    st_panel = _panel(rng, n_days, n_stocks, rng.uniform(5, 400, n_stocks), 4)
    st_masks = _null_masks(rng, n_days, n_stocks)
    for j in dead:
        for f in FIELDS:
            st_masks[f][:, j] = True
    fx_panel = _panel(rng, n_days, len(FX_RAW),
                      np.array([FX_BASE[s] for s in FX_RAW]), 6)
    fx_masks = _null_masks(rng, n_days, len(FX_RAW))

    # chunk files follow the flow's own chunking of the sorted universe
    universe = sorted(s.replace(".", "-") for s in raw_syms)
    col_of = {s.replace(".", "-"): j for j, s in enumerate(raw_syms)}
    fetch_lo = history_days
    chunks = []
    for c, lo in enumerate(range(0, len(universe), chunk)):
        syms = universe[lo:lo + chunk]
        idx = [col_of[s] for s in syms]
        rows = st_rows[st_rows >= fetch_lo]
        sub = {f: st_panel[f][:, idx] for f in FIELDS}
        msk = {f: st_masks[f][:, idx] for f in FIELDS}
        path = f"{out}/raw/wide/sp_stocks/chunk_{c}.parquet"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(_wide_table([days[i] for i in rows], syms, sub, msk, rows), path)
        chunks.append({"category": "sp_stocks", "file": path, "symbols": syms})
    fx_sorted = sorted(FX_RAW)
    idx = [FX_RAW.index(s) for s in fx_sorted]
    rows = fx_rows[fx_rows >= fetch_lo]
    path = f"{out}/raw/wide/fx/chunk_0.parquet"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(_wide_table([days[i] for i in rows], fx_sorted,
                               {f: fx_panel[f][:, idx] for f in FIELDS},
                               {f: fx_masks[f][:, idx] for f in FIELDS}, rows), path)
    chunks.append({"category": "fx", "file": path, "symbols": fx_sorted})

    meta = {"days": [d.isoformat() for d in days], "history_days": history_days,
            "fetch_days": [days[i].isoformat() for i in range(fetch_lo, n_days)],
            "chunk": chunk, "chunks": chunks, "n_stocks": n_stocks, "n_dead": n_dead,
            "dead": sorted(universe[i] for i in range(len(universe))
                           if col_of[universe[i]] in dead)}
    if history_days:
        meta["history"] = write_history(out, days, history_days, raw, raw_syms,
                                        dead, st_rows, st_panel, st_masks,
                                        fx_panel, fx_masks)
    with open(f"{out}/securities.json", "w") as f:
        json.dump(meta, f)
    return meta


def write_history(out, days, history_days, raw, raw_syms, dead, st_rows,
                  st_panel, st_masks, fx_panel, fx_masks):
    """The pre-existing lake and warehouse of daily_incremental: what a
    backfill over the first `history_days` days would have written (live
    tickers only, every calendar day of their frame, nulls kept, FX symbols
    normalized, one stock-symbol snapshot stamped end - 1 day)."""
    live = [j for j in range(len(raw_syms)) if j not in dead]
    rows = st_rows[st_rows < history_days]
    st = _long_table([days[i] for i in rows],
                     [raw_syms[j].replace(".", "-") for j in live],
                     {f: st_panel[f][:, live] for f in FIELDS},
                     {f: st_masks[f][:, live] for f in FIELDS}, rows)
    rows = np.arange(history_days)
    fx = _long_table([days[i] for i in rows], [fx_symbol(s) for s in FX_RAW],
                     fx_panel, fx_masks, rows)
    stamp = days[history_days - 1] - dt.timedelta(days=1)
    sym = stock_symbol_rows(raw)
    sym["date_stamp"] = [stamp] * raw.num_rows
    sym = pa.table(sym)
    fxs = pa.table({"symbol": list(FX_RAW)})
    os.makedirs(f"{out}/raw/history", exist_ok=True)
    pq.write_table(st, f"{out}/raw/history/sp_stocks.parquet")
    pq.write_table(fx, f"{out}/raw/history/fx.parquet")
    for root, tables in (
            (f"{out}/lake", {"price_history/sp_stocks": st, "price_history/fx": fx,
                             "symbols/sp_stocks": sym, "symbols/fx": fxs}),
            (f"{out}/dw", {"price_history_sp_stocks": st, "price_history_fx": fx,
                           "symbols_sp_stocks": sym, "symbols_fx": fxs})):
        for name, t in tables.items():
            write_split(t, f"{root}/{name}", parts=4 if t.num_rows > 10_000 else 1)
    return {"rows": st.num_rows + fx.num_rows, "stamp": stamp.isoformat(),
            "end": days[history_days - 1].isoformat()}


# ---------------------------------------------------------------- documents

def _vocab(rng, n):
    letters = np.array(list(string.ascii_lowercase))
    return ["".join(rng.choice(letters, int(rng.integers(3, 9)))) for _ in range(n)]


def documents(out, seed, n_files, docs_per_file, dup_share=0.3,
              clique_size=500, doc_len=(40, 90), vocab_size=20000):
    """A parquet backlog of `n_files` files x `docs_per_file` docs with ids
    increasing in arrival order. About `dup_share` of the docs are planted
    duplicates: Zipf-sized clusters of near-duplicate variants (~5% of the
    tokens replaced) and exact copies of an earlier member, plus one hot
    clique of `clique_size` variants of a single base, all in one file.
    The remaining docs are unique random texts. Every duplicate arrives after
    its cluster's base, so a planted exact copy always has a judged original
    to lose against."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng, vocab_size), dtype=object)
    total = n_files * docs_per_file
    text = lambda: list(rng.choice(vocab, int(rng.integers(*doc_len))))

    def variant(base):
        t = list(base)
        k = max(1, len(t) // 20)
        for p in rng.choice(len(t), size=k, replace=False):
            t[p] = vocab[int(rng.integers(vocab_size))]
        return t

    # slots: position in arrival order -> (kind, cluster, tokens)
    slots = [None] * total
    clique_file = n_files // 2
    lo = clique_file * docs_per_file
    clique_slots = sorted(rng.choice(np.arange(lo, lo + docs_per_file),
                                     size=min(clique_size, docs_per_file),
                                     replace=False).tolist())
    taken = set(clique_slots)
    free = [i for i in range(total) if i not in taken]
    n_dups = int(total * dup_share) - len(clique_slots)
    cluster_members = []
    while n_dups > 0:
        size = int(min(rng.zipf(2.0), 50, n_dups + 1))
        if size < 2:
            size = 2
        cluster_members.append(size)
        n_dups -= size - 1
    rng.shuffle(free)
    cursor = 0
    cid = 0
    for size in cluster_members:
        pos = sorted(free[cursor:cursor + size])
        cursor += size
        base = text()
        slots[pos[0]] = ("base", cid, base)
        members = [base]
        for p in pos[1:]:
            if rng.random() < 0.3:
                slots[p] = ("copy", cid, list(members[int(rng.integers(len(members)))]))
            else:
                v = variant(base)
                members.append(v)
                slots[p] = ("near", cid, v)
        cid += 1
    base = text()
    slots[clique_slots[0]] = ("base", cid, base)
    for p in clique_slots[1:]:
        slots[p] = ("clique", cid, variant(base))
    for p in free[cursor:]:
        slots[p] = ("unique", -1, text())

    os.makedirs(f"{out}/docs", exist_ok=True)
    kinds = {"unique": [], "copy": [], "near": [], "clique": [], "base": []}
    for f in range(n_files):
        ids, texts = [], []
        for p in range(f * docs_per_file, (f + 1) * docs_per_file):
            kind, _, toks = slots[p]
            doc_id = p + 1
            ids.append(doc_id)
            texts.append(" ".join(toks))
            kinds[kind].append(doc_id)
        path = f"{out}/docs/part-{f:05d}.parquet"
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), path)
        # the file source admits files in modification-time order; files
        # written within one timestamp tick would tie and could arrive out
        # of name order, so arrival order is pinned one second apart
        os.utime(path, (ARRIVAL_EPOCH + f, ARRIVAL_EPOCH + f))
    meta = {"files": n_files, "docs_per_file": docs_per_file, "total": total,
            "clique_size": len(clique_slots), "clusters": len(cluster_members) + 1,
            "planted": kinds}
    with open(f"{out}/documents.json", "w") as fh:
        json.dump(meta, fh)
    return meta
