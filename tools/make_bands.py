#!/usr/bin/env python3
"""Seed/refresh bench_bands.json — the committed per-query timing band
roster that graft.Bench adjudicates closing runs against (vs_band in the
summary sidecar).

Why bands instead of a one-shot committed summary: this host shows
sustained multi-minute degradation windows (SCALE.md, rounds 12-15); a
single closing suite run rides them, and a committed polluted median then
poisons the NEXT round's outlier detection in both directions (an
inflated median masks a real regression; a true reading looks like a
speedup). A per-query [lo, hi] band distilled from quiet evidence makes
adjudication per-query: one polluted stretch discards its stretch, not
the run.

Sources, overlaid:
 1. HAND bands — the dedicated-band roster SCALE.md records (solo
    fresh-JVM, quiet-window readings, hand-adjudicated across rounds)
    plus the r15 judge's solo probe readings (VERDICT.md). Transcribed
    here; provenance "roster".
 2. HISTORY bands — per-query rep/median readings from the committed
    bench sidecars and driver BENCH_r*.json lines, floor-filtered:
    readings above max(2.5x, +0.3s) the query's own cross-round floor
    are host-window pollution and drop. Provenance "history".
Where both exist the band is their UNION (the r13 rule: solo and
in-suite quiet readings are both legitimate — e.g. q84's judge solo
0.5-0.65s vs builder in-suite 1.6-2.4s, all on healthy hosts).

Usage: python3 tools/make_bands.py [out.json]   (default bench_bands.json)
Values are integer centiseconds at sf0.1. Bench.parseBands rejects the
file when its "sf" label doesn't match the run.
"""
import json, math, os, re, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# --- source 1: hand-adjudicated bands, seconds (SCALE.md roster +
# r15 VERDICT judge probes; unions already applied where both spoke) ---
HAND = {
    "02": (0.46, 0.66), "26": (1.15, 1.78), "41": (0.23, 0.27),
    "44": (2.2, 2.3), "51": (0.62, 1.02), "74": (0.29, 0.53),
    "79": (4.0, 4.7), "81": (0.98, 2.5), "82": (3.0, 8.5),
    "84": (0.5, 2.4), "104": (3.1, 6.7), "112": (1.7, 2.0),
    "113": (0.45, 1.9),  # r18 re-base, see block below
    "115": (3.4, 5.1), "118": (2.7, 4.5),
    "127": (0.39, 1.5), "133": (2.6, 4.0), "141": (3.5, 13.5),  # r18 re-base, see block below
    "143": (2.8, 3.0), "145": (4.9, 6.4), "146": (2.3, 2.4),
    "151": (4.3, 6.9), "152": (1.0, 1.8), "153": (2.4, 2.5),
    "154": (1.3, 2.0), "155": (2.1, 3.8), "156": (1.5, 2.0),
    "157": (1.5, 1.9), "159": (5.4, 6.1),
    "158": (4.8, 19.0),  # r18 re-base, see block below
    "160": (2.7, 5.2), "161": (5.0, 6.1), "162": (5.4, 6.8),
    "163": (2.6, 3.4), "164": (2.4, 3.7), "165": (0.99, 1.03),
    "166": (2.0, 2.7), "167": (1.3, 1.9), "168": (5.7, 7.4),
    "169": (0.9, 1.3), "170": (3.0, 3.7), "171": (3.3, 4.1),
    "172": (1.2, 1.6), "173": (1.1, 1.8), "174": (1.3, 2.0),
    "175": (2.4, 4.5), "176": (1.6, 1.9), "177": (0.5, 0.7),
    "178": (0.6, 0.8), "179": (2.4, 3.0), "180": (1.0, 1.4),
    "181": (1.0, 1.6), "182": (0.45, 0.6), "183": (1.4, 2.5),
    "184": (1.3, 1.6), "185": (0.95, 1.6), "186": (1.2, 2.4),
    # q189 lo re-based 6.0 -> 1.5 with the r17 CC-round RDD rewrite
    # (same evidence note as q199/q201 below)
    "187": (1.4, 3.6),
    "188": (1.8, 7.2), "189": (1.3, 4.5),  # r18 re-bases, see block below
    "190": (5.7, 12.3), "191": (0.45, 0.70),
    # r16 additions (solo fresh-JVM, quiet probes this session)
    "192": (2.2, 3.2), "193": (1.7, 3.3), "194": (2.4, 4.1),
    "195": (1.2, 2.7), "196": (0.35, 0.65),
    # r17: the verify-stage candidate prune (VERDICT #2) trades two
    # localCheckpoint materializations + a candidate-count probe for
    # corpus-bounded→candidate-bounded verify exchanges; at sf0.1 that
    # constant lifts the quiet reading to ~1.5 s (in-band controls)
    "197": (0.9, 1.7),
    # r17 additions (solo fresh-JVM, in-band-controls probes): q198 =
    # the streaming frame-store ingest replay (backlog write + two
    # AvailableNow micro-batches per rep, q188-class cost; reps decay
    # 7.7 -> 4.6 s as the scratch warms)
    "198": (4.2, 8.0),
    # q199 composes the q197 caption verify + q186 phash pairs + the
    # q189-class CC walk (CC dominates, cf. q189's 6.0-11.0 band);
    # first probe rode a flagged window (controls 1.5-2.6x over), reps
    # 10.7-15.9 s — provisional generous band, quiet re-read to follow
    # q199/q200 re-based from the quiet re-read (controls q02 0.49 /
    # q74 0.46 in band): q199 reps 5.03-6.45 s, q200 0.66-0.72 s — the
    # first probes rode flagged steal windows (SCALE.md r17) and the
    # provisional bands were never quiet evidence, so this regen ran
    # --allow-narrow deliberately
    # r17 OPTIMIZATION re-base, LOW SIDE ONLY (his keep their pre-change
    # quiet evidence until post-change quiet readings accumulate): the
    # CC-round RDD rewrite (commit eefc18f) makes the CC-dominated
    # queries 2-6x faster — q199 read 1.62 s and q201 1.74 s inside the
    # r17 closing run (a run whose steal series shows heavy pollution,
    # so the TRUE quiet values are at or below these readings — safe as
    # lo anchors), q189 1.75 s in the same run. Extending lo keeps a
    # legitimate fast reading from flagging as below-band; the next
    # quiet roster pass can narrow the his with --allow-narrow.
    "199": (1.3, 4.5),  # r18 re-base, see block below
    "200": (0.6, 1.4),
    # q201 = the multimodal capstone (phash keep-one CC dominated
    # pre-rewrite; post-rewrite the CC rounds are RDD jobs)
    "201": (1.4, 5.5),  # r18 re-base, see block below
    # r16 closing adjudication: on an in-band-controls host q17/q50 read
    # 1.2-1.6x over their history-derived his (0.72-0.84 s / 1.96-2.07 s
    # vs quiet history 0.24-0.59 / 1.20) — quiet evidence, so the union
    # rule widens the bands rather than leaving sub-threshold drift to
    # read as near-outlier every round
    "17": (0.24, 0.90), "50": (1.10, 2.10),
    # r16 closing adjudication, transcribed r17 (the VERDICT #1 repair):
    # SCALE.md's final adjudication re-read q107 at 2.68-3.27 s inside
    # band [1.37, 4.03] and q128 at 4.33-5.28 s inside [2.57, 5.69], and
    # the r16 judge's quiet solo probe confirmed q107 at 3.23-3.79 s —
    # but those bands lived only in prose, so the 6b18ec3 regen (history
    # sidecars only) silently narrowed both below the quiet evidence.
    # Hand-recorded here so the union rule keeps them permanent.
    "107": (1.37, 4.03),
    # r18 re-base (SCALE.md "Round 18"; OPTIMIZATION_r18.md): the
    # witness-array + fused-jaccard verify rewrites cut the dedup-index
    # family and the LSH/decontam verifiers 1.4-5x, so their pre-rewrite
    # bands sit far above ANY legitimate post-change reading in both
    # directions. Lows anchor just under the post-change quiet minima
    # (closing run, canary host_windows: []); his at ~3x the post-change
    # quiet maxima — wide enough for moderate steal. This narrows the
    # bands but does NOT make a regression to the old plans flag: the
    # outlier rule fires at 2*hi, above every pre-rewrite quiet reading
    # (q128 hi=300 flags at >=600 cs vs 426-528). q189/q199/q201 his
    # close the r17 ADVICE item (lows were
    # re-based in r17 off polluted upper bounds; two quiet rounds of
    # post-change evidence now exist: q189 1.44-2.27 s, q199 1.53-1.75,
    # q201 1.86-2.37). The regen that applied this ran
    # --allow-narrow=113,128,129,136,140,141,158,188,189,199,201.
    "128": (0.75, 3.0), "129": (1.6, 6.5), "136": (1.45, 5.6),
    "140": (2.6, 10.5),
}

SHORT = re.compile(r"^q([0-9]+[a-z]*)_")


def short(name):
    m = SHORT.match(name)
    return m.group(1) if m else name


def history_readings():
    """shortkey -> list of centisecond readings across rounds."""
    out = {}

    def add(key, cs):
        if cs is not None and cs > 0:
            out.setdefault(key, []).append(float(cs))

    # the full sidecar of the last driver run: full names, float secs,
    # three reps each (individual reps, so a single polluted rep drops
    # in the floor filter instead of polluting a median)
    full = os.path.join(REPO, "bench_last_full.json")
    if os.path.isfile(full):
        d = json.load(open(full))
        for name, q in d.get("queries", {}).items():
            for r in q.get("reps", []):
                if r is not None:
                    add(short(name), r * 100)

    # driver BENCH lines, r12-r15: per-query medians, short keys;
    # ms-era lines convert /10 (mirrors Bench.parseSummaryQueries)
    for rn in ("BENCH_r12", "BENCH_r13", "BENCH_r14", "BENCH_r15",
               "BENCH_r16"):
        p = os.path.join(REPO, rn + ".json")
        if not os.path.isfile(p):
            continue
        tail = json.load(open(p)).get("tail", "")
        m = re.search(r'"queries":\{([^}]*)\}', tail)
        if not m:
            continue
        is_cs = '"uq":"cs"' in tail or '"unit_queries":"cs"' in tail
        is_ds = '"uq":"ds"' in tail  # the deep-shed decisecond tier
        for k, v in re.findall(r'"([^"]+)":([0-9]+)', m.group(1)):
            add(k, int(v) * 10 if is_ds else
                int(v) if is_cs else int(v) / 10.0)
    return out


def current_suite():
    """Short keys of the CURRENT suite — history carries keys of
    retired/renamed queries from old rounds, which would bloat the
    roster and overstate its coverage. Sources, unioned: the NEWEST
    driver BENCH_r*.json line (an authoritative full-suite run) and
    bench_last_full.json (may additionally hold queries added since
    that round — but may also be a small filtered builder probe, which
    must not COLLAPSE the suite to its few keys; the union makes a
    partial sidecar harmless, the r17 incident)."""
    keys = set()
    rounds = sorted(
        (p for p in os.listdir(REPO)
         if re.fullmatch(r"BENCH_r[0-9]+\.json", p)),
        key=lambda p: int(p[7:-5]))
    if rounds:
        tail = json.load(open(os.path.join(REPO, rounds[-1]))).get("tail", "")
        m = re.search(r'"queries":\{([^}]*)\}', tail)
        if m:
            keys |= {k for k, _ in re.findall(r'"([^"]+)":([0-9]+)',
                                              m.group(1))}
    full = os.path.join(REPO, "bench_last_full.json")
    if os.path.isfile(full):
        keys |= {short(n) for n in json.load(open(full)).get("queries", {})}
    return keys or None


def existing_bands(path):
    """key -> [lo, hi, provenance] from the committed roster (empty if
    absent/unreadable) — the monotone-regen guard's reference."""
    try:
        return dict(json.load(open(path)).get("bands", {}))
    except Exception:
        return {}


def main():
    argv = [a for a in sys.argv[1:]
            if not a.startswith("--allow-narrow")]
    # --allow-narrow=199,200 lifts the union guard for EXACTLY those
    # keys (a deliberate per-query re-base from quiet evidence); the
    # bare flag is refused — an all-keys narrow is the q107-class
    # hazard the guard exists for (history sidecars rotate, so a
    # history-only regen silently narrows dozens of bands at once)
    allow_narrow = set()
    for a in sys.argv[1:]:
        if a == "--allow-narrow":
            print("REFUSE: bare --allow-narrow would drop the union "
                  "guard for every band; name the keys, e.g. "
                  "--allow-narrow=199,200", file=sys.stderr)
            sys.exit(1)
        if a.startswith("--allow-narrow="):
            allow_narrow |= set(a.split("=", 1)[1].split(","))
    outp = argv[0] if argv else os.path.join(REPO, "bench_bands.json")
    hist = history_readings()
    cur = current_suite()
    universe = set(hist) | set(HAND)
    if cur:
        universe &= cur | set(HAND)
    bands = {}
    for key in sorted(universe, key=lambda k: (len(k), k)):
        lo = hi = None
        prov = []
        rs = hist.get(key, [])
        if rs:
            floor = min(rs)
            kept = [r for r in rs if r <= max(2.5 * floor, floor + 30)]
            # 10%/20% margins: the kept set is a finite sample of the
            # quiet distribution, not its support
            lo = math.floor(0.9 * min(kept))
            hi = math.ceil(1.2 * max(kept))
            prov.append("history%d/%d" % (len(kept), len(rs)))
        if key in HAND:
            hlo, hhi = (round(x * 100) for x in HAND[key])
            lo = hlo if lo is None else min(lo, hlo)
            hi = hhi if hi is None else max(hi, hhi)
            prov.insert(0, "roster")
        lo = max(1, lo)
        hi = max(hi, lo + 10)  # >=0.1s width: sub-decisecond queries
        # jitter past any tighter bound on this host
        bands[key] = [lo, hi, "+".join(prov)]
    # MONOTONE-REGEN GUARD (the r16 q107/q128 drift: a history-only
    # regen silently narrowed two bands below quiet evidence the
    # adjudication trail cited, so every subsequent closing run would
    # false-flag them — sidecar rotation loses old readings, but quiet
    # evidence once committed is permanent). Default: UNION with the
    # committed band, so a refresh may widen or keep but never narrow;
    # provenance gains "+kept" where the old band extended the new.
    # Deliberate re-basing (a below-band adjudication showed a band was
    # committed off a degraded host) passes --allow-narrow=<keys> to
    # drop the union for exactly those keys.
    for key, old in existing_bands(outp).items():
        if key in bands and key not in allow_narrow:
            b = bands[key]
            if b[1] < old[1] or b[0] > old[0]:
                bands[key] = [min(b[0], old[0]), max(b[1], old[1]),
                              b[2] + "+kept"]
    # one band per line: Bench.parseBands scans `"key":[lo,hi` triples,
    # so each must stay on one line — and per-line entries keep git
    # diffs per-query when the roster is refreshed
    entries = ",\n".join('"%s":[%d,%d,"%s"]' % (k, b[0], b[1], b[2])
                         for k, b in bands.items())
    with open(outp, "w") as f:
        f.write('{"sf":"sf0.1","unit":"cs",\n'
                '"note":"per-query quiet-host timing bands (cs); see '
                'tools/make_bands.py for derivation and SCALE.md for '
                'the underlying readings",\n'
                '"bands":{\n' + entries + "\n}}\n")
    # the human-citable twin of the roster (VERDICT r16 #8): adjudication
    # prose must cite GENERATED numbers, not hand-copied ones — the
    # q107/q128 drift began as a prose/file disagreement. Regenerated in
    # lockstep with the json; HarnessFailureSpec asserts the two agree.
    mdp = os.path.splitext(outp)[0] + ".md"
    with open(mdp, "w") as f:
        f.write("# bench_bands roster (GENERATED by tools/make_bands.py"
                " — do not hand-edit; cite THESE numbers)\n\n"
                "Integer centiseconds at sf0.1. One row per query; this"
                " table and bench_bands.json are written by the same"
                " regen and must agree (HarnessFailureSpec).\n\n"
                "| query | lo (cs) | hi (cs) | provenance |\n"
                "|---|---|---|---|\n")
        for k, b in bands.items():
            f.write("| q%s | %d | %d | %s |\n" % (k, b[0], b[1], b[2]))
    print("wrote %s + %s: %d bands (%d roster-backed, %d history-only)" % (
        outp, mdp, len(bands),
        sum(1 for b in bands.values() if "roster" in b[2]),
        sum(1 for b in bands.values() if b[2].startswith("history"))))


if __name__ == "__main__":
    main()
