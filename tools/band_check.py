#!/usr/bin/env python3
"""Mechanized variance-band check: BENCH json vs the BASELINE.md anchors.

Reproduces the verdict's perf table with one command:

    python3 tools/band_check.py BENCH_r08.json [BASELINE.md]

For every query in the bench reading it finds
  - the ANCHOR: the rightmost recorded dev-column number in the
    BASELINE.md query table, else the `QueryProbe median of 5 = X`
    figure from the row's Notes (historical re-probe anchors);
  - the FAMILY BAND: parsed from the "Variance bands" family table
    (members column), with explicit overrides for queries the prose
    assigns elsewhere and a shuffle/agg default for unlisted ones;
and prints one line per query with the ratio and an IN-BAND /
OUT-OF-BAND / FAST / NO-ANCHOR verdict, then the out-of-band summary.

Per the repo's standing rule (BASELINE.md "Variance bands"): a single
driver reading outside its band is evidence to RE-PROBE
(`graft.Bench --reps 8 <name>`: the median of >= 8 same-JVM runs of the
matching queries), not a regression verdict by itself.
"""
import json
import re
import sys

# family -> slow-side multiplier vs anchor (from the BASELINE.md table):
# ±30% -> 1.3x, ±50% -> 1.5x, ±2x -> 2.0x (single reading)
BAND_FACTOR = {"scan": 1.3, "shuffle": 1.5, "ann": 1.5, "fileio": 1.5, "cluster": 2.0}

# Anchors below this grade against the floor instead (VERDICT r15 №6):
# under ~0.3 s a query's wall time is dominated by per-job scheduler /
# codegen jitter, which is ADDITIVE — a ratio against a 0.15 s anchor
# flags noise, not work (q39/q56/q88 flagged on every quiet board while
# probes showed the board readings ARE the floor). The slow-side
# threshold becomes max(anchor, floor) * band. The floor is MODE-aware
# (r17): a median-of-3 reading carries the typical jitter, not the
# best-of-2 minimum, and the r17 cutover measured the old sub-floor
# class (66 sub-0.5s anchors) reading 1.32x higher under median mode
# (the 32 old sub-0.30 rows now read up to 0.43 s on quiet boards) — so
# median boards grade against 0.30 x 1.32 ~= 0.40 while best-of-2 /
# unknown-mode artifacts keep the original 0.30.
ANCHOR_FLOOR = 0.30
ANCHOR_FLOOR_MEDIAN = 0.40


def floor_for(summary):
    mode = (summary or {}).get("bench_mode", "")
    return ANCHOR_FLOOR_MEDIAN if mode.startswith("median") else ANCHOR_FLOOR

# Queries newer than the last hand-written family-table edit, plus rows
# the table's prose assigns specially. Everything else resolves from the
# parsed members lists; unlisted queries default to shuffle (±50%).
FAMILY_OVERRIDES = {
    "q97_mix_roundtrip": "cluster",  # the q94 chain runs inside the write
    "q109_attrition": "cluster",
    "q110_ann_pq": "ann",
    "q111_wordpiece_merges": "ann",
    "q119_ann_projected": "ann",
    "q120_collocations": "shuffle",
    "q121_dedup_central": "cluster",
    "q122_bool_search": "shuffle",
    "q123_waterfill_budget": "shuffle",
    "q124_bm25_indexed": "shuffle",
    "q125_ann_ivf_serve": "ann",  # artifact write inside; serve plan is ANN-shaped
    "q126_near_search": "shuffle",
    "q127_bpe_encode": "ann",  # 8-round driver-iterated trainer inside (q100's family)
    "q128_prefix_search": "shuffle",
    "q129_ann_lsh_serve": "ann",
    "q130_pack_ids": "ann",  # q127's trainer+encode runs inside
    "q131_pack_across": "ann",  # q127's trainer+encode runs inside
    "q132_cms_counts": "shuffle",
    "q133_rank_metrics": "ann",  # the q31 LSH chain + brute-force truth run inside
    "q134_wp_greedy_encode": "ann",  # wordpiece trainer + driver-iterated greedy walk inside
    "q135_bloom_decon": "shuffle",
    "q136_ann_ivf_fresh": "ann",  # the half-corpus Lloyd chain runs inside
    "q137_mmr_topk": "ann",  # brute pool + k driver-iterated selection rounds
    "q138_pca_project": "ann",  # 12 driver-iterated power rounds inside
    "q139_pca_remove": "ann",  # the q138 chain + the correction scan
    "q140_manifest": "shuffle",
    "q141_tfidf_indexed": "shuffle",
    "q142_bm25_batch": "shuffle",
    "q143_source_overlap": "shuffle",
    "q144_quality_pct": "shuffle",
    "q145_keep_top_quality": "shuffle",
    "q146_semantic_decon": "ann",
    "q147_semantic_decon_lsh": "ann",
    "q181_dp_release": "fileio",  # template-sharded write + read-back inside
    "q182_resumable_dump": "fileio",  # three dump passes of real file I/O inside
    "q185_dump_all": "fileio",  # two 3-table extraction passes inside
}

FAMILY_KEYS = [
    ("scan-shaped", "scan"),
    ("shuffle/agg", "shuffle"),
    ("ANN / IVF", "ann"),
    ("file-I/O", "fileio"),
    ("cluster family", "cluster"),
]


def parse_baseline(path):
    text = open(path).read()
    anchors, families = {}, {}
    for line in text.splitlines():
        if not line.startswith("| q"):
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        name = cells[0]
        if not re.match(r"^q\d+_", name):
            continue
        anchor = None
        # rightmost recorded numeric column (Notes is the final cell)
        for c in reversed(cells[1:-1]):
            if re.match(r"^\d+(\.\d+)?$", c):
                anchor = float(c)
                break
        if anchor is None:
            # prose re-anchors: "QueryProbe median of N = X" with any N
            # (q109's "median of 7" silently escaped the old "of 5"-only
            # pattern and a 4-second query went ungraded — VERDICT r15 №3)
            m = re.search(r"median of \d+ = (\d+(?:\.\d+)?)", cells[-1])
            if m:
                anchor = float(m.group(1))
        if anchor is None:
            m = re.search(r"paired-run min = (\d+(?:\.\d+)?)", cells[-1])
            if m:
                anchor = float(m.group(1))
        if anchor is not None:
            anchors[name] = anchor
    for line in text.splitlines():
        if not line.startswith("|"):
            continue
        for key, fam in FAMILY_KEYS:
            if line.strip("| ").startswith(key):
                members = re.findall(r"q\d+(?:–q\d+)?", line.split("|")[2])
                for mspec in members:
                    if "–" in mspec:
                        lo, hi = (int(x[1:]) for x in mspec.split("–"))
                        for i in range(lo, hi + 1):
                            families[i] = fam
                    else:
                        families[int(mspec[1:])] = fam
    return anchors, families


def parse_summary(hay):
    """The trailing `"summary":{...}` block Bench emits at the END of its
    line (VERDICT r15 №8) — it survives the driver's tail truncation even
    when the leading headline does not, and since r17 names the bench
    MODE that produced the board (median_of_N vs best_of_2), which this
    checker must report so a median board is never graded as if it were
    a single-run one (VERDICT r16 №3/№6)."""
    m = re.search(r'"summary":(\{[^{}]*\})', hay)
    if not m:
        return None
    try:
        return json.loads(m.group(1))
    except json.JSONDecodeError:
        return None


def load_bench(path):
    """Returns (queries, summary_or_None)."""
    raw = open(path).read()
    try:
        d = json.loads(raw)
    except json.JSONDecodeError:
        d = None
    if isinstance(d, dict) and "queries" in d:
        return d["queries"], d.get("summary") or parse_summary(raw)
    # driver wrapper: the JSON line is embedded in a "tail" string
    hay = d.get("tail", raw) if isinstance(d, dict) else raw
    summary = parse_summary(hay)
    m = re.search(r'\{"metric":.*\}', hay)
    if m:
        return json.loads(m.group(0))["queries"], summary
    # driver tails are sometimes truncated mid-line (the FRONT is cut):
    # scrape the per-query pairs directly (the qNN_name keys only occur
    # in the queries map); the summary block still grades the full board
    pairs = re.findall(r'"(q\d+_\w+)":(\d+(?:\.\d+)?)', hay)
    if not pairs:
        sys.exit(f"no bench JSON line found in {path}")
    print(f"[band_check] note: {path} truncated — scraped "
          f"{len(pairs)} per-query readings from the tail\n")
    return {k: float(v) for k, v in pairs}, summary


def load_stats(bench_path, queries, summary):
    """The `.stats.json` side file Bench writes next to its board line
    (min/med/max, reps_run, per-query load/iowait stamps — VERDICT r17
    №4/№5). Tried in order: `<bench>.stats.json`, then the repo-local
    `BENCH_OUT.stats.json` (the driver archives only Bench's stdout as
    BENCH_r{N}.json; the side file of the SAME invocation lands at the
    default output path). A candidate is accepted only if its per-query
    numbers REPRODUCE the board's readings (med for median mode, min for
    best-of-2, to the line's 3-decimal formatting) — a stale side file
    from an older run must annotate nothing rather than mislabel."""
    import os
    cands = []
    if bench_path.endswith(".json"):
        cands.append(bench_path[:-5] + ".stats.json")
    cands.append(os.path.join(os.path.dirname(bench_path) or ".", "BENCH_OUT.stats.json"))
    mode = (summary or {}).get("bench_mode", "")
    rep_key = "min" if mode.startswith("best_of_2") else "med"
    for cand in cands:
        if not os.path.exists(cand):
            continue
        # the whole candidate validation sits in one try: a structurally
        # odd file at either path (a copied board JSON whose "queries"
        # maps to floats, a truncated side file missing med/min) must be
        # skipped, not crash the checker at out-of-band report time
        # (r18 review)
        try:
            d = json.load(open(cand))
            sq = d.get("queries", {})
            shared = [q for q in queries if q in sq]
            if shared and all(abs(sq[q][rep_key] - queries[q]) < 0.0015 for q in shared):
                return d, cand
        except (json.JSONDecodeError, TypeError, KeyError, AttributeError):
            continue
    return None, None


# window-context thresholds for annotation (heuristics, documented in
# BASELINE.md "Variance bands"): load1 above the core count means more
# runnable threads than cores — external contention on a host the bench
# already saturates up to its parallelism; iowait share of the window
# above 15% marks a loaded disk (the fileio-family discriminator).
IOWAIT_LOADED_PCT = 15.0


def annotate(name, anchor, factor, floor, stats):
    """One evidence line for an out-of-band reading, from the stats side
    file: rep spread + reps_run, the window's load/iowait stamps, a
    LOADED-WINDOW mark when the machine context explains the number, and
    the standing sticky-window verdict (rep MIN in-band = the plan is
    fine, the window was not). Returns None when the stats carry no
    entry for the query."""
    st = (stats or {}).get("queries", {}).get(name)
    if not st:
        return None
    cpus = (stats.get("host") or {}).get("cpus", 0)
    marks = []
    threshold = max(anchor, floor) * factor
    if st["min"] <= threshold:
        marks.append(f"rep min {st['min']:.3f} = {st['min'] / anchor:.2f}x IN-BAND "
                     "(sticky window, not a plan change)")
    loaded = []
    if "load1_before" in st:
        peak_load = max(st["load1_before"], st["load1_after"])
        if cpus and peak_load > cpus:
            loaded.append(f"load1 {st['load1_before']:.1f}->{st['load1_after']:.1f} "
                          f"above {cpus} cpus")
    if st.get("iowait_pct", 0.0) >= IOWAIT_LOADED_PCT:
        loaded.append(f"iowait {st['iowait_pct']:.1f}%")
    if loaded:
        marks.append("LOADED WINDOW (" + ", ".join(loaded) + ")")
    spread = (f"reps {st.get('reps_run', '?')}, spread "
              f"{st['min']:.3f}/{st['med']:.3f}/{st['max']:.3f}")
    if "load1_before" in st:
        spread += (f"; load1 {st['load1_before']:.1f}->{st['load1_after']:.1f}, "
                   f"iowait {st.get('iowait_pct', 0.0):.1f}%")
    else:
        spread += "; no host stamps (pre-r18 side file)"
    return spread + ("; " + "; ".join(marks) if marks else "")


def selftest(baseline_path="BASELINE.md"):
    """Every anchor format BASELINE.md actually uses must parse — a prose
    re-anchor that escapes the parser silently ungrades a query. Two
    layers: a fixture pins the known formats, and the LIVE baseline is
    swept so a NEW prose format escaping the parser fails here instead of
    silently grading NO-ANCHOR (the exact VERDICT r15 №3 failure)."""
    import os
    import tempfile
    rows = "\n".join([
        "| q01_numeric | — | 1.50 | 2.00 | notes |",
        "| q02_median5 | — | — | — | old anchor 9; QueryProbe median of 5 = 3.25 (min 3.0) |",
        "| q03_median7 | — | — | — | NEW anchor = idle-host QueryProbe median of 7 = 5.70 |",
        "| q04_pairedmin | — | — | — | re-anchor: paired-run min = 0.42 |",
    ])
    with tempfile.NamedTemporaryFile("w", suffix=".md", delete=False) as f:
        f.write(rows)
        path = f.name
    try:
        anchors, _ = parse_baseline(path)
    finally:
        os.unlink(path)
    want = {"q01_numeric": 2.00, "q02_median5": 3.25,
            "q03_median7": 5.70, "q04_pairedmin": 0.42}
    assert anchors == want, f"anchor parser regressed: {anchors} != {want}"
    # floor rule: a 0.15s-anchor scan reading 0.28 must NOT flag; 0.5 must
    assert 0.28 <= max(0.15, ANCHOR_FLOOR) * BAND_FACTOR["scan"] < 0.5
    # fast-side floor (ADVICE r16): a sub-floor anchor must never grade
    # FAST — mirror of the slow-side rule (0.11 on a 0.17 anchor is the
    # additive-jitter regime, not a speedup); an above-floor anchor keeps
    # the raw-ratio FAST grade. The helper takes the FLOOR as a parameter
    # (ADVICE r17: a hardcoded ANCHOR_FLOOR here let the mode-aware rule
    # main() actually gates on drift untested) — same condition as
    # main()'s `anchor >= floor and ratio < 1/factor`.
    def grades_fast(reading, anchor, factor, floor):
        return anchor >= floor and reading / anchor < 1.0 / factor
    assert not grades_fast(0.11, 0.17, BAND_FACTOR["scan"], ANCHOR_FLOOR), \
        "sub-floor anchor graded FAST"
    assert grades_fast(0.30, 0.50, BAND_FACTOR["scan"], ANCHOR_FLOOR), \
        "real speedup must still grade FAST"
    # median-mode mirror of main(): an anchor in [0.30, 0.40) is trusted
    # under the best-of-2 floor but NOT under the median floor — the r17
    # behavior change the old hardcoded helper could not express
    assert grades_fast(0.20, 0.35, BAND_FACTOR["scan"], ANCHOR_FLOOR), \
        "0.35 anchor must grade FAST under the best-of-2 floor"
    assert not grades_fast(0.20, 0.35, BAND_FACTOR["scan"], ANCHOR_FLOOR_MEDIAN), \
        "0.35 anchor graded FAST under the median floor (must be floor-suppressed)"
    # mode-aware floor (r17): median boards carry typical jitter, not the
    # best-of-2 minimum — they grade against the scaled floor; artifacts
    # with no summary stay on the conservative original
    assert floor_for({"bench_mode": "median_of_3"}) == ANCHOR_FLOOR_MEDIAN
    assert floor_for({"bench_mode": "best_of_2"}) == ANCHOR_FLOOR
    assert floor_for(None) == ANCHOR_FLOOR
    # a 0.43s median-mode reading on a 0.32s anchor (the measured r17
    # sub-floor class ceiling) must NOT flag; it would have under 0.30
    assert 0.43 <= max(0.32, ANCHOR_FLOOR_MEDIAN) * BAND_FACTOR["scan"]
    assert 0.43 > max(0.32, ANCHOR_FLOOR) * BAND_FACTOR["scan"]
    # front-truncated driver artifact: the leading {"metric":...} headline
    # is cut, per-query pairs are scraped from the tail, and the trailing
    # summary block still grades the WHOLE board (VERDICT r16 №6)
    tail = ('...ncated"q90_rarity_buckets":0.761,"q91_boilerplate_segments":0.832,'
            '"errors":{},"n_failed":0,"recall_at_10":{"ann_lsh":0.88,"ann_ivf":0.86},'
            '"sf":"/root/testdata/sf0.1",'
            '"summary":{"total_sec":188.402,"n_queries":187,"n_ok":187,"n_failed":0,'
            '"bench_mode":"median_of_3","reps":3}}')
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        f.write(json.dumps({"parsed": None, "tail": tail}))
        tpath = f.name
    try:
        qs, summ = load_bench(tpath)
    finally:
        os.unlink(tpath)
    assert qs == {"q90_rarity_buckets": 0.761, "q91_boilerplate_segments": 0.832}, qs
    assert summ and summ["total_sec"] == 188.402 and summ["bench_mode"] == "median_of_3", summ
    # stats side-file annotation (VERDICT r17 №4/№5): a side file whose
    # numbers REPRODUCE the board annotates out-of-band rows with the rep
    # spread + machine stamps; a stale one annotates nothing
    import json as _json
    board = {"q85_semdedup_balanced": 28.118, "q105_orc_roundtrip": 3.333}
    stats_doc = {
        "bench_mode": "median_of_3", "reps": 3, "sf": "sfX",
        "host": {"cpus": 32, "load1_start": 2.1, "load1_end": 3.0, "iowait_pct": 4.0},
        "queries": {
            "q85_semdedup_balanced": {"min": 6.473, "med": 28.118, "max": 28.895,
                                      "reps_run": 3, "load1_before": 33.1,
                                      "load1_after": 35.0, "iowait_pct": 22.0},
            "q105_orc_roundtrip": {"min": 3.072, "med": 3.333, "max": 3.874,
                                   "reps_run": 3, "load1_before": 2.0,
                                   "load1_after": 2.2, "iowait_pct": 1.0},
        },
    }
    bdir = tempfile.mkdtemp()
    bpath = os.path.join(bdir, "BENCH_t.json")
    open(bpath, "w").write(_json.dumps({"queries": board}))
    open(bpath[:-5] + ".stats.json", "w").write(_json.dumps(stats_doc))
    st, spath = load_stats(bpath, board, {"bench_mode": "median_of_3"})
    assert spath and st["host"]["cpus"] == 32, "matching side file must load"
    # q85: sticky window (rep min in-band on its 5.707 anchor, 2.0x band)
    # AND a loaded window (load above cpus + iowait over threshold)
    note85 = annotate("q85_semdedup_balanced", 5.707, 2.0, 0.40, st)
    assert "IN-BAND" in note85 and "LOADED WINDOW" in note85, note85
    # q105: every rep elevated on a quiet window — NO exculpatory mark,
    # just the spread (the "real drift" presentation)
    note105 = annotate("q105_orc_roundtrip", 1.521, 1.5, 0.40, st)
    assert "IN-BAND" not in note105 and "LOADED" not in note105, note105
    assert "3.072/3.333/3.874" in note105, note105
    # a STALE side file (board re-run, side file not) must be rejected
    st2, _ = load_stats(bpath, {"q85_semdedup_balanced": 5.9,
                                "q105_orc_roundtrip": 1.5}, {"bench_mode": "median_of_3"})
    assert st2 is None, "stale side file must not annotate"
    # best-of-2 boards reproduce against the stats MIN, not the median
    st3, _ = load_stats(bpath, {"q85_semdedup_balanced": 6.473,
                                "q105_orc_roundtrip": 3.072}, {"bench_mode": "best_of_2"})
    assert st3 is not None, "best-of-2 board must match on rep minima"
    # a structurally odd candidate (board-shaped: queries -> floats) must
    # be SKIPPED, not crash the checker (r18 review)
    open(bpath[:-5] + ".stats.json", "w").write(_json.dumps({"queries": board}))
    st4, _ = load_stats(bpath, board, {"bench_mode": "median_of_3"})
    assert st4 is None, "malformed side file must be skipped, not crash"
    os.unlink(bpath); os.unlink(bpath[:-5] + ".stats.json"); os.rmdir(bdir)
    # live sweep: every query row in the real baseline must yield an anchor
    text = open(baseline_path).read()
    row_names = set()
    for line in text.splitlines():
        if line.startswith("| q"):
            name = line.strip().strip("|").split("|")[0].strip()
            if re.match(r"^q\d+_\w+$", name):
                row_names.add(name)
    live_anchors, _ = parse_baseline(baseline_path)
    escaped = sorted(row_names - set(live_anchors))
    assert not escaped, f"anchor rows escaping the parser: {escaped}"
    print(f"band_check selftest OK ({len(row_names)} live rows, all anchored)")


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    if sys.argv[1] == "--selftest":
        selftest()
        return
    bench_path = sys.argv[1]
    baseline_path = sys.argv[2] if len(sys.argv) > 2 else "BASELINE.md"
    anchors, families = parse_baseline(baseline_path)
    queries, summary = load_bench(bench_path)
    floor = floor_for(summary)

    rows, out_of_band, no_anchor = [], [], []
    for name in sorted(queries):
        reading = queries[name]
        qnum = int(re.match(r"q(\d+)_", name).group(1))
        fam = FAMILY_OVERRIDES.get(name) or families.get(qnum) or "shuffle"
        defaulted = name not in FAMILY_OVERRIDES and qnum not in families
        factor = BAND_FACTOR[fam]
        anchor = anchors.get(name)
        if anchor is None:
            verdict, ratio = "NO-ANCHOR", None
            no_anchor.append(name)
        else:
            ratio = reading / anchor
            if reading > max(anchor, floor) * factor:
                verdict = "OUT-OF-BAND"
                out_of_band.append((name, reading, anchor, ratio, fam, factor))
            elif anchor >= floor and ratio < 1.0 / factor:
                # FAST only grades against anchors the floor rule trusts
                # (ADVICE r16): under the floor a query's wall time is
                # additive scheduler/codegen jitter, so a "fast" ratio on
                # a 0.17s anchor is the same noise the slow side already
                # suppresses — mirror the floor rather than flag it
                verdict = "FAST"
            else:
                verdict = "IN-BAND"
        rows.append((name, reading, anchor, ratio, fam + ("*" if defaulted else ""), verdict))

    mode = (summary or {}).get("bench_mode", "unknown (no summary)")
    print(f"bench mode: {mode}; sub-anchor floor {floor:.2f}s\n")
    print(f"{'query':34} {'read':>7} {'anchor':>7} {'ratio':>6}  {'family':10} verdict")
    for name, reading, anchor, ratio, fam, verdict in rows:
        a = f"{anchor:7.3f}" if anchor is not None else "      —"
        r = f"{ratio:6.2f}" if ratio is not None else "     —"
        print(f"{name:34} {reading:7.3f} {a} {r}  {fam:10} {verdict}")
    print()
    total = sum(queries.values())
    anchored = [(n, v) for n, v in queries.items() if n in anchors]
    asum = sum(anchors[n] for n, _ in anchored)
    vsum = sum(v for _, v in anchored)
    print(f"total {total:.1f} s over {len(queries)} queries; "
          f"vs-anchor sum ratio {vsum / asum:.2f} over {len(anchored)} anchored")
    # board-total verdict from the retained summary block (VERDICT r16
    # №6): on a front-truncated driver artifact the per-query table above
    # covers only the surviving subset — the summary's total_sec still
    # grades the WHOLE board against the whole anchor table
    if summary and "total_sec" in summary:
        board_total = summary["total_sec"]
        anchor_total = sum(anchors.values())
        mode = summary.get("bench_mode", "best_of_2 (pre-r17 artifact)")
        nq = summary.get("n_queries", "?")
        nf = summary.get("n_failed", "?")
        note = ""
        if isinstance(nq, int) and nq != len(anchors):
            note = f" [board ran {nq} vs {len(anchors)} anchored rows]"
        print(f"board summary: total {board_total:.1f} s over {nq} queries "
              f"({nf} failed), mode {mode}; vs anchor-table total "
              f"{anchor_total:.1f} s = ratio {board_total / anchor_total:.2f}"
              f"{note}")
    else:
        print("board summary: none found (pre-r16 artifact or summary "
              "truncated) — subset table above is the only grading")
    if no_anchor:
        print(f"no anchor ({len(no_anchor)}): {' '.join(no_anchor)}")
    if out_of_band:
        stats, stats_path = load_stats(bench_path, queries, summary)
        if stats_path:
            h = stats.get("host") or {}
            ctx = (f"cpus {h['cpus']}, load1 {h['load1_start']:.1f}->"
                   f"{h['load1_end']:.1f}, iowait {h['iowait_pct']:.1f}%"
                   if "cpus" in h else "no host stamps (pre-r18 side file)")
            print(f"stats side file: {stats_path} (board host: {ctx})")
        else:
            print("stats side file: none matched this board — flags carry no "
                  "machine evidence (re-run Bench or pass the artifact's own "
                  ".stats.json)")
        print(f"OUT-OF-BAND ({len(out_of_band)}) — re-probe before any verdict "
              "(BASELINE.md band rule):")
        for name, reading, anchor, ratio, fam, factor in out_of_band:
            print(f"  {name}: {reading:.3f} vs {anchor:.3f} = {ratio:.2f}x "
                  f"(band {factor:.1f}x, {fam})")
            note = annotate(name, anchor, factor, floor, stats)
            if note:
                print(f"      {note}")
        sys.exit(2)
    print("all anchored queries in band")


if __name__ == "__main__":
    main()
