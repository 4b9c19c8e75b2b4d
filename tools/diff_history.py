#!/usr/bin/env python3
"""Diff the last two (or any two) BENCH_HISTORY.jsonl entries.

Usage: diff_history.py [BENCH_HISTORY.jsonl] [idxA idxB] [--profile P]

A numeric first argument is treated as idxA (the history path defaults),
so `diff_history.py 2 3` diffs entries 2 and 3 of the default file
(r16 ADVICE #4: it used to treat '2' as the history path and die with
FileNotFoundError). Indices may be negative (python semantics); out of
range exits with a usage message, not a bare IndexError.

Compares per-query walls AND the streaming throughput map (r15 verdict
#2: 47 history entries carried walls but zero streaming rates, so the
windowed_dedup 7.5x collapse was not diffable from artifacts). Flags:
  - query walls moving >2x and >1 s in either direction;
  - streaming *_events_per_sec moving >1.5x in either direction --
    UNLESS every rate leg moved together in the same direction
    (lockstep) AND the lockstep is corroborated + magnitude-comparable
    (r17 ADVICE #1; the r16 tool classified on direction alone, so an
    engine-wide regression or a 7x single-leg collapse riding 1.5x
    ambient noise could pass silently):
      * a leg whose move ratio exceeds 2x the median of the OTHER
        moved legs' ratios is an OUTLIER and stays engine-suspect even
        inside a lockstep (leave-one-out -- r18 ADVICE #1: with the
        candidate leg inside the median, a 2-leg lockstep could never
        flag: b > 2*(a+b)/2 is impossible);
      * a comparable lockstep needs POSITIVE environment evidence in
        the newer entry -- measured steal_total_sec > 5, foreign_mean
        >= 1, or load average >= 4 -- to classify environment_lockstep
        (notes, exit 0). The window_quality LABEL is NOT evidence
        (r18 verdict #4: "noisy" is this host's steady state, so
        label-based corroboration made exit 3 unreachable); a
        steal-free, foreign-free, low-load window prints
        environment_lockstep_unconfirmed and exits 3 ("adjudicate:
        rerun in a quiet window") even when labeled noisy.
    The stateless tokenize leg has no state to accrete, so it slowing
    in step with the stateful legs is the host signature this
    discriminator keys on (r16 verdict #5).
  - *_insufficient_batches becoming nonzero;
  - *_batch_sec_late exceeding 2x *_batch_sec_early in the newer run
    (within-run batch-duration GROWTH -- the state-accretion signature
    a whole-window rate hides).

Wall moves against a DEGRADED window are demoted to notes, but the run
is then NOT clean: it exits 2 ("quiet rerun required", r17 ADVICE #2)
so automation cannot treat a suppressed comparison as a pass.

Profile staleness (r17 verdict #4): the newer entry's per-query walls
are compared against PERF_PROFILE.json (beside the history file, or
--profile). A median wall ratio <= 0.8 across >= 20 common entries means
the host got FASTER than the profile's quiet floor (e.g. the 03:00Z
host step reverting) and the >2x soft gate has lost sensitivity --
printed as a profile_stale_fast note recommending a rebuild; >= 1.25
prints profile_stale_slow (the r17 adjudication's 236-entry median
logic, now in the tool). Notes only; staleness never gates.

Exit codes: 0 clean; 1 engine-suspect flags; 2 wall moves suppressed by
a degraded window (quiet rerun required); 3 uncorroborated lockstep
(adjudicate).
"""
import json
import os
import sys

USAGE = ("usage: diff_history.py [BENCH_HISTORY.jsonl] [idxA idxB]"
         " [--profile P]\n"
         "  (a numeric first arg is idxA; indices may be negative;"
         " give both or neither)")


def load(path):
    try:
        with open(path) as f:
            return [json.loads(ln) for ln in f if ln.strip()]
    except OSError as e:
        sys.exit(USAGE + f"\n  cannot read history file: {e}")


def is_int(s):
    try:
        int(s)
        return True
    except ValueError:
        return False


def parse_args(argv):
    rest = argv[1:]
    profile = None
    if "--profile" in rest:
        i = rest.index("--profile")
        if i + 1 >= len(rest):
            sys.exit(USAGE + "\n  --profile needs a path")
        profile = rest[i + 1]
        rest = rest[:i] + rest[i + 2:]
    path = "BENCH_HISTORY.jsonl"
    if rest and not is_int(rest[0]):
        path, rest = rest[0], rest[1:]
    if any(not is_int(a) for a in rest) or len(rest) not in (0, 2):
        sys.exit(USAGE + f"\n  got: {argv[1:]}")
    # explicitness tracked from the ARGUMENTS, not the resolved tuple
    # (r18 ADVICE #3: a user explicitly passing `-2 -1` was
    # indistinguishable from the no-argument default, so the quiet-anchor
    # override silently replaced that explicit comparison)
    explicit = bool(rest)
    idx = tuple(int(a) for a in rest) if rest else (-2, -1)
    if profile is None:
        profile = os.path.join(os.path.dirname(path) or ".",
                               "PERF_PROFILE.json")
    return path, idx, profile, explicit


def cpus_requested(rec):
    """The record's requested core count as an int ("32", 32 and " 32"
    are one config), or None when the record does not carry it. A value
    that is not an integer stays a stripped string, so it still compares
    unequal to any count."""
    v = rec.get("cpus_requested")
    if v is None:
        return None
    try:
        return int(str(v).strip())
    except ValueError:
        return str(v).strip()


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def classify_streaming(sa, sb, corroborated):
    """Per-leg rate moves + the corroborated lockstep discriminator.

    Returns (moves, outliers, classification): moves is
    [(key, va, vb, direction)] for legs moving >1.5x; outliers the
    subset whose move ratio exceeds 2x the median moved ratio;
    classification is None, 'environment_lockstep',
    'environment_lockstep_unconfirmed', 'lockstep_outlier', or
    'engine_suspect'.
    """
    rate_keys = sorted(k for k in set(sa) & set(sb)
                       if k.endswith("_events_per_sec"))
    moves, directions = [], {}
    for k in rate_keys:
        va, vb = sa[k], sb[k]
        if vb < va / 1.5:
            directions[k] = "down"
            moves.append((k, va, vb, "down"))
        elif vb > 1.5 * max(va, 1e-9):
            directions[k] = "up"
            moves.append((k, va, vb, "up"))
        else:
            directions[k] = "steady"
    if not moves:
        return moves, [], None
    dirs = set(directions.values())
    if len(rate_keys) < 2 or dirs not in ({"down"}, {"up"}):
        return moves, [], "engine_suspect"
    # lockstep by direction -- now require comparable magnitudes: a leg
    # collapsing 7x while ambient noise nudges the others just past
    # 1.5x is an engine signal wearing a lockstep costume. The baseline
    # is LEAVE-ONE-OUT (r18 ADVICE #1): each leg's normalized ratio is
    # compared against the median of the OTHER moved legs' ratios --
    # with the candidate inside its own median, two moved legs could
    # never flag (b > 2*(a+b)/2 requires b > a+b, impossible).
    ratios = {k: max(vb, 1e-9) / max(va, 1e-9) for k, va, vb, _ in moves}
    norm = {k: r if r >= 1 else 1 / r for k, r in ratios.items()}
    outliers = [m for m in moves
                if norm[m[0]] > 2 * median(
                    [norm[k] for k in norm if k != m[0]])]
    if outliers:
        return moves, outliers, "lockstep_outlier"
    if corroborated:
        return moves, [], "environment_lockstep"
    return moves, [], "environment_lockstep_unconfirmed"


def profile_staleness(profile_path, b):
    """Compare the newer entry's walls against the quiet-profile floor;
    return a note string or None. Median ratio across common entries:
    <= 0.8 the profile is stale-slow relative to a recovered host
    (rebuild so the >2x gate regains sensitivity); >= 1.25 the host
    plane has stepped below the profile (the r17 03:00Z shape)."""
    # ValueError covers json.JSONDecodeError (r18 ADVICE #4: a
    # truncated PERF_PROFILE.json crashed the whole gate tool with a
    # traceback instead of skipping the advisory note)
    try:
        with open(profile_path) as f:
            prof = json.load(f)
    except (OSError, ValueError):
        return None
    entries = prof.get("entries", {})
    qb = b.get("queries", {})
    ratios = [qb[k] / entries[k]["wall"]
              for k in set(qb) & set(entries)
              if entries[k].get("wall", 0) > 0.05]
    if len(ratios) < 20:
        return None
    med = median(ratios)
    if med <= 0.8:
        return (f"profile_stale_fast: median wall ratio {med:.2f} vs "
                f"profile across {len(ratios)} entries -- the host is "
                "uniformly FASTER than the profile floor; rebuild "
                "PERF_PROFILE from a quiet run at HEAD")
    if med >= 1.25:
        return (f"profile_stale_slow: median wall ratio {med:.2f} vs "
                f"profile across {len(ratios)} entries -- host-plane "
                "step or profile from a faster era; adjudicate, then "
                "rebuild PERF_PROFILE from a quiet run at HEAD")
    return None


def main(argv):
    path, (ia, ib), profile_path, explicit = parse_args(argv)
    hist = load(path)
    if len(hist) < 2:
        print(f"{path}: {len(hist)} entries, nothing to diff")
        return 0
    for i in (ia, ib):
        if not -len(hist) <= i < len(hist):
            sys.exit(USAGE + f"\n  index {i} out of range for {len(hist)}"
                     f" entries in {path}")
    # Default-anchor rule (r17 verdict #5): with no explicit indices,
    # the comparison BASE is the latest QUIET record before the newest
    # entry, not blindly the second-newest — a degraded-window headline
    # (r16's 492.8 s, r17's 404.9 s) must never anchor a regression
    # comparison. Explicit indices always win. Anchor eligibility is
    # decoupled from the quiet LABEL (r18 verdict #3): this host has
    # stopped producing quiet windows, so a quiet record can be eras
    # stale (pre-rewrite engine) or absent entirely. A quiet anchor is
    # used only when one exists within MAX_ANCHOR_AGE runs of the
    # newest entry; otherwise the MINIMUM-STEAL non-degraded record
    # anchors. The anchor's age and window quality always print, so a
    # pre-rewrite-era anchor is visible instead of silent.
    MAX_ANCHOR_AGE = 15
    if not explicit:
        newest = len(hist) - 1
        quiet_idx = [i for i in range(newest)
                     if hist[i].get("window_quality") == "quiet"]

        def anchor_to(i, why):
            age = newest - i
            q = hist[i].get("window_quality", "unknown")
            reason = hist[i].get("window_quality_reason")
            print(f"anchor: {why} (index {i} of {len(hist)}, age {age} "
                  f"runs, window {q}"
                  + (f", reason {reason}" if reason else "") + ")")
            return i

        if quiet_idx and newest - quiet_idx[-1] <= MAX_ANCHOR_AGE:
            if hist[quiet_idx[-1]] is not hist[-2]:
                ia = anchor_to(quiet_idx[-1], "latest quiet record")
        else:
            candidates = [i for i in range(newest)
                          if hist[i].get("window_quality") != "degraded"]
            if candidates:
                best = min(candidates, key=lambda i: (
                    float(hist[i].get("steal_total_sec") or 1e9), -i))
                why = ("no quiet record in history"
                       if not quiet_idx else
                       f"latest quiet record is {newest - quiet_idx[-1]} "
                       f"runs old (> {MAX_ANCHOR_AGE})")
                ia = anchor_to(best,
                               f"minimum-steal non-degraded record ({why})")
    a, b = hist[ia], hist[ib]
    wqa = a.get("window_quality", "unknown")
    wqb = b.get("window_quality", "unknown")
    # Config comparability (r19 verdict #2): an 8-core scaling run used
    # to self-describe as cpus: 32 (availableProcessors), so a
    # cross-config diff looked legitimate. Bench now records the
    # REQUESTED core count; entries benched at different configs are
    # different physical plans (r12: defaultParallelism + shuffle
    # partitions differ), so the comparison flags instead of passing.
    # Bench writes the count as a JSON string ("32"); other writers may
    # write a number, so both sides compare as normalized integers.
    cra = cpus_requested(a)
    crb = cpus_requested(b)
    if cra is not None and crb is not None and cra != crb:
        print(f"CONFIG cpus_requested differs (A={cra}, B={crb}) -- "
              "different physical plans; walls are not comparable")
        return 1
    if (cra is None) != (crb is None):
        side = "A" if cra is not None else "B"
        print(f"note   cpus_requested recorded on {side} only "
              f"({cra if cra is not None else crb}) -- core counts "
              "not checked")
    print(f"A: {a.get('wall_start')}  total {a.get('total_sec')} s  "
          f"load {a.get('load_avg_start')}->{a.get('load_avg_end')}  "
          f"window {wqa}")
    print(f"B: {b.get('wall_start')}  total {b.get('total_sec')} s  "
          f"load {b.get('load_avg_start')}->{b.get('load_avg_end')}  "
          f"window {wqb}")
    flagged = 0
    suppressed = 0

    # Walls measured in a DEGRADED window are environment artifacts, not
    # engine numbers (r16 verdict #3: the committed 492.8 s headline came
    # from a load-7 window, 40% above four same-day quiet runs) -- the
    # entry self-declares via window_quality, so wall moves against or
    # from such a window print as notes. They are COUNTED as suppressed:
    # the run then exits 2 so automation must rerun quiet instead of
    # treating the suppression as a pass (r17 ADVICE #2).
    degraded = "degraded" in (wqa, wqb)
    if degraded:
        print("note   a compared window is DEGRADED -- wall moves below "
              "are environment-classified; adjudicate with a quiet rerun")
    qa, qb = a.get("queries", {}), b.get("queries", {})
    for k in sorted(set(qa) & set(qb)):
        va, vb = qa[k], qb[k]
        if max(va, vb) > 2 * max(min(va, vb), 1e-9) and abs(va - vb) > 1.0:
            if degraded:
                print(f"note   {k}: {va:.2f} -> {vb:.2f} s (degraded window)")
                suppressed += 1
            else:
                print(f"WALL   {k}: {va:.2f} -> {vb:.2f} s")
                flagged += 1

    sa, sb = a.get("streaming", {}), b.get("streaming", {})
    # Distinguish a pre-r16 entry (no "streaming" key at all -- note,
    # don't flag) from a post-r16 entry whose streaming leg FAILED or
    # was disabled ("streaming":{} -- Bench recovers a crashed leg to
    # an empty map). An empty newer map must flag: a vanished leg is
    # exactly the invisible-regression class this gate exists for.
    if "streaming" not in b:
        print("streaming: newer entry predates streaming history, skipped")
    elif not sb:
        print("STREAM streaming map EMPTY in newer entry "
              "(leg failed or disabled) -- no rates to compare")
        flagged += 1
    elif "streaming" not in a or not sa:
        print("streaming: no older baseline (pre-r16 or empty), skipped")
    # environment corroboration for the lockstep classification:
    # POSITIVE measured evidence only (r18 verdict #4) — the newer
    # entry's steal, foreign-core load, or load average must actually
    # show a noisy neighbor. The window_quality label is NOT evidence:
    # "noisy" is this host's steady state, so label-based corroboration
    # made the exit-3 adjudication path unreachable in practice.
    load_b = max(float(b.get("load_avg_start") or 0),
                 float(b.get("load_avg_end") or 0))
    steal_b = float(b.get("steal_total_sec") or 0)
    foreign_b = float(b.get("foreign_mean") or 0)
    corroborated = steal_b > 5 or foreign_b >= 1 or load_b >= 4
    moves, outliers, classification = classify_streaming(sa, sb,
                                                         corroborated)
    lockstep_unconfirmed = False
    if classification == "environment_lockstep":
        # All rate legs (incl. the STATELESS tokenize leg, which has no
        # state to accrete) moved together, comparably, with environment
        # evidence: host-window noise, not the engine.
        print(f"CLASS  streaming_degradation: environment_lockstep "
              f"({len(moves)} legs moved {moves[0][3]} together)")
        for k, va, vb, d in moves:
            print(f"note   {k}: {va/1e3:.1f}k -> {vb/1e3:.1f}k ev/s "
                  f"({d}, lockstep)")
    elif classification == "environment_lockstep_unconfirmed":
        # Comparable lockstep but NOTHING in the newer entry says the
        # environment was at fault -- an engine-wide change (session/
        # codegen/tokenizer core) would look exactly like this. Exit 3.
        print(f"CLASS  streaming_degradation: environment_lockstep_"
              f"unconfirmed ({len(moves)} legs moved {moves[0][3]} "
              "together but the newer entry shows no measured steal/"
              "foreign/load evidence -- adjudicate with a rerun before "
              "trusting this as environment)")
        for k, va, vb, d in moves:
            print(f"note   {k}: {va/1e3:.1f}k -> {vb/1e3:.1f}k ev/s "
                  f"({d}, lockstep?)")
        lockstep_unconfirmed = True
    elif classification == "lockstep_outlier":
        # Direction said lockstep, magnitude said otherwise: the
        # outlier legs flag as engine-suspect, the comparable remainder
        # prints as notes.
        out_keys = {m[0] for m in outliers}
        print(f"CLASS  streaming_degradation: lockstep_outlier "
              f"({', '.join(sorted(out_keys))} moved far beyond the "
              "median lockstep ratio)")
        for k, va, vb, d in moves:
            if k in out_keys:
                print(f"STREAM {k}: {va/1e3:.1f}k -> {vb/1e3:.1f}k ev/s "
                      f"({d}, outlier)")
                flagged += 1
            else:
                print(f"note   {k}: {va/1e3:.1f}k -> {vb/1e3:.1f}k ev/s "
                      f"({d}, lockstep)")
    elif classification == "engine_suspect":
        movedks = ", ".join(k for k, _, _, _ in moves)
        print(f"CLASS  streaming_degradation: engine_suspect "
              f"({movedks} moved while other legs held)")
        for k, va, vb, d in moves:
            print(f"STREAM {k}: {va/1e3:.1f}k -> {vb/1e3:.1f}k ev/s ({d})")
            flagged += 1
    for k in sorted(set(sa) & set(sb)):
        va, vb = sa[k], sb[k]
        if k.endswith("_insufficient_batches") and vb > 0 >= va:
            print(f"STREAM {k}: became nonzero ({vb})")
            flagged += 1
    for k, vb in sorted(sb.items()):
        if k.endswith("_batch_sec_late"):
            early = sb.get(k.replace("_late", "_early"), 0.0)
            if early > 0 and vb > 2 * early:
                print(f"GROWTH {k}: early {early:.2f} s -> late {vb:.2f} s "
                      "(batch durations growing within the run)")
                flagged += 1

    stale = profile_staleness(profile_path, b)
    if stale:
        print(f"note   {stale}")

    # Degraded headlines never anchor (r17 verdict #5, the other half):
    # when the NEWEST entry is itself degraded, point at the latest
    # quiet total as the number a round-close summary should quote.
    if wqb == "degraded":
        quiet = [h for h in hist if h.get("window_quality") == "quiet"]
        if quiet:
            q = quiet[-1]
            print(f"note   headline: newest entry is DEGRADED "
                  f"({b.get('total_sec')} s); quote the latest quiet "
                  f"record instead: {q.get('wall_start')} total "
                  f"{q.get('total_sec')} s")

    print(f"\n{flagged} flagged"
          + (f", {suppressed} wall moves suppressed by degraded window"
             if suppressed else ""))
    if flagged:
        return 1
    if lockstep_unconfirmed:
        return 3
    if suppressed:
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
