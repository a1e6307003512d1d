"""Seeded inputs, plain-Python reference results and latency bookkeeping for
the two streaming workloads.

Job A (`media`) reads `log_track` JSON lines; its result is a count per
(30 s window end, appid, type). Job B (`items`) reads `UserBehavior` CSV
lines; its result is the top 3 items per 1 h window sliding by 5 min. Both
jobs run with a 0 s watermark delay. Every file is one micro-batch
(`maxFilesPerTrigger=1`), so the references replay the watermarks file by
file: batch k closes windows up to the largest event time of the files
before k, and drops as late the events behind the watermark of batch k-1
(Spark's watermark for late events). The generator puts injected late
events behind both.
"""
import bisect
import itertools
import json
import random
from collections import Counter, defaultdict

BASE_S = 1_600_000_000 // 3600 * 3600  # hour-aligned epoch seconds
MEDIA_WINDOW_MS = 30_000
ITEMS_SIZE_S, ITEMS_SLIDE_S, ITEMS_TOP = 3600, 300, 3
BEHAVIORS = ("pv", "cart", "fav", "buy")


def _zipf(rng, n, s):
    cum = list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))
    total = cum[-1]
    return lambda: bisect.bisect_left(cum, rng.random() * total)


def _disordered(rng, times, disorder):
    """Times in arrival order: sorted, then each delayed by up to `disorder`."""
    return sorted(times, key=lambda t: t + rng.randrange(disorder + 1))


def _scatter(rng, n_kept, n):
    """Line order: indices below `n_kept` in order, the rest inserted at
    random positions."""
    order = list(range(n_kept))
    for k in range(n_kept, n):
        order.insert(rng.randrange(len(order) + 1), k)
    return order


class Phase:
    """One directory of input files: per file, its lines and the valid
    events they carry (the malformed lines carry none)."""

    def __init__(self):
        self.lines = []   # per file: list[str]
        self.events = []  # per file: list[tuple]; tuple[0] is event time
        self.injected_late = 0
        self.malformed = 0


# -- Job A: log_track JSON -------------------------------------------------

def media_phase(seed, name, p, n_files, late=False):
    """`n_files` files of `rows_per_file` lines each. Event time (log_time,
    ms) ascends across files, each file covering `file_span_ms`; inside a
    file it is disordered by up to `disorder_s`. With `late`, files from the
    third on carry `late_per_file` events `late_lag_s` behind the watermark
    their batch runs under."""
    rng = random.Random(f"media:{seed}:{name}")
    app = _zipf(rng, p["appids"], p["zipf_s"])
    span = p["file_span_ms"]
    ph, wm = Phase(), None
    for i in range(n_files):
        lo = BASE_S * 1000 + i * span
        n_late = p["late_per_file"] if late and i >= 2 else 0
        n_bad = sum(rng.random() < p["malformed_ratio"] for _ in range(p["rows_per_file"]))
        times = _disordered(rng, [lo + rng.randrange(span)
                                  for _ in range(p["rows_per_file"] - n_late - n_bad)],
                            p["disorder_s"] * 1000)
        events = [(t, f"app{app():05d}", rng.randrange(p["types"])) for t in times]
        events += [(wm - p["late_lag_s"] * 1000 - rng.randrange(1000),
                    f"app{app():05d}", rng.randrange(p["types"])) for _ in range(n_late)]
        lines = [_media_line(rng, *e) for e in events]
        for _ in range(n_bad):
            lines.append(_media_bad(rng, lo))
        # late and malformed lines go to random positions; on-time lines
        # keep their (disordered) arrival order
        order = _scatter(rng, len(events) - n_late, len(lines))
        ph.lines.append([lines[k] for k in order])
        ph.events.append([events[k] for k in order if k < len(events)])
        ph.injected_late += n_late
        ph.malformed += n_bad
        wm = max(t for t, _, _ in ph.events[-1])
    return ph


def _media_line(rng, t, appid, typ):
    rec = {"appid": appid, "event_type": typ, "timestamp": t // 1000 - rng.randrange(5)}
    if rng.random() < 0.9:
        rec["event_time"] = t // 1000 - rng.randrange(3)
    rec["log_time"] = t
    rec["brand"] = rng.choice(("Honor", "Mi", "Oppo", "Vivo"))
    rec["lat"] = round(rng.uniform(20, 45), 6)
    return json.dumps(rec, separators=(",", ":"))


def _media_bad(rng, lo):
    good = _media_line(rng, lo, "app00000", 0)
    kind = rng.randrange(4)
    if kind == 0:
        return good[: len(good) // 2]                      # truncated JSON
    rec = json.loads(good)
    if kind == 1:
        del rec["log_time"]                                # missing event time
    elif kind == 2:
        rec["event_type"] = "click"                        # wrong type
    else:
        rec["appid"] = None                                # null key
    return json.dumps(rec)


def media_parse(line):
    """The job's parse rule in plain Python: None for a line it drops."""
    try:
        rec = json.loads(line)
    except ValueError:
        return None
    if not isinstance(rec, dict):
        return None
    ok = (isinstance(rec.get("appid"), str) and _is_int(rec.get("event_type"))
          and _is_int(rec.get("timestamp")) and _is_int(rec.get("log_time")))
    return (rec["log_time"], rec["appid"], rec["event_type"]) if ok else None


def _is_int(v):
    return isinstance(v, int) and not isinstance(v, bool)


def media_window_end(t):
    return (t // MEDIA_WINDOW_MS + 1) * MEDIA_WINDOW_MS


def media_reference(files):
    """Replay the watermarks file by file. Returns (expected rows
    {(window_end, appid, type): count} for the windows the final watermark
    closes, number of late events, final watermark)."""
    counts, late, wm_late, wm = Counter(), 0, None, None
    for events in files:
        for t, appid, typ in events:
            end = media_window_end(t)
            if wm_late is not None and end <= wm_late:
                late += 1
            else:
                counts[(end, appid, typ)] += 1
        if events:
            wm_late, wm = wm, max(wm or 0, max(e[0] for e in events))
    return {k: v for k, v in counts.items() if k[0] <= wm}, late, wm


def media_window_ends(events):
    return {media_window_end(e[0]) for e in events}


# -- Job B: UserBehavior CSV -----------------------------------------------

def items_phase(seed, name, p, n_files, late=False):
    """Like `media_phase`; event time is epoch seconds, ~`pv_ratio` of the
    lines are page views and items are Zipf-distributed."""
    rng = random.Random(f"items:{seed}:{name}")
    item = _zipf(rng, p["items"], p["zipf_s"])
    span = p["file_span_s"]
    ph, wm = Phase(), None
    for i in range(n_files):
        lo = BASE_S + i * span
        n_late = p["late_per_file"] if late and i >= 2 else 0
        n_bad = sum(rng.random() < p["malformed_ratio"] for _ in range(p["rows_per_file"]))
        times = _disordered(rng, [lo + rng.randrange(span)
                                  for _ in range(p["rows_per_file"] - n_late - n_bad)],
                            p["disorder_s"])
        events = [(t, item() + 1, _behavior(rng, p["pv_ratio"]), rng.randrange(p["users"]))
                  for t in times]
        events += [(wm - p["late_lag_s"] - rng.randrange(60), item() + 1, "pv",
                    rng.randrange(p["users"])) for _ in range(n_late)]
        lines = [f"{u}, {it}, {it % 997}, {b}, {t}" for t, it, b, u in events]
        for _ in range(n_bad):
            lines.append(rng.choice((f"{lo},1,2,pv", f"x,1,2,pv,{lo}", f"1,{lo}x,2,pv,{lo}", "")))
        order = _scatter(rng, len(events) - n_late, len(lines))
        ph.lines.append([lines[k] for k in order])
        ph.events.append([events[k][:3] for k in order if k < len(events)])
        ph.injected_late += n_late
        ph.malformed += n_bad
        pv = [e[0] for e in ph.events[-1] if e[2] == "pv"]
        wm = max([wm or 0] + pv)
    return ph


def _behavior(rng, pv_ratio):
    return "pv" if rng.random() < pv_ratio else rng.choice(BEHAVIORS[1:])


def items_parse(line):
    """The job's parse rule in plain Python: None for a line it drops."""
    f = [x.strip() for x in line.split(",")]
    if len(f) < 5:
        return None
    try:
        int(f[0]), int(f[2])
        return int(f[4]), int(f[1]), f[3]
    except ValueError:
        return None


def items_window_ends(t):
    """Exclusive ends (epoch s) of the sliding windows holding second t."""
    first = (t // ITEMS_SLIDE_S + 1) * ITEMS_SLIDE_S
    return [first + g * ITEMS_SLIDE_S for g in range(ITEMS_SIZE_S // ITEMS_SLIDE_S)]


def items_reference(files):
    """Replay the watermarks (ms, page views only) file by file. Returns
    ({window_end_ms: [(rank, item, count)]} for the windows the final
    watermark fires, number of late page views, final watermark ms)."""
    per_window, late, wm_late, wm = defaultdict(Counter), 0, None, None
    for events in files:
        pv = [e for e in events if e[2] == "pv"]
        for t, item, _ in pv:
            if wm_late is not None and t * 1000 <= wm_late:
                late += 1
                continue
            for end in items_window_ends(t):
                per_window[end * 1000][item] += 1
        if pv:
            wm_late, wm = wm, max(wm or 0, max(e[0] for e in pv) * 1000)
    top = {}
    for end, c in per_window.items():
        # the timer is set at window end + 1 ms and fires once the
        # watermark passes it
        if end + 1 < wm:
            ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:ITEMS_TOP]
            top[end] = [(r + 1, item, n) for r, (item, n) in enumerate(ranked)]
    return top, late, wm


def items_file_window_ends(events):
    return {end * 1000 for t, _, b in events if b == "pv" for end in items_window_ends(t)}


# -- latency bookkeeping ----------------------------------------------------

def window_latencies(due_ms, file_ends, emitted):
    """Latency of each emitted window end, in ms: from when the last file
    holding one of its events was due to when the sink call that emitted it
    returned. `due_ms[i]` is None for a file that was not on the schedule
    (the prime file); windows whose last file is such a file are skipped.
    `emitted` maps window end -> sink return time (epoch ms)."""
    last_due = {}
    for due, ends in zip(due_ms, file_ends):
        for e in ends:
            last_due[e] = due
    return sorted(emitted[e] - last_due[e] for e in emitted
                  if last_due.get(e) is not None)


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    x = (len(v) - 1) * q / 100.0
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)
