"""Turns the JVM's raw measurements into the run's record: correctness
against the references, the end-to-end metrics (from untimed-trace phases)
and the per-layer metrics (from the traced phases).

Every metric is defined for every workload, so each run prints the same
names. "One pass" is the workload's fixed input processed once: the drain
backlog for a streaming workload, one run of every query for the batch mix.
"""
import csv
import datetime
import os
import statistics
from collections import Counter, defaultdict

import gen

# name -> unit; the order is the order printed
END_TO_END = {"total_s": "s", "latency_p50_ms": "ms", "setup_s": "s"}
PER_LAYER = {
    "sources.open_ms": "ms", "sources.open_jobs": "count",
    "entry.build_ms": "ms", "entry.build_jobs": "count", "entry.build_share": "ratio",
    "plan.ms": "ms",
    "dispatch.jobs": "count", "dispatch.stages": "count", "dispatch.tasks": "count",
    "dispatch.gap_ms": "ms", "dispatch.floor_ms": "ms",
    "exec.ms": "ms", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.busy_ratio": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "scan.input_bytes": "bytes", "scan.input_rows": "count",
    "sink.call_ms": "ms",
    "state.rows_total": "count", "state.rows_updated": "count",
    "state.mem_bytes": "bytes", "state.late_rows_dropped": "count",
    "stream.batches": "count", "stream.rows_per_batch": "count",
    "gen.rows": "count",
    "scale.total_s_1core": "s", "scale.parallel_efficiency": "ratio",
    "trace.overhead_ratio": "ratio",
}
MIN_LATENCY_SAMPLES = 100
TALLY_KEYS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
              "fetch_wait_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "input_bytes", "input_rows", "busy_ms")


class Checks:
    def __init__(self):
        self.attempted = self.failed = 0
        self.problems = []

    def op(self, ok, problem=None):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(problem)

    def invalid(self, problem):
        self.problems.append(problem)


def _sum_tallies(tallies, groups):
    tot = Counter()
    for g in groups:
        for k in TALLY_KEYS:
            tot[k] += tallies.get(g, {}).get(k, 0)
    return tot


def _layer_common(t, exec_wall_ms, cores):
    """Per-layer numbers every workload computes the same way from a sum of
    listener tallies over one pass."""
    return {
        "dispatch.jobs": t["jobs"], "dispatch.stages": t["stages"],
        "dispatch.tasks": t["tasks"],
        "exec.task_run_ms": t["task_run_ms"], "exec.task_cpu_ms": t["task_cpu_ms"],
        "exec.gc_ms": t["gc_ms"],
        "exec.busy_ratio": t["task_run_ms"] / (exec_wall_ms * cores),
        "shuffle.write_bytes": t["shuffle_write_bytes"],
        "shuffle.read_bytes": t["shuffle_read_bytes"],
        "shuffle.fetch_wait_ms": t["fetch_wait_ms"], "spill.bytes": t["spill_bytes"],
        "scan.input_bytes": t["input_bytes"], "scan.input_rows": t["input_rows"],
    }


def self_times(spans):
    """Each span's duration minus the part of it its children cover, summed
    per span name."""
    kids = defaultdict(list)
    for s in spans:
        if s.get("parent", -1) >= 0:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = Counter()
    for s in spans:
        covered, end = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, end), min(b, s["end"])
            if b > a:
                covered += b - a
                end = b
        out[s["name"]] += s["end"] - s["start"] - covered
    return dict(out)


def _finish(rec, checks, e2e, per_layer):
    rec["attempted"], rec["failed"] = checks.attempted, checks.failed
    rec["failed_ratio"] = checks.failed / checks.attempted
    rec["problems"] = checks.problems
    rec["end_to_end"] = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    if per_layer is not None:
        rec["per_layer"] = {k: (per_layer[k], u) for k, u in PER_LAYER.items()}
        rec["per_layer_all"] = per_layer
    return rec


# -- streaming --------------------------------------------------------------

def _ts_ms(iso):
    return datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000


def _data_batches(progress, skip=0):
    return sorted((p for p in progress if p["numInputRows"] > 0),
                  key=lambda p: p["batchId"])[skip:]


def _drain_rate(progress, skip):
    data = _data_batches(progress, skip)
    rows = sum(p["numInputRows"] for p in data)
    ms = sum(p["durationMs"]["triggerExecution"] for p in data)
    return rows / ms * 1000.0, data


def _state(p, key):
    return sum(op.get(key, 0) for op in p.get("stateOperators", []))


def _read_outputs(work):
    rows = defaultdict(list)
    with open(os.path.join(work, "outputs.csv")) as f:
        for r in csv.reader(f):
            if r:
                rows[r[0]].append(r[1:])
    return rows


def _check_media(checks, phase, events, got_rows):
    exp, late, _ = gen.media_reference(events)
    exp_by_end = defaultdict(dict)
    for (end, app, typ), c in exp.items():
        exp_by_end[end][(app, typ)] = c
    got_by_end = defaultdict(list)
    for _, end, app, typ, c in got_rows:
        got_by_end[int(end)].append(((app, int(typ)), int(c)))
    for end in sorted(set(exp_by_end) | set(got_by_end)):
        got = got_by_end.get(end, [])
        ok = len(got) == len(dict(got)) and dict(got) == exp_by_end.get(end, {})
        checks.op(ok, f"{phase}: window ending {end} differs from the reference "
                      f"({len(got)} rows, expected {len(exp_by_end.get(end, {}))})")
    return late


def _check_items(checks, phase, events, got_rows):
    exp, late, _ = gen.items_reference(events)
    got_by_end = defaultdict(list)
    for _, end, rank, item, c in got_rows:
        got_by_end[int(end)].append((int(rank), int(item), int(c)))
    for end in sorted(set(exp) | set(got_by_end)):
        checks.op(sorted(got_by_end.get(end, [])) == exp.get(end, []),
                  f"{phase}: top-3 of window ending {end} is {sorted(got_by_end.get(end, []))}, "
                  f"expected {exp.get(end, [])}")
    return late


def _source(name):
    """The generated phase a JVM phase read: every drain reads the one
    backlog, every set-up the one set-up directory."""
    for prefix in ("setup", "drain"):
        if name.startswith(prefix):
            return prefix
    return name


def stream_record(w, spec, raw, phases, work):
    checks = Checks()
    outputs = _read_outputs(work)
    per_phase = {}
    for name, info in raw["phases"].items():
        gp = phases[_source(name)]
        for _ in _data_batches(info["progress"]):
            checks.op(True)  # a micro-batch that threw would have failed the query
        check = _check_media if w["job"] == "media" else _check_items
        late = check(checks, name, gp.events, outputs.get(name, []))
        dropped = sum(_state(p, "numRowsDroppedByWatermark") for p in info["progress"])
        if gp.injected_late:
            checks.op(late == gp.injected_late and dropped > 0,
                      f"{name}: {gp.injected_late} late events injected, reference finds {late}, "
                      f"state.late_rows_dropped={dropped}")
        per_phase[name] = {"late_reference": late, "late_rows_dropped": dropped,
                           "malformed_lines": gp.malformed}

    rpf = w["input"]["rows_per_file"]
    backlog_rows = w["files"]["drain"] * rpf
    skip = w["drain_skip"]
    rounds = range(1, w["rounds"] + 1)
    # drain: one pass over the backlog per round; the median round counts
    drain_s = {r: backlog_rows / _drain_rate(raw["phases"][f"drain{r}"]["progress"], skip)[0]
               for r in rounds}
    total_s = statistics.median(drain_s.values())

    # live: latency of each window end, timed from its last file's due time,
    # pooled over the rounds
    ends_of = (gen.media_window_ends if w["job"] == "media" else gen.items_file_window_ends)
    lat, round_p50, gen_late, backlog_end, files, live_prog = [], {}, 0.0, 0, 0, []
    for r in rounds:
        name = f"live{r}"
        live = raw["phases"][name]
        sink_end = {b: end for b, _, end in live["sink"]}
        emitted = {}
        for b, end, *_ in outputs.get(name, []):
            e, t = int(end), sink_end[int(b)]
            emitted[e] = min(emitted.get(e, t), t)
        file_ends = [ends_of(ev) for ev in phases[name].events]
        round_lat = gen.window_latencies([None] + live["due"], file_ends, emitted)
        round_p50[r] = gen.percentile(round_lat, 50) if round_lat else None
        lat += round_lat
        gen_late = max([gen_late] + [p - d for p, d in zip(live["published"], live["due"])])
        published_rows = len(live["due"]) * rpf + rpf
        backlog_end = max(backlog_end, published_rows - live["committed_rows_at_last_publish"])
        files += len(live["due"])
        live_prog += live["progress"]
    lat.sort()
    if len(lat) < MIN_LATENCY_SAMPLES:
        checks.invalid(f"live: only {len(lat)} window ends closed (need {MIN_LATENCY_SAMPLES})")
    if gen_late > spec["tick_ms"]:
        checks.invalid(f"live: generator ran {gen_late:.0f} ms behind its schedule")

    e2e = {"total_s": total_s, "latency_p50_ms": gen.percentile(lat, 50),
           "setup_s": statistics.median(raw["setup_ms"]) / 1000.0}
    rec = {"phases": per_phase, "setup_ms": raw["setup_ms"],
           "floor_ms": raw["floor_ms"],
           "trigger_ms": {n: [p["durationMs"]["triggerExecution"] for p in ph["progress"]]
                          for n, ph in raw["phases"].items()},
           "drain": {"rows_per_s": backlog_rows / total_s, "backlog_rows": backlog_rows,
                     "round_s": drain_s, "measured_batches": w["files"]["drain"] - skip,
                     "skipped_batches": skip},
           "live": {"rows_per_s": w["live"]["rows_per_s"], "tick_ms": spec["tick_ms"],
                    "rounds": len(rounds), "files": files, "latency_samples": len(lat),
                    "round_p50_ms": round_p50,
                    "latency_p90_ms": gen.percentile(lat, 90),
                    "latency_ms": lat, "gen.late_ms_max": gen_late,
                    "stream.backlog_rows_end": backlog_end,
                    "stream.source_ms": sum(p["durationMs"].get("latestOffset", 0)
                                            + p["durationMs"].get("getBatch", 0)
                                            for p in live_prog),
                    "stream.log_ms": sum(p["durationMs"].get("walCommit", 0)
                                         + p["durationMs"].get("commitOffsets", 0)
                                         for p in live_prog),
                    "stream.plan_ms": sum(p["durationMs"].get("queryPlanning", 0)
                                          for p in live_prog),
                    "batches": len(live_prog), "data_batches": len(_data_batches(live_prog))}}
    per_layer = None
    if spec["trace"]:
        per_layer = _stream_layers(w, spec, raw, rec, e2e, backlog_rows, skip)
    return _finish(rec, checks, e2e, per_layer)


def _stream_layers(w, spec, raw, rec, e2e, backlog_rows, skip):
    tr = raw["phases"]["drain_traced"]
    rate_t, measured = _drain_rate(tr["progress"], skip)
    rate_1, _ = _drain_rate(raw["phases"]["drain_1core"]["progress"], skip)
    rate_u = rec["drain"]["rows_per_s"]
    rate_after, _ = _drain_rate(raw["phases"]["drain_after"]["progress"], skip)
    ids = {p["batchId"] for p in measured}
    tallies = raw["tallies"]
    t = _sum_tallies(tallies, [f"batch:{b}" for b in ids])
    trig = sum(p["durationMs"]["triggerExecution"] for p in measured)
    busy = sum(tallies.get(f"batch:{b}", {}).get("busy_ms", 0) for b in ids)
    phases = raw["phases"].values()
    build_ms = statistics.median(ph["build_ms"] for ph in phases)
    spans = list(raw["spans"])
    batch_span = {}
    for p in tr["progress"]:
        start = _ts_ms(p["timestamp"])
        batch_span[p["batchId"]] = len(spans)
        spans.append({"id": len(spans), "trace": f"{spec['workload']}-{spec['seed']}",
                      "name": "batch", "parent": -1, "start": start,
                      "end": start + p["durationMs"]["triggerExecution"],
                      "batch": p["batchId"], "durations_ms": p["durationMs"]})
    for s in spans:
        if s["name"] == "sink.call":
            s["parent"] = batch_span.get(s["batch"], -1)
    rec["spans"] = spans
    rec["self_ms"] = self_times(spans)
    rec["tallies"] = tallies
    last = measured[-1]
    layers = _layer_common(t, trig, spec["cores"])
    layers.update({
        "sources.open_ms": statistics.median(ph["open_ms"] for ph in phases),
        "sources.open_jobs": tallies.get("sources", {}).get("jobs", 0),
        "entry.build_ms": build_ms,
        "entry.build_jobs": tallies.get("entry.build", {}).get("jobs", 0),
        "entry.build_share": build_ms / (build_ms + trig),
        "plan.ms": sum(p["durationMs"].get("queryPlanning", 0) for p in measured),
        "dispatch.gap_ms": trig - busy,
        "dispatch.floor_ms": raw["floor_ms"],
        "exec.ms": sum(p["durationMs"].get("addBatch", 0) for p in measured),
        "sink.call_ms": sum(b - a for bid, a, b in tr["sink"] if bid in ids),
        "state.rows_total": _state(last, "numRowsTotal"),
        "state.rows_updated": sum(_state(p, "numRowsUpdated") for p in measured),
        "state.mem_bytes": max(_state(p, "memoryUsedBytes") for p in measured),
        "state.late_rows_dropped": rec["phases"]["drain1"]["late_rows_dropped"],
        "state.update_ms": sum(_state(p, "allUpdatesTimeMs") for p in measured),
        "state.remove_ms": sum(_state(p, "allRemovalsTimeMs") for p in measured),
        "state.commit_ms": sum(_state(p, "commitTimeMs") for p in measured),
        "stream.batches": len(tr["progress"]),
        "stream.rows_per_batch": sum(p["numInputRows"] for p in measured) / len(measured),
        "stream.trigger_ms_p50": statistics.median(
            p["durationMs"]["triggerExecution"] for p in measured),
        "stream.source_ms": rec["live"]["stream.source_ms"],
        "stream.log_ms": rec["live"]["stream.log_ms"],
        "stream.plan_ms": rec["live"]["stream.plan_ms"],
        "stream.backlog_rows_end": rec["live"]["stream.backlog_rows_end"],
        "gen.rows": (rec["live"]["files"] + rec["live"]["rounds"]) * w["input"]["rows_per_file"],
        "gen.late_ms_max": rec["live"]["gen.late_ms_max"],
        "drain.rows_per_s": rec["drain"]["rows_per_s"],
        "drain.rows_per_s_1core": rate_1,
        "scale.total_s_1core": backlog_rows / rate_1,
        "scale.parallel_efficiency": rec["drain"]["rows_per_s"] / (spec["cores"] * rate_1),
        "cache.peak_bytes": raw["cache_peak_bytes"],
        # traced drain time over the mean of the untraced drains around it
        "trace.overhead_ratio": (1 / rate_t) / ((1 / rate_u + 1 / rate_after) / 2),
    })
    return layers


# -- batch ------------------------------------------------------------------

def _per_query(samples, key):
    by_q = defaultdict(list)
    for s in samples:
        if not s["error"]:
            by_q[s["query"]].append(s[key])
    return {q: statistics.median(v) for q, v in by_q.items()}


def batch_record(w, spec, raw, oracle):
    checks = Checks()
    for q, why in sorted(oracle.items()):
        checks.op(why is None, f"{q}: {why}")
    for s in raw["samples"]:
        checks.op(not s["error"], f"{s['query']} pass {s['pass']}: {s['error']}")
    wall = _per_query(raw["samples"], "wall_ms")
    if len(wall) < len(w["queries"]):
        checks.invalid(f"{len(w['queries']) - len(wall)} queries never completed")
    med = sorted(wall.values())
    e2e = {"total_s": sum(med) / 1000.0, "latency_p50_ms": gen.percentile(med, 50),
           "setup_s": statistics.median(raw["setup_ms"]) / 1000.0}
    runs = defaultdict(list)
    for s in raw["samples"]:
        runs[s["query"]].append(s["wall_ms"])
    rec = {"setup_ms": raw["setup_ms"], "query_ms": wall, "runs_ms": runs,
           "floor_ms": raw["floor_ms"],
           "latency_p90_ms": gen.percentile(med, 90),
           "query_p50_s": gen.percentile(med, 50) / 1000.0,
           "passes": max(s["pass"] for s in raw["samples"]),
           "oracle": oracle}
    per_layer = None
    if spec["trace"]:
        per_layer = _batch_layers(w, spec, raw, rec, e2e)
    return _finish(rec, checks, e2e, per_layer)


def _batch_layers(w, spec, raw, rec, e2e):
    tr = [s for s in raw["traced_samples"] if s["traced"]]
    untraced = [s for s in raw["traced_samples"] if not s["traced"]]
    passes = max(s["pass"] for s in tr)
    tallies = raw["tallies"]
    names = w["queries"]

    def per_pass(phase):
        return {k: v / passes for k, v in
                _sum_tallies(tallies, [f"{q}|{phase}" for q in names]).items()}

    build = sum(_per_query(tr, "entry.build.ms").values())
    plan = sum(_per_query(tr, "plan.ms").values())
    exe = sum(_per_query(tr, "exec.ms").values())
    wall_t = sum(_per_query(tr, "wall_ms").values())
    t = Counter()
    for phase in ("entry.build", "plan", "exec", "release"):
        t.update(per_pass(phase))
    ex = per_pass("exec")
    exec_wall_per_pass = sum(s["exec.ms"] for s in tr if "exec.ms" in s) / passes
    one_core = sum(s["wall_ms"] for s in raw["one_core_samples"]) / 1000.0
    src = _sum_tallies(tallies, [f"sources|{tb}" for tb, _ in raw["sources"]])
    rec["spans"] = raw["spans"]
    rec["self_ms"] = self_times(raw["spans"])
    rec["tallies"] = tallies
    layers = _layer_common(t, exec_wall_per_pass, spec["cores"])
    layers.update({
        "sources.open_ms": sum(ms for _, ms in raw["sources"]),
        "sources.open_jobs": src["jobs"],
        "entry.build_ms": build,
        "entry.build_jobs": per_pass("entry.build")["jobs"],
        "entry.build_share": build / wall_t,
        "plan.ms": plan,
        "dispatch.gap_ms": exec_wall_per_pass - ex["busy_ms"],
        "dispatch.floor_ms": raw["floor_ms"],
        "exec.ms": exe,
        "exec.busy_ratio": ex["task_run_ms"] / (exec_wall_per_pass * spec["cores"]),
        "sink.call_ms": exe,
        "state.rows_total": 0, "state.rows_updated": 0, "state.mem_bytes": 0,
        "state.late_rows_dropped": 0, "stream.batches": 0, "stream.rows_per_batch": 0,
        "gen.rows": 0,
        "cache.peak_bytes": raw["cache_peak_bytes"],
        "scale.total_s_1core": one_core,
        "scale.parallel_efficiency": one_core / (spec["cores"] * e2e["total_s"]),
        "trace.overhead_ratio": wall_t / sum(_per_query(untraced, "wall_ms").values()),
    })
    return layers
