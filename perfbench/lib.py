"""Pure logic of the benchmark: pass orders, latency statistics, span
self times, result comparison and metric derivation. No process, file
or Spark handling lives here, so tests/test_lib.py covers all of it.
"""
import json
import math
import random
import statistics

# ---------------------------------------------------------------- orders

def pass_orders(entries, workload, seed, passes):
    """Entry order of each pass. Pass 0, the untimed checked pass, is
    part of the set-up and runs in list order whatever the seed; every
    timed pass is its own permutation of the list, and the same
    (workload, seed) always gives the same permutations."""
    out = [list(entries)]
    for p in range(1, passes):
        order = list(entries)
        random.Random(f"{workload}:{seed}:{p}").shuffle(order)
        out.append(order)
    return out

# ------------------------------------------------------------ statistics

def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    the (beyond+1)-th largest value. Returns (value, percentile, samples
    above), the percentile being the share of samples at or below the
    value. With `beyond` or fewer samples no percentile qualifies, and
    the maximum is returned with percentile 100 and 0 samples above."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, 0
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, beyond


def geomean(values):
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def per_entry_geomean(samples):
    """Geometric mean over entries of each entry's median latency, so
    every entry weighs the same however long it runs."""
    by = {}
    for entry, ms in samples:
        by.setdefault(entry, []).append(ms)
    return geomean([statistics.median(v) for v in by.values()])


def steal_pct(j0, j1):
    """Steal share of all CPU time between two /proc/stat `cpu` lines
    (user nice system idle iowait irq softirq steal)."""
    if len(j0) < 8 or len(j1) < 8:
        return None
    d = [b - a for a, b in zip(j0, j1)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 else 0.0

# ----------------------------------------------------------------- spans

PHASES = ("sql.parse", "plans.analyze", "plans.optimize", "plans.physical")


def merge(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered(intervals):
    return sum(e - s for s, e in merge(intervals))


def spans(trace):
    """Span tree of one traced query with exclusive self times.

    The query's wall interval is cut at every span boundary. Each piece
    goes to exactly one span: a planning phase when one is open (jobs
    that start while planning are the phase's work); otherwise the
    lowest-numbered stage with a task running; otherwise the earliest
    running job (scheduling with no task running); otherwise `exec` when
    between its first job and its last (re-planning between stages);
    otherwise the query itself. Self times therefore add up to the wall
    time.
    """
    t0, t1 = trace["t0"], trace["t1"]
    clip = lambda s, e: (max(s, t0), min(e, t1))
    phases = [(n,) + clip(s, e) for n, s, e in trace["phases"]]
    phases = [p for p in phases if p[2] > p[1]]
    jobs = [(j[0],) + clip(j[1], j[2]) for j in trace["jobs"]]
    job_of_stage = {st: j[0] for j in trace["jobs"] for st in (j[3] if len(j) > 3 else [])}
    stage_iv = {}
    for t in trace["tasks"]:
        s, e = clip(t[1], t[2])
        if e > s:
            stage_iv.setdefault(t[0], []).append((s, e))
    # the exec span: first job or task start to last end
    starts = [s for _, s, _ in jobs] + [s for iv in stage_iv.values() for s, _ in iv]
    ends = [e for _, _, e in jobs] + [e for iv in stage_iv.values() for _, e in iv]
    ex0, ex1 = (min(starts), max(ends)) if starts else (t1, t1)
    cuts = sorted({t0, t1, ex0, ex1} | {x for p in phases for x in p[1:]}
                  | {x for j in jobs for x in j[1:]}
                  | {x for iv in stage_iv.values() for s, e in iv for x in (s, e)})
    self_ms = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        open_ph = [p for p in phases if p[1] <= mid < p[2]]
        if open_ph:
            key = max(open_ph, key=lambda p: p[1])[0]
        else:
            running = sorted(st for st, iv in stage_iv.items() if any(s <= mid < e for s, e in iv))
            if running:
                key = f"stage:{running[0]}"
            else:
                js = sorted((s, j) for j, s, e in jobs if s <= mid < e)
                key = f"job:{js[0][1]}" if js else "exec" if ex0 <= mid < ex1 else "query"
        self_ms[key] = self_ms.get(key, 0) + (b - a)
    out = [{"span": "query", "parent": None, "start": t0, "end": t1}]
    for name in PHASES:
        iv = [(s, e) for n, s, e in phases if n == name]
        if iv:
            out.append({"span": name, "parent": "query", "start": min(s for s, _ in iv),
                        "end": max(e for _, e in iv)})
    if starts:
        out.append({"span": "exec", "parent": "query", "start": ex0, "end": ex1})
        for j, s, e in jobs:
            out.append({"span": f"job:{j}", "parent": "exec", "start": s, "end": e})
        for st, iv in sorted(stage_iv.items()):
            parent = f"job:{job_of_stage[st]}" if st in job_of_stage else "exec"
            out.append({"span": f"stage:{st}", "parent": parent,
                        "start": min(s for s, _ in iv), "end": max(e for _, e in iv)})
    for sp in out:
        sp["self_ms"] = self_ms.pop(sp["span"], 0)
    assert not self_ms, self_ms  # every attributed piece has a span
    return out

# --------------------------------------------------------------- compare

def _key(v):
    """Sort key for one value: type rank first, so None, numbers and
    strings never compare with each other; floats rounded so a drift in
    the last digits does not reorder rows."""
    if v is None:
        return (0, 0)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (1, float(f"{v:.9g}"))
    if isinstance(v, str):
        return (2, v)
    return (3, json.dumps(v, sort_keys=True, default=str))


def _same(a, b, tol):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y, tol) for x, y in zip(a, b))
    return a == b


def compare(got, ref, tol=1e-9):
    """Compare two results given as {"columns": [...], "rows": [[...]]},
    columns already sorted by name. Rows are sorted, values compared
    with rtol = atol = `tol`. Returns None when equal, else a reason."""
    if got["columns"] != ref["columns"]:
        return f"columns {got['columns']} != {ref['columns']}"
    if len(got["rows"]) != len(ref["rows"]):
        return f"rows {len(got['rows'])} != {len(ref['rows'])}"
    g = sorted(got["rows"], key=lambda r: [_key(v) for v in r])
    r = sorted(ref["rows"], key=lambda r: [_key(v) for v in r])
    for i, (x, y) in enumerate(zip(g, r)):
        if not _same(x, y, tol):
            return f"row {i}: {json.dumps(x)[:200]} != {json.dumps(y)[:200]}"
    return None

# --------------------------------------------------------------- metrics

def end_to_end(ev, failed, attempted):
    """End-to-end metrics from the events of an untraced run."""
    timed = [e for e in ev if e["ev"] == "exec" and e["phase"] == "timed"]
    win = [e for e in ev if e["ev"] == "window" and e["phase"] == "timed"][-1]  # running totals
    ms = [e["ms"] for e in timed]
    tail_ms, pct, above = tail(ms)
    return {
        "setup_s": (setup_ms(ev) / 1000.0, "s"),
        "qps": (len(timed) / (win["wall_ms"] / 1000.0), "1/s"),
        "latency_p50_ms": (statistics.median(ms), "ms"),
        "latency_tail_ms": (tail_ms, "ms"),
        "latency_geomean_ms": (per_entry_geomean([(e["entry"], e["ms"]) for e in timed]), "ms"),
        "cpu_ms_per_query": (win["cpu_ms"] / len(timed), "ms"),
        "heap_retained_mb": (next(e["used_mb"] for e in ev if e["ev"] == "heap"), "MB"),
        "success_rate": (1.0 - failed / attempted, "ratio"),
    }, {"tail_percentile": pct, "tail_samples_above": above, "timed_samples": len(ms)}


def setup_ms(ev):
    """JVM start to the first timed query: boot, the one (cold) session
    start and Analyze, and the warm-up passes. The `warm` event closes
    the set-up; only the box probe runs between it and the first timed
    query, and the probe is the witness, not set-up."""
    return float(next(e["at_ms"] for e in ev if e["ev"] == "warm"))


def layer_shares(spans_):
    """Share of the traced queries' wall time, in percent, that each
    layer's spans take as self time: `query` is driver-side work outside
    every other span (building the DataFrame, analysing its intermediate
    Datasets), `exec` takes the exec, job and stage spans."""
    tot = {}
    for s in spans_:
        layer = s["span"].split(":")[0]
        layer = "exec" if layer in ("job", "stage") else layer.split(".")[0]
        tot[layer] = tot.get(layer, 0) + s["self_ms"]
    wall = sum(tot.values())
    return {k: round(100.0 * v / wall, 1) for k, v in sorted(tot.items())} if wall else {}


def pass_qps(ev):
    """qps of every single pass, per phase, from the running totals the
    window events carry after each pass."""
    out, last = {}, {}
    for e in ev:
        if e["ev"] != "window":
            continue
        w0, x0 = last.get(e["phase"], (0.0, 0))
        if e["wall_ms"] > w0:
            out.setdefault(e["phase"], []).append((e["execs"] - x0) / ((e["wall_ms"] - w0) / 1000.0))
        last[e["phase"]] = (e["wall_ms"], e["execs"])
    return out


def per_layer(ev, result_rows):
    """Per-layer metrics of a traced run (means per traced query unless
    the name says otherwise), the span tree of every traced query, and
    context. `result_rows` maps entry -> checked row count."""
    traces = [e for e in ev if e["ev"] == "trace"]
    nq = len(traces)
    tot = {}

    def add(k, v):
        tot[k] = tot.get(k, 0.0) + v

    all_spans, gap, skews, rows_out = [], 0, [], 0
    for t in traces:
        for name in PHASES:
            add(name, sum(e - s for n, s, e in t["phases"] if n == name))
        add("statements", t["statements"])
        add("rules_ms", t["rules"][0]); add("rules_total", t["rules"][1]); add("rules_eff", t["rules"][2])
        add("planning_jobs", sum(1 for j in t["jobs"]
                                 if any(ps <= j[1] < pe for _, ps, pe in t["phases"])))
        add("jobs", len(t["jobs"]))
        stages = {}
        for row in t["tasks"]:
            stages.setdefault(row[0], []).append(row)
        add("stages", len(stages))
        add("tasks", len(t["tasks"]))
        busy = [(r[1], r[2]) for r in t["tasks"]]
        add("idle", covered([(j[1], j[2]) for j in t["jobs"]] + busy) - covered(busy))
        for i, k in ((3, "run"), (4, "cpu"), (5, "gc"), (6, "shw"), (7, "shr"), (8, "fetch"),
                     (9, "spill"), (10, "in_bytes")):
            add(k, sum(r[i] for r in t["tasks"]))
        skews.append(max([max(r[3] for r in rs) / max(statistics.median(r[3] for r in rs), 1)
                          for rs in stages.values() if len(rs) > 1] or [1.0]))
        add("scan_rows", t["scan"][0]); add("scan_ms", t["scan"][1])
        rows_out += result_rows.get(t["entry"], 0)
        sp = spans(t)
        gap = max(gap, abs(sum(s["self_ms"] for s in sp) - (t["t1"] - t["t0"])))
        for s in sp:
            s.update(phase=t["phase"], entry=t["entry"], **{"pass": t["pass"]})
        all_spans.extend(sp)
    per = lambda k: tot.get(k, 0.0) / max(nq, 1)
    m = {
        "sql.parse_ms": (per("sql.parse"), "ms"),
        "sql.statements": (per("statements"), "count"),
        "plans.analyze_ms": (per("plans.analyze"), "ms"),
        "plans.optimize_ms": (per("plans.optimize"), "ms"),
        "plans.physical_ms": (per("plans.physical"), "ms"),
        "plans.graft_rules_ms": (per("rules_ms"), "ms"),
        "plans.graft_rules_effective_ratio": (tot.get("rules_eff", 0) / max(tot.get("rules_total", 0), 1), "ratio"),
        "plans.planning_jobs": (per("planning_jobs"), "count"),
        "exec.jobs": (per("jobs"), "count"),
        "exec.stages": (per("stages"), "count"),
        "exec.tasks": (per("tasks"), "count"),
        "exec.idle_ms": (per("idle"), "ms"),
        "exec.task_cpu_ms": (per("cpu"), "ms"),
        "exec.task_run_ms": (per("run"), "ms"),
        "exec.gc_ms": (per("gc"), "ms"),
        "exec.stage_skew": (statistics.mean(skews) if skews else 1.0, "ratio"),
        "exec.shuffle_write_bytes": (per("shw"), "bytes"),
        "exec.shuffle_read_bytes": (per("shr"), "bytes"),
        "exec.shuffle_fetch_wait_ms": (per("fetch"), "ms"),
        "exec.spill_bytes": (per("spill"), "bytes"),
        "sources.rows_read": (per("scan_rows"), "count"),
        "sources.bytes_read": (per("in_bytes"), "bytes"),
        "sources.scan_ms": (per("scan_ms"), "ms"),
        "sources.rows_read_per_result_row": (tot.get("scan_rows", 0) / max(rows_out, 1), "ratio"),
        "trace.queries": (float(nq), "count"),
        "trace.self_time_gap_ms": (float(gap), "ms"),
    }
    setup = next(e for e in ev if e["ev"] == "setup")
    m["setup.session_ms"] = (setup["session_ms"], "ms")
    m["setup.analyze_ms"] = (setup["analyze_ms"], "ms")
    m["setup.warm_ms"] = (next(e["ms"] for e in ev if e["ev"] == "warm"), "ms")
    # the listeners' cost: qps lost in the passes with them on (the
    # window events carry running totals; the last of each phase wins).
    # It is only a measurement where it is larger than the spread between
    # passes of one phase, so the context carries that spread.
    qps = {e["phase"]: e["execs"] / (e["wall_ms"] / 1000.0) for e in ev if e["ev"] == "window"}
    m["trace.overhead_pct"] = (100.0 * (qps["untraced"] - qps["traced"]) / qps["untraced"], "%")
    per_pass = pass_qps(ev)
    return m, all_spans, {
        "overhead": {ph: {"qps": qps[ph], "passes": len(per_pass.get(ph, [])),
                          "pass_spread_pct": 100.0 * (max(v) - min(v)) / statistics.median(v)
                          if (v := per_pass.get(ph)) else None}
                     for ph in ("untraced", "traced")},
        "wall_share_pct": layer_shares(all_spans)}
