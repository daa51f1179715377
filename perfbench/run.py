#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload presto --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds graft and the benchmark's
JVM program from source with sbt (cached in .bench_build/ by a hash of the
sources), starts one JVM that runs the workload (perfbench/src), checks
the results of one untimed pass against perfbench/refs/, and prints the
metrics as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Context (box witness, tail percentile, failing entries, passes not
run) is printed on the line before. Every event the JVM writes is kept
in .bench_results/<workload>-seed<seed>-trace<t>/events.jsonl, the span
tree of a traced run in spans.jsonl next to it.

--record rewrites perfbench/refs/<workload>.json.gz from this run's
checked pass, after cross-checking every entry that has oracle SQL
against DuckDB on the same parquet.

See perfbench/README.md for the workloads and the metric map.
"""
import argparse
import datetime
import decimal
import gzip
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import lib  # noqa: E402

# A run must end within 180 s, or within 900 s when it builds first.
DEADLINE_S = 170
BUILD_TIMEOUT_S = 700
PASSES = 400

# workload -> (source, tables to Analyze). The source is a parquet
# directory under perfbench/ or a graft_tpch generator schema; the entry
# list is perfbench/entries/<workload>.txt.
WORKLOADS = {
    "tpch": ("graft_tpch:sf0_1", []),
    "presto": ("data/sf0.01", ["orders", "lineitem", "documents"]),
    "llm": ("data/sf0.01", ["documents", "embeddings"]),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)

# ----------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(out_dir):
    """Compile graft and the benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala: run from a graft checkout")
    stamp = source_hash()
    cp_file = os.path.join(out_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip(), False
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log("building with sbt (first run in this checkout)")
    with open(os.path.join(out_dir, "build.log"), "w") as logf:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(p)
            fail("sbt build timed out")
        logf.write(out)
    if p.returncode != 0:
        fail(f"sbt build failed (rc {p.returncode}); see {out_dir}/build.log")
    cps = [l for l in out.splitlines() if "sbt-target" in l and ":" in l]
    if not cps:
        fail("sbt printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip(), True


def stop(p):
    """Kill a process group started with start_new_session and wait."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()

# ------------------------------------------------------------------- run

# Spark 4 on JDK 17 outside spark-submit needs these; graft's own
# build.sbt passes the same list.
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(p)
            return "timeout"
    return None if p.returncode == 0 else f"rc {p.returncode}"


def read_events(path):
    ev = []
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                try:
                    ev.append(json.loads(line))
                except ValueError:
                    pass  # a line cut by a kill
    return ev


def read_result(path):
    with open(path) as fh:
        cols = json.loads(fh.readline())
        return {"columns": cols, "rows": [json.loads(l) for l in fh if l.strip()]}


def refs_path(workload):
    return os.path.join(HERE, "refs", f"{workload}.json.gz")


def check(ev, work, workload):
    """Compare each checked result with its reference: name -> reason."""
    with gzip.open(refs_path(workload), "rt") as fh:
        refs = json.load(fh)
    bad = {}
    for e in ev:
        if e["ev"] != "check":
            continue
        name = e["entry"]
        if not e["ok"]:
            bad[name] = e.get("error", "failed")
        elif name not in refs:
            bad[name] = "no reference"
        else:
            why = lib.compare(read_result(os.path.join(work, "checks", f"{name}.json")), refs[name])
            if why:
                bad[name] = why
    return bad


def record(ev, work, workload, data):
    """Write the references from this run's checked pass, cross-checking
    the entries with oracle SQL against DuckDB first."""
    import duckdb
    results = {e["entry"]: read_result(os.path.join(work, "checks", f"{e['entry']}.json"))
               for e in ev if e["ev"] == "check" and e["ok"]}
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    src = data or os.path.join(work, "export")
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{src}/{f}/*.parquet')" if os.path.isdir(os.path.join(src, f))
                        else f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{src}/{f}'")
    cross = {}
    for name in sorted(results):
        if name not in oracle:
            cross[name] = "no oracle SQL"
            continue
        try:
            cur = con.execute(oracle[name])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        except Exception as ex:  # noqa: BLE001 - reported per entry
            cross[name] = f"duckdb error: {str(ex)[:200]}"
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        duck = {"columns": [cols[i] for i in order],
                "rows": [[plain(r[i]) for i in order] for r in rows]}
        cross[name] = lib.compare(results[name], duck) or "pass"
    os.makedirs(os.path.dirname(refs_path(workload)), exist_ok=True)
    with gzip.open(refs_path(workload), "wt") as fh:
        json.dump(results, fh, sort_keys=True, separators=(",", ":"))
    with open(os.path.join(HERE, "refs", f"{workload}.crosscheck.json"), "w") as fh:
        json.dump(cross, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"recorded {len(results)} references; cross-check: "
        + json.dumps({k: v for k, v in cross.items() if v != "pass"}))


def plain(v):
    """A DuckDB value in the form the JVM writes results in."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    if isinstance(v, dict):
        return [plain(x) for x in v.values()]
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)
    return v


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    source, analyze = WORKLOADS[a.workload]
    data = None if source.startswith("graft_tpch:") else os.path.join(HERE, source)
    if data and not os.path.isdir(data):
        fail(f"missing input data {data}")

    cp, built = build(os.path.join(ROOT, ".bench_build"))
    deadline = (time.time() if built else t_start) + DEADLINE_S

    res_dir = os.path.join(ROOT, ".bench_results", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(res_dir, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(res_dir)
    os.makedirs(work)
    try:
        entries = workload_entries(a.workload)
        orders_file = os.path.join(work, "orders.txt")
        with open(orders_file, "w") as fh:
            for order in lib.pass_orders(entries, a.workload, a.seed, PASSES):
                fh.write(" ".join(order) + "\n")
        events = os.path.join(res_dir, "events.jsonl")
        problem = run_jvm(cp, ["--workload", a.workload, "--orders", orders_file,
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--source", data or source, "--work", work, "--events", events,
                               "--analyze", ",".join(analyze),
                               "--mode", "record" if a.record else "bench"], work, deadline)
        ev = read_events(events)
        if a.record:
            record(ev, work, a.workload, data)
        return report(a, ev, work, problem, res_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def workload_entries(name):
    """The fixed entry list of a workload; `#` starts a comment line."""
    with open(os.path.join(HERE, "entries", f"{name}.txt")) as fh:
        return [l.strip() for l in fh if l.strip() and not l.startswith("#")]


def report(a, ev, work, problem, res_dir):
    kinds = {e["ev"] for e in ev}
    if not {"warm", "window", "heap"} <= kinds:
        tailj = json.dumps(ev[-1]) if ev else "no events"
        log(f"run did not finish its timed window ({problem}); last event: {tailj}")
        log(f"JVM log: {res_dir}/jvm.log")
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(res_dir, "jvm.log"))
        return 1
    bad = check(ev, work, a.workload) if os.path.exists(refs_path(a.workload)) else {"*": "no references"}
    execs = [e for e in ev if e["ev"] == "exec"]
    checks = [e for e in ev if e["ev"] == "check"]
    failed_execs = [e for e in execs if not e["ok"]]
    attempted = len(execs) + len(checks)
    failed = len(failed_execs) + len(bad)
    boxes = {e["when"]: e for e in ev if e["ev"] == "box"}
    context = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "failing_entries": dict(sorted(bad.items())) | {
            f"{e['entry']}@pass{e['pass']}": e.get("error") for e in failed_execs},
        "not_run": [e for e in ev if e["ev"] == "skip"] + ([{"reason": problem}] if problem else []),
        "box": {w: {"probe_ms": b["probe_ms"], "loadavg": b["loadavg"]} for w, b in boxes.items()},
    }
    if "start" in boxes and "end" in boxes:
        context["box"]["steal_pct"] = lib.steal_pct(boxes["start"]["cpu_jiffies"], boxes["end"]["cpu_jiffies"])
        context["box"]["parallelism"] = boxes["start"]["parallelism"]
    if a.trace == 0:
        metrics, extra = lib.end_to_end(ev, failed, attempted)
        context.update(extra)
    else:
        rows = {e["entry"]: e["rows"] for e in checks if e["ok"]}
        metrics, sp, extra = lib.per_layer(ev, rows)
        context.update(extra)
        with open(os.path.join(res_dir, "spans.jsonl"), "w") as fh:
            for s in sp:
                fh.write(json.dumps(s) + "\n")
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0 and problem is None, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
