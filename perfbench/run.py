#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, check outputs, report.

Usage (from the repository root):

    python3 perfbench/run.py --workload cold_registry --seed 1 --seconds 10 --trace 0

Workloads: cold_registry, stream_heartbeat (see perfbench/README.md). The last stdout line is one JSON object with the
keys correct, attempted, failed and metrics; the line before it is the
full record of the run (every metric with its unit and sample count).
Exits non-zero without a result line when the build or the run fails.
"""
import argparse
import datetime
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, ".build")
CACHE_DIR = os.path.join(HERE, ".cache")
RESULTS_DIR = os.path.join(HERE, ".results")
RUNS_DIR = os.path.join(HERE, ".runs")

WORKLOADS = {
    # name: scale factor of the generated fixture (None: no fixture)
    "cold_registry": 0.01,
    "stream_heartbeat": None,
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# The module opens Spark needs on JDK 17 outside spark-submit; the same
# list the repository's build passes to forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
MB = 1e6
# Units of the per-layer metrics kept in the record only; the units of
# the metrics BENCHMARK.json lists come from BENCHMARK.json.
RECORD_ONLY_UNITS = {
    "derived.build_s": "s", "plan.optimization_s": "s", "codegen.compile_s": "s",
    "exec.gc_s": "s",
    "stream.get_batch_ms": "ms", "stream.planning_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "state.commit_ms": "ms", "state.update_ms": "ms", "state.removal_ms": "ms",
}
# The fixture generator: its sources key the fixture cache, and
# compare.py refuses two checkouts whose generators differ.
GEN_SOURCES = ["src/main/scala/graft/SfGen.scala"]  # relative to the repository root


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def tree_digest(paths):
    h = hashlib.sha1()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    digest = tree_digest([ENGINE_SRC, os.path.join(HERE, "src"),
                          os.path.join(HERE, "build.sbt"),
                          os.path.join(HERE, "project", "build.properties")])
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return open(cp_file).read().strip(), digest
        log("building engine and harness with sbt")
        # sbt's server socket and file-watcher scratch go under the checkout
        sbt_tmp = os.path.join(BUILD_DIR, "tmp")
        os.makedirs(sbt_tmp, exist_ok=True)
        env = dict(os.environ, SBT_OPTS=" ".join(filter(None, [
            os.environ.get("SBT_OPTS", ""), f"-Djava.io.tmpdir={sbt_tmp}",
            "-Dsbt.server.autostart=false"])))
        if "SPARK_HOME" not in env:
            submit = shutil.which("spark-submit")
            if submit is None:
                raise SystemExit("set SPARK_HOME or put spark-submit on PATH")
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                text=True, timeout=800)
        finally:
            shutil.rmtree(sbt_tmp, ignore_errors=True)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0 or not lines or "[error]" in p.stdout:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            raise SystemExit("build failed")
        with open(cp_file, "w") as f:
            f.write(lines[-1])
        with open(stamp, "w") as f:
            f.write(digest)
        return lines[-1], digest


def heap_gb():
    """Half the physical memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 2


def java(cp, tmpdir, args, timeout):
    """Run the harness JVM in its own process group; kill it on timeout."""
    cmd = ["java", f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"harness exceeded {timeout} s; killing it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


# -------------------------------------------------------------- fixtures

def fixture(cp, sf, threads):
    """Generated once per checkout and generator source (seed-independent)."""
    gen_digest = tree_digest([os.path.join(ROOT, p) for p in GEN_SOURCES])[:12]
    out = os.path.join(CACHE_DIR, f"sf{sf}-{gen_digest}")
    os.makedirs(CACHE_DIR, exist_ok=True)
    with open(os.path.join(CACHE_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "_DONE")):
            return out
        work = out + ".tmp"
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + ".run", ignore_errors=True)
        os.makedirs(work + ".run/tmp")
        log(f"generating sf{sf} fixture")
        try:
            rc = java(cp, work + ".run/tmp", ["gen", work, str(sf), str(threads)], 600)
        finally:
            shutil.rmtree(work + ".run", ignore_errors=True)
        if rc != 0:
            raise SystemExit("fixture generation failed")
        open(os.path.join(work, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(work, out)
        return out


# ---------------------------------------------------------------- checks

def oracle_counts(sf_dir, oracle_sql, run_dir):
    """DuckDB row counts of each query's oracle SQL, cached per fixture."""
    cache_file = os.path.join(sf_dir, "_oracle_counts.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    key = {n: hashlib.sha1(sql.encode()).hexdigest() for n, sql in oracle_sql.items()}
    missing = [n for n in oracle_sql if key[n] not in cache]
    if missing:
        import duckdb
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{run_dir}/duckdb'")
        con.execute("SET memory_limit='2GB'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")
        for n in missing:
            try:
                cache[key[n]] = con.sql(
                    f"SELECT count(*) FROM ({oracle_sql[n]}) AS oracle").fetchone()[0]
            except Exception as e:  # an oracle that cannot run fails the query
                log(f"oracle SQL for {n} failed: {e}")
                cache[key[n]] = None
        con.close()
        with open(cache_file, "w") as f:
            json.dump(cache, f)
    return {n: cache[key[n]] for n in oracle_sql}


def check_queries(rec, sf_dir, run_dir):
    """Mark each execution ok/failed: oracle count equality, else rows > 0."""
    want = oracle_counts(sf_dir, rec["oracle_sql"], run_dir)
    for q in rec["queries"]:
        if not q["ok"]:
            q["verdict"] = "error"
        elif q["name"] in want:
            q["verdict"] = "ok" if want[q["name"]] == q["count"] else \
                f"count {q['count']} != oracle {want[q['name']]}"
        else:
            q["verdict"] = "ok" if q["count"] > 0 else "no rows"
        if q["verdict"] != "ok":
            log(f"check failed: {q['pass']} {q['name']}: {q['verdict']} {q.get('error', '')}")


def check_stream(st):
    """Each micro-batch reads rows_per_batch rows; once the watermark
    (max event time of earlier batches minus 10 min) passes a 5-minute
    window's end, that window is emitted once with one row per key."""
    rows, keys = st["rows_per_batch"], st["keys"]
    window_ms, delay_ms, step_ms = 300000, 600000, 60000
    emitted_until = 0  # windows ending at or before this were emitted
    for b in st["batches"]:
        n = b["batch"]
        wm = max(0, (n - 1) * step_ms - delay_ms)
        closed_until = (wm // window_ms) * window_ms
        new_windows = max(0, closed_until - emitted_until) // window_ms
        emitted_until = max(emitted_until, closed_until)
        expect = new_windows * keys
        problems = []
        if b["input_rows"] != rows:
            problems.append(f"read {b['input_rows']} rows, not {rows}")
        if b["output_rows"] != expect:
            problems.append(f"emitted {b['output_rows']} rows, not {expect}")
        b["verdict"] = "ok" if not problems else "; ".join(problems)
        if problems:
            log(f"check failed: batch {n}: {b['verdict']}")


# --------------------------------------------------------------- metrics

def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def dur(span):
    return span["end_ms"] - span["start_ms"]


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def query_span(q):
    last = q.get("execute") or q.get("plan") or q["build"]
    return {"start_ms": q["build"]["start_ms"], "end_ms": last["end_ms"]}


def end_to_end(rec):
    """Every end-to-end metric that applies to the workload, with unit
    and sample count."""
    out = {"setup_s": {"value": (rec["setup_end_ms"] - rec["jvm_start_ms"]) / 1000,
                       "unit": "s", "n": 1}}
    if rec["workload"] == "stream_heartbeat":
        st = rec["stream"]
        timed = [b for b in st["batches"] if b["batch"] >= st["warmup_batches"]]
        lat = [b["duration_ms"]["triggerExecution"] for b in timed]
        per = st["batches_per_pass"]
        passes = [sum(lat[i:i + per]) / 1000 for i in range(0, len(lat) - per + 1, per)]
        # CPU of a pass: from the end of the batch before it to its last batch
        cpu = {b["batch"]: b["cpu_after_ms"] for b in st["batches"]}
        first = st["warmup_batches"]
        cpu_passes = [(cpu[first + i + per - 1] - cpu[first + i - 1]) / 1000
                      for i in range(0, len(lat) - per + 1, per)]
        rows = sum(b["input_rows"] for b in timed)
        attempted = len(timed)
        failed = sum(b["verdict"] != "ok" for b in timed) + (1 if st["error"] else 0)
        out.update({
            "pass_s": {"value": statistics.median(passes), "unit": "s", "n": len(passes)},
            "batch_p50_ms": {"value": statistics.median(lat), "unit": "ms", "n": len(lat)},
            "batch_p90_ms": {"value": pct(lat, 90), "unit": "ms", "n": len(lat)},
            "rows_per_s": {"value": rows / (sum(lat) / 1000), "unit": "1/s", "n": len(lat)},
        })
        latency = lat
    else:
        qs = rec["queries"]
        lat = [dur(query_span(q)) for q in qs]
        passes = [dur(p) / 1000 for p in rec["passes"]]
        cpu_passes = [(p["cpu_end_ms"] - p["cpu_start_ms"]) / 1000 for p in rec["passes"]]
        attempted = len(qs)
        failed = sum(q["verdict"] != "ok" for q in qs)
        out.update({
            "pass_s": {"value": statistics.median(passes), "unit": "s", "n": len(passes)},
            "query_p50_s": {"value": statistics.median(lat) / 1000, "unit": "s", "n": len(lat)},
            "query_p90_s": {"value": pct(lat, 90) / 1000, "unit": "s", "n": len(lat)},
            "storage_mb_end": {"value": rec["passes"][-1]["storage"]["bytes"] / MB,
                               "unit": "MB", "n": 1},
            "artifact_mb": {"value": rec["artifact_b"] / MB, "unit": "MB", "n": 1},
        })
        latency = lat
    out["cpu_s_per_pass"] = {"value": statistics.median(cpu_passes), "unit": "s",
                             "n": len(cpu_passes)}
    out["latency_p50_ms"] = {"value": statistics.median(latency), "unit": "ms", "n": len(latency)}
    out["latency_p90_ms"] = {"value": pct(latency, 90), "unit": "ms", "n": len(latency)}
    out["failed_frac"] = {"value": failed / max(attempted, 1), "unit": "1", "n": attempted}
    return out, attempted, failed


def spans_and_layers(rec):
    """Span tree workload > pass > query > phase > job > stage (or
    workload > pass > batch > job > stage for the stream), self times,
    and the per-layer metrics."""
    ev = rec["trace_events"]
    spans = []

    def add(name, kind, parent, s, e, **attrs):
        sid = len(spans)
        spans.append(dict(id=sid, parent=parent, name=name, kind=kind,
                          start_ms=s, end_ms=e, **attrs))
        return sid

    t0 = rec["setup_end_ms"]
    root = add(rec["workload"], "workload", None, t0, rec["end_ms"])
    parent_of_group, parent_of_batch = {}, {}
    timed_queries = rec.get("queries", [])
    for p in rec.get("passes", []):
        if "start_ms" in p:
            p["span"] = add(p["pass"], "pass", root, p["start_ms"], p["end_ms"])
    pass_span = {p["pass"]: p.get("span", root) for p in rec.get("passes", [])}
    for q in timed_queries:
        qs = query_span(q)
        qid = add(f"query:{q['name']}", "query", pass_span[q["pass"]], qs["start_ms"], qs["end_ms"])
        q["span"] = qid
        for ph in ("build", "plan", "execute"):
            if ph in q:
                parent_of_group[f"{q['pass']}|{q['name']}|{ph}"] = add(
                    ph, "phase", qid, q[ph]["start_ms"], q[ph]["end_ms"])
    st = rec.get("stream")
    if st:
        timed = [b for b in st["batches"] if b["batch"] >= st["warmup_batches"]]
        per = st["batches_per_pass"]
        for i in range(0, len(timed), per):
            chunk = timed[i:i + per]
            starts = [batch_start(b) for b in chunk]
            pid = add(f"p{i // per}", "pass", root, starts[0],
                      starts[-1] + chunk[-1]["duration_ms"]["triggerExecution"])
            for b, s in zip(chunk, starts):
                parent_of_batch[str(b["batch"])] = add(
                    f"batch:{b['batch']}", "batch", pid, s,
                    s + b["duration_ms"]["triggerExecution"],
                    phases_ms=b["duration_ms"])
        spans[root]["start_ms"] = batch_start(timed[0]) if timed else t0
    stages = {s["id"]: s for s in ev["stages"]}
    timed_jobs = []
    for j in ev["jobs"]:
        parent = parent_of_group.get(j["group"]) if j["group"] else None
        if parent is None and j["batch"] is not None:
            parent = parent_of_batch.get(j["batch"])
        if parent is None:
            continue  # set-up work: warm pass or warm-up batches
        jid = add(f"job:{j['id']}", "job", parent, j["start_ms"], j["end_ms"], ok=j["ok"])
        timed_jobs.append((j, parent))
        for sid in j["stages"]:
            s = stages.get(sid)
            if s and s["submit_ms"]:  # skipped stages never ran
                add(f"stage:{sid}", "stage", jid, s["submit_ms"], s["end_ms"], tasks=s["num_tasks"])
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        s["self_ms"] = dur(s) - union_ms(children.get(s["id"], []), s["start_ms"], s["end_ms"])

    # ---- per-layer metrics
    sec = lambda ms: ms / 1000
    phase_kind = {s["id"]: s["name"] for s in spans if s["kind"] == "phase"}
    run_stages = [stages[sid] for j, _ in timed_jobs for sid in j["stages"]
                  if sid in stages and stages[sid]["submit_ms"]]
    tasks = ev["tasks"]
    build_jobs = [j for j, p in timed_jobs if phase_kind.get(p) == "build"]
    timed_wall = rec["end_ms"] - spans[root]["start_ms"]
    L = {}
    L["ops.build_s"] = sec(sum(dur(q["build"]) for q in timed_queries)) if timed_queries \
        else sec(dur(rec["build"]))
    L["ops.build_jobs"] = len(build_jobs)
    L["derived.built"] = sum(q.get("derived_built", 0) for q in timed_queries)
    L["derived.mb_written"] = sum(max(0, q.get("tmp_bytes_delta", 0)) for q in timed_queries) / MB
    L["derived.build_s"] = sec(sum(j["end_ms"] - j["start_ms"] for j in build_jobs
                                   if any(stages.get(s, {}).get("output_b", 0) > 0
                                          for s in j["stages"])))
    last = rec["passes"][-1]["storage"]
    L["pin.storage_mb"] = last["bytes"] / MB
    L["pin.rdds"] = last["rdds"]
    # Catalyst phases: the benchmark's own count Dataset plus every action
    # the builders ran inside a timed query (matched by start time)
    cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    windows = [(w["start_ms"], w["end_ms"]) for w in map(query_span, timed_queries)]
    for q in timed_queries:
        for k, v in q.get("plan", {}).get("catalyst", {}).items():
            if k in cat:
                cat[k] += v["end_ms"] - v["start_ms"]
    for ph in ev["internal_plans"]:
        for k, v in ph.items():
            if k in cat and any(lo <= v["start_ms"] <= hi for lo, hi in windows):
                cat[k] += v["end_ms"] - v["start_ms"]
    if st:
        cat["analysis"] += sum(v["end_ms"] - v["start_ms"]
                               for k, v in rec["build"].get("catalyst", {}).items()
                               if k == "analysis")
        cat["planning"] += sum(b["duration_ms"].get("queryPlanning", 0) for b in timed)
    L["plan.analysis_s"] = sec(cat["analysis"])
    L["plan.optimization_s"] = sec(cat["optimization"])
    L["plan.planning_s"] = sec(cat["planning"])
    phases = [q[ph] for q in timed_queries for ph in ("build", "plan", "execute") if ph in q]
    L["codegen.compile_s"] = sum(p.get("codegen_ns", 0) for p in phases) / 1e9
    L["codegen.compiles"] = sum(p.get("codegen_n", 0) for p in phases)
    if st:
        L["codegen.compile_s"] = st["codegen_ns"] / 1e9
        L["codegen.compiles"] = st["codegen_n"]
    g = lambda k: sum(s.get(k, 0) for s in run_stages)
    t = lambda k: sum(tasks.get(str(s["id"]), {}).get(k, 0) for s in run_stages)
    L["exec.task_s"] = sec(g("run_ms"))
    L["exec.cpu_s"] = g("cpu_ns") / 1e9
    L["exec.gc_s"] = sec(g("gc_ms"))
    L["exec.wait_s"] = sec(g("fetch_wait_ms") + t("sched_ms"))
    L["exec.busy_frac"] = g("run_ms") / (timed_wall * rec["threads"])
    L["exec.tasks"] = int(t("n"))
    L["exec.stages"] = len(run_stages)
    L["exec.shuffle_read_mb"] = g("shuffle_read_b") / MB
    L["exec.shuffle_write_mb"] = g("shuffle_write_b") / MB
    L["exec.spill_mb"] = g("spill_b") / MB
    L["exec.failed_tasks"] = int(t("failed"))
    # driver-only time: query (or batch) wall that no job covers
    owners = [s for s in spans if s["kind"] in ("query", "batch")]
    job_iv = {}
    for s in spans:
        if s["kind"] == "job":
            top = s["parent"]
            while spans[top]["kind"] not in ("query", "batch"):
                top = spans[top]["parent"]
            job_iv.setdefault(top, []).append((s["start_ms"], s["end_ms"]))
    L["driver.self_s"] = sec(sum(dur(o) - union_ms(job_iv.get(o["id"], []), o["start_ms"],
                                                   o["end_ms"]) for o in owners))
    n = max(len(timed), 1) if st else 1
    sd = lambda k: sum(b["duration_ms"].get(k, 0) for b in timed) / n if st else 0.0
    L["stream.get_batch_ms"] = sd("getBatch")
    L["stream.planning_ms"] = sd("queryPlanning")
    L["stream.add_batch_ms"] = sd("addBatch")
    L["stream.wal_commit_ms"] = sd("walCommit")
    L["stream.commit_offsets_ms"] = sd("commitOffsets")
    so = [b["state"] for b in timed if b.get("state")] if st else []
    ss = lambda k: sum(s[k] for s in so) / max(len(so), 1)
    L["stream.late_rows"] = sum(s["late_rows"] for s in so)
    L["state.commit_ms"] = ss("commit_ms")
    L["state.update_ms"] = ss("update_ms")
    L["state.removal_ms"] = ss("removal_ms")
    L["state.rows_total"] = ss("rows_total")
    L["state.rows_updated"] = ss("rows_updated")
    L["state.rows_removed"] = ss("rows_removed")
    L["state.mb"] = (so[-1]["memory_b"] / MB) if so else 0.0
    L["state.updated_frac"] = (sum(s["rows_updated"] for s in so) /
                               max(sum(s["rows_total"] for s in so), 1))
    return spans, L


def batch_start(b):
    """Trigger start of a micro-batch, epoch ms."""
    return datetime.datetime.strptime(b["timestamp"].replace("Z", "+0000"),
                                      "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1000


# ------------------------------------------------------------------ main

def steal_s():
    """CPU seconds the hypervisor gave to other guests, all CPUs since boot."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def machine():
    info = {"nproc": os.cpu_count(), "heap_gb": heap_gb()}
    try:
        with open("/proc/loadavg") as f:
            info["loadavg_start"] = float(f.read().split()[0])
    except OSError:
        pass
    try:
        info["commit"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                        capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        info["commit"] = None
    return info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"engine sources not found under {ENGINE_SRC}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = spec["per_layer" if args.trace else "end_to_end"]
    stamp = machine()
    threads = stamp["nproc"]
    cp, digest = build()
    stamp["source_digest"] = digest
    sf = WORKLOADS[args.workload]
    sf_dir = fixture(cp, sf, threads) if sf else ""
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "ckpt", "pin", "duckdb"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        out = os.path.join(run_dir, "record.json")
        steal0 = steal_s()
        rc = java(cp, os.path.join(run_dir, "tmp"), [
            "run", f"workload={args.workload}", f"seed={args.seed}",
            f"seconds={args.seconds}", f"trace={args.trace}", f"threads={threads}",
            f"sfdir={sf_dir}", f"rundir={run_dir}", f"out={out}"],
            RUN_TIMEOUT_S)
        steal1 = steal_s()
        stamp["steal_s"] = None if steal0 is None or steal1 is None else round(steal1 - steal0, 2)
        if rc != 0 or not os.path.exists(out):
            log(f"harness failed (exit {rc})")
            return 1
        rec = json.load(open(out))
        if "queries" in rec:
            check_queries(rec, sf_dir, run_dir)
        else:
            check_stream(rec["stream"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, attempted, failed = end_to_end(rec)
    correct = failed == 0
    os.makedirs(RESULTS_DIR, exist_ok=True)
    base = os.path.join(RESULTS_DIR, f"{args.workload}-seed{args.seed}")
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "machine": dict(stamp, cpu_probe_ms=rec["cpu_probe_ms"],
                                                   heap_max_b=rec["heap_max_b"]),
              "end_to_end": e2e}
    if args.trace:
        spans, layers = spans_and_layers(rec)
        with open(base + "-spans.json", "w") as f:
            json.dump(spans, f)
        units = dict(RECORD_ONLY_UNITS, **{m["name"]: m["unit"] for m in spec["per_layer"]})
        record["per_layer"] = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        record["pin_storage_mb_by_pass"] = [p["storage"]["bytes"] / MB for p in rec["passes"]]
        untraced = base + "-trace0.json"
        if os.path.exists(untraced):
            u = json.load(open(untraced))["end_to_end"]["pass_s"]["value"]
            record["tracing_overhead_pass_s"] = e2e["pass_s"]["value"] - u
        record["spans_file"] = os.path.relpath(base + "-spans.json", ROOT)
    with open(base + f"-trace{args.trace}.json", "w") as f:
        json.dump(record, f)
    with open(base + f"-trace{args.trace}-raw.json", "w") as f:
        json.dump(rec, f)

    measured = record["per_layer"] if args.trace else e2e
    metrics = {m["name"]: {"value": measured[m["name"]]["value"], "unit": m["unit"]}
               for m in listed}
    print(json.dumps(record))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
