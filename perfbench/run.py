#!/usr/bin/env python3
"""Benchmark of the census ETL engine: one run of one workload.

    python3 perfbench/run.py --workload etl_core --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark driver from source with sbt (into target/ directories and
.bench_build/); later runs reuse the build while the sources are unchanged.

A run starts one JVM (perfbench.Main) that sets up a local Spark session,
runs every step of the workload once untimed (warm-up; its results are
written to parquet), then runs timed passes back to back in seeded orders.
This script then checks the warm-up results against the DuckDB oracle of
tools/check.py (and the census pipeline against a DuckDB computation over
the same generated payload), computes the metrics and prints them as the
last line of stdout. --trace 1 turns Spark listeners on and reports the
per-layer metrics instead of the end-to-end ones. Each run's full record
(self-description, per-query times, trace) is kept under perfbench/runs/.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import stats  # noqa: E402

BUILD = ROOT / ".bench_build"
FIXTURE = BENCH / "fixture"
RUNS = BENCH / "runs"
JVM_TIMEOUT_S = 170

# Nominal warm pass time of each workload on a 4-core host: the number of
# timed passes is --seconds divided by it, so every run of a workload times
# the same amount of work. At least three: the first timed pass still runs
# some 10-20% slow while the JIT settles, and the median of three drops it.
PASS_SECONDS = {"etl_core": 4.0, "dedup_stream": 10.0}

# Census API payload: estimate variables of the pipeline's curated groups.
CENSUS_VARS = ["B01003_001E", "B02001_002E", "B02001_003E", "B03003_003E",
               "B19013_001E", "B17001_002E", "B23025_003E", "B23025_004E",
               "B23025_005E", "B25077_001E", "B25064_001E", "B25003_002E",
               "B25003_003E"]
STATE_FIPS = ["01", "02", "04", "05", "06", "08", "09", "10", "11", "12", "13",
              "15", "16", "17", "18", "19", "20", "21", "22", "23", "24", "25",
              "26", "27", "28", "29", "30", "31", "32", "33", "34", "35", "36",
              "37", "38", "39", "40", "41", "42", "44", "45", "46", "47", "48",
              "49", "50", "51", "53", "54", "55", "56", "72"]
TRACTS_PER_STATE = 1635
SENTINELS = ["-666666666", "-999999999", "-888888888", "-222222222"]
UNPARSABLE = ["(X)", "N/A", "", "-"]
# The library's derived demographics: rate = numerator / denominator * 100,
# NULL on a zero denominator.
DERIVED = {"pct_white": ("white_pop", "total_population"),
           "pct_black": ("black_pop", "total_population"),
           "pct_hispanic": ("hispanic_pop", "total_population"),
           "poverty_rate": ("poverty_count", "total_population"),
           "unemployment_rate": ("unemployed", "labor_force")}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_digest():
    """Digest of every input of the build, by path, size and mtime."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in [ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"]:
        if d.is_dir():
            inputs += sorted(p for p in d.rglob("*")
                             if p.is_file() and "target" not in p.relative_to(ROOT).parts)
    for p in inputs:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the library and the driver; return the java command prefix."""
    launch, stamp = BUILD / "launch.json", BUILD / "launch.stamp"
    digest = source_digest()
    if launch.exists() and stamp.exists() and stamp.read_text() == digest:
        return json.loads(launch.read_text())
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = BUILD / "launch.txt"
    if out.exists():
        out.unlink()
    print("[perfbench] building with sbt ...", file=sys.stderr)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                          cwd=BENCH, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0 or not out.exists():
        print(proc.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    lines = out.read_text().splitlines()
    launch.write_text(json.dumps(lines))
    stamp.write_text(digest)
    return lines


# ---------------------------------------------------------------- inputs

def payload(seed):
    """Census API payload for this seed: one row per tract, strings only,
    with suppression sentinels and unparsable cells as the API returns them."""
    path = BUILD / "payload" / f"seed-{seed}.tsv"
    if path.exists():
        return path
    path.parent.mkdir(parents=True, exist_ok=True)
    rng = random.Random(f"census-{seed}")
    lines = ["\t".join(["NAME"] + CENSUS_VARS + ["state", "county", "tract"])]

    def cell(v):
        r = rng.random()
        if r < 0.02:
            return rng.choice(SENTINELS)
        if r < 0.03:
            return rng.choice(UNPARSABLE)
        return str(v)

    for si, st in enumerate(STATE_FIPS):
        counties = 3 + (si * 7) % 40
        for _ in range(TRACTS_PER_STATE):
            county = f"{2 * rng.randrange(counties) + 1:03d}"
            tract = f"{rng.randrange(1, 999999):06d}"
            pop = 0 if rng.random() < 0.01 else rng.randrange(500, 9000)
            white = rng.randrange(0, pop + 1)
            black = rng.randrange(0, pop - white + 1)
            labor = rng.randrange(0, pop + 1)
            employed = rng.randrange(0, labor + 1)
            owner = rng.randrange(0, 3000)
            vals = [pop, white, black, rng.randrange(0, pop + 1),
                    rng.randrange(15000, 250000), rng.randrange(0, pop + 1),
                    labor, employed, labor - employed,
                    rng.randrange(50000, 2000000), rng.randrange(400, 3500),
                    owner, rng.randrange(0, 3000)]
            name = f"Census Tract {tract}, County {county}, State {st}"
            lines.append("\t".join([name] + [cell(v) for v in vals] + [st, county, tract]))
    tmp = path.with_suffix(".tmp")
    tmp.write_text("\n".join(lines) + "\n")
    tmp.replace(path)
    return path


def fixture_files(root=FIXTURE):
    """{relative path: size} of the fixture tables under root."""
    return {str(p.relative_to(root)): p.stat().st_size for p in sorted(root.rglob("*.parquet"))}


# ---------------------------------------------------------------- correctness

def load_check_module():
    spec = importlib.util.spec_from_file_location("check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_rows(check, name, sql, fixture):
    """The DuckDB oracle's answer for one query over a fixture directory,
    cached by the SQL text and the directory's files."""
    key = hashlib.sha256(json.dumps([sql, fixture_files(fixture)]).encode()).hexdigest()
    path = BUILD / "oracle" / f"{name}-{key[:16]}.pkl"
    if path.exists():
        return pickle.loads(path.read_bytes())
    con = duckdb.connect()
    for t in check.TABLES:
        if (fixture / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    exp = check.canon(con.execute(sql).df())
    result = (list(exp.columns), check.values(exp))
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(pickle.dumps(result))
    return result


def check_query(check, name, sql, fixture, out_dir):
    cols, expected = oracle_rows(check, name, sql, fixture)
    got = check.canon(duckdb.connect().execute(
        f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
    if list(got.columns) != cols:
        return f"schema mismatch: expected {cols}, got {list(got.columns)}", len(got)
    if check.values(got) != expected:
        return f"values differ from the oracle ({len(expected)} expected rows)", len(got)
    return None, len(got)


def census_expected(spec, tsv):
    """The census step computed by DuckDB over the same payload rows."""
    ident = lambda c: '"' + c + '"'
    sentinels = ", ".join(repr(float(s)) for s in spec["sentinels"])
    coerced = ", ".join(
        f"CASE WHEN TRY_CAST({ident(code)} AS DOUBLE) IN ({sentinels}) THEN NULL "
        f"ELSE TRY_CAST({ident(code)} AS DOUBLE) END AS {ident(name)}"
        for code, name in sorted(spec["vars"].items()))
    derived = ", ".join(f"{ident(n)} / NULLIF({ident(d)}, 0) * 100 AS {ident(out)}"
                        for out, (n, d) in sorted(DERIVED.items()))
    z = spec["zscore"]
    stats_cols = ", ".join(f"avg({ident(c)}) AS {ident('avg_' + c)}, "
                           f"stddev_samp({ident(c)}) AS {ident('std_' + c)}" for c in z)
    norms = ", ".join(f"({ident(c)} - {ident('avg_' + c)}) / NULLIF({ident('std_' + c)}, 0) "
                      f"AS {ident(c + '_norm')}" for c in z)
    fn = {"sum": "sum", "mean": "avg", "median": "median", "max": "max"}
    aggs = ", ".join(f"{fn[f]}({ident(c)}) AS {ident(c)}" for c, f in sorted(spec["aggs"].items()))
    sql = f"""
      WITH raw AS (SELECT * FROM read_csv('{tsv}', delim='\t', header=true,
                   all_varchar=true, quote='', escape='')),
      geo AS (SELECT {coerced},
              lpad(state, 2, '0') || lpad(county, 3, '0') || lpad(tract, 6, '0') AS GEOID
              FROM raw),
      der AS (SELECT *, {derived} FROM geo),
      st AS (SELECT {stats_cols} FROM der),
      z AS (SELECT der.*, {norms} FROM der, st)
      SELECT substr(GEOID, 1, {spec['level_len']}) AS GEOID, {aggs}
      FROM z GROUP BY 1 ORDER BY 1"""
    return duckdb.connect().execute(sql).df()


def check_census(spec, tsv, out_dir):
    exp = census_expected(spec, tsv)
    got = duckdb.connect().execute(
        f"SELECT * FROM '{out_dir}/census_api/*.parquet' ORDER BY GEOID").df()
    if sorted(got.columns) != sorted(exp.columns):
        return (f"schema mismatch: expected {sorted(exp.columns)}, "
                f"got {sorted(got.columns)}"), len(got)
    if len(got) != len(exp):
        return f"row count {len(got)}, expected {len(exp)}", len(got)
    for c in exp.columns:
        for a, b in zip(exp[c].tolist(), got[c].tolist()):
            na, nb = a is None or a != a, b is None or b != b
            if na or nb:
                if na != nb:
                    return f"column {c}: {b!r}, expected {a!r}", len(got)
            elif isinstance(a, str):
                if a != b:
                    return f"column {c}: {b!r}, expected {a!r}", len(got)
            elif not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                return f"column {c}: {b!r}, expected {a!r}", len(got)
    return None, len(got)


def check_outputs(rec, work, tsv):
    """Checks every step's warm-up output, and the census export of the last
    timed pass. Returns ({step: error or None}, {step: result rows})."""
    check = load_check_module()
    errors, rows = {}, {}
    for name in rec["steps"]:
        try:
            if name == "census_api":
                errors[name], rows[name] = check_census(rec["census_spec"], tsv, work / "verify")
                last = check_census(rec["census_spec"], tsv, work / "out")[0]
                errors[name] = errors[name] or last
            else:
                errors[name], rows[name] = check_query(
                    check, name, rec["oracle_sql"][name], FIXTURE / rec["scales"][name],
                    work / "verify")
        except Exception as e:  # a missing output is a failed check
            errors[name], rows[name] = f"unreadable: {e}", 0
    return errors, rows


# ---------------------------------------------------------------- metrics

def end_to_end(rec):
    t = [r for r in rec["timings"] if r["ok"]]
    per_query = {}
    for r in t:
        per_query.setdefault(r["query"], []).append(r["build_s"] + r["exec_s"])
    lat = [x for v in per_query.values() for x in v]
    pass_s = [sum(r["build_s"] + r["exec_s"] for r in rec["timings"] if r["pass"] == p)
              for p in range(1, rec["passes"] + 1)]
    m = {
        # Set-up: JVM start to the first timed step (session build and the
        # untimed warm-up pass), so work moved out of the timed passes shows.
        "setup_s": (rec["setup_s"], "s"),
        # A pass's steps back to back, without the untimed hygiene between them.
        "wall_s": (statistics.median(pass_s), "s"),
        "query_geomean_s": (stats.geomean([statistics.median(v) for v in per_query.values()]), "s"),
    }
    tail = stats.tail(lat)
    notes = {"samples": len(lat), "passes": len(pass_s), "query_p50_s": statistics.median(lat),
             "tail": {"percentile": tail[0], "value_s": tail[1]} if tail else None,
             "query_median_s": {q: statistics.median(v) for q, v in sorted(per_query.items())}}
    return m, notes


def in_windows(windows, t):
    """Index of the query window [start, end) holding time t, or None."""
    lo, hi = 0, len(windows) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        s, e = windows[mid][0], windows[mid][1]
        if t < s:
            hi = mid - 1
        elif t >= e:
            lo = mid + 1
        else:
            return mid
    return None


def trace_spans(rec):
    """The span tree run > pass > query > {query.build, query.exec} >
    sql_execution > job > stage, with streaming triggers under query.build.
    Listener events carry only times and ids, and queries run one at a time,
    so an event's parent is the innermost span open at its start: a nested
    SQL execution (one a streaming trigger or an operator's collect starts)
    lands under the execution or trigger that holds it."""
    tr = rec["trace"]
    spans = [dict(s) for s in rec["spans"]]
    hosts = [s for s in spans if s["name"] in ("query.build", "query.exec")]
    next_id = max(s["id"] for s in spans) + 1

    def add(name, parent, start, end, **attrs):
        nonlocal next_id
        span = dict(id=next_id, parent=parent["id"], name=name, start_ms=start,
                    end_ms=end, **attrs)
        spans.append(span)
        next_id += 1
        return span

    def innermost(t):
        inside = [h for h in hosts if h["start_ms"] <= t < h["end_ms"]]
        return max(inside, key=lambda h: h["start_ms"], default=None)

    for g in sorted(tr["triggers"], key=lambda g: g["start_ms"]):
        h = innermost(g["start_ms"])
        if h is not None:
            hosts.append(add("streaming.trigger", h, g["start_ms"],
                             g["start_ms"] + g["duration_ms"].get("triggerExecution", 0)))
    sql_end = {e["sql"]: e["end_ms"] for e in tr["sql_executions"] if "end_ms" in e}
    sql_span = {}
    for e in sorted((e for e in tr["sql_executions"] if "start_ms" in e),
                    key=lambda e: e["start_ms"]):
        h = innermost(e["start_ms"])
        if h is not None and e["sql"] in sql_end:
            sql_span[e["sql"]] = add("sql_execution", h, e["start_ms"], sql_end[e["sql"]],
                                     sql=e["sql"])
            hosts.append(sql_span[e["sql"]])
    job_end = {e["job"]: e["end_ms"] for e in tr["job_ends"]}
    stage_job = {}
    for j in tr["jobs"]:
        parent = sql_span.get(j["sql"]) or innermost(j["start_ms"])
        if parent is None or j["job"] not in job_end:
            continue
        job = add("job", parent, j["start_ms"], job_end[j["job"]], job=j["job"])
        for s in j["stages"]:
            stage_job.setdefault(s, job)
    for s in tr["stages"]:
        if s["stage"] in stage_job and s["start_ms"] >= 0:
            add("stage", stage_job[s["stage"]], s["start_ms"], s["end_ms"], stage=s["stage"])
    return spans


def per_layer(rec, result_rows, work):
    """Per-layer counters of a traced run, per timed pass, from listener
    events inside the timed query windows."""
    tr = rec["trace"]
    timed = sorted((r["start_ms"], r["end_ms"], r["query"]) for r in rec["timings"])
    npass = rec["passes"]
    F = {f: i for i, f in enumerate(tr["task_fields"])}
    tasks = [t for t in tr["tasks"] if in_windows(timed, t[F["launch_ms"]]) is not None]
    plans = [p for p in tr["plans"] if in_windows(timed, p["start_ms"]) is not None]
    jobs = [j for j in tr["jobs"] if in_windows(timed, j["start_ms"]) is not None]
    stages = [s for s in tr["stages"] if in_windows(timed, s["start_ms"]) is not None]
    sqls = [e for e in tr["sql_executions"]
            if "start_ms" in e and in_windows(timed, e["start_ms"]) is not None]
    trig = [g for g in tr["triggers"] if in_windows(timed, g["start_ms"]) is not None]

    def tsum(field):
        return sum(t[F[field]] for t in tasks)

    wall_ms = sum(e - s for s, e, _ in timed)
    busy_ms = tsum("run_ms")
    intervals = [(t[F["launch_ms"]], t[F["finish_ms"]]) for t in tasks]
    covered = sum(stats.union_length(intervals, s, e) for s, e, _ in timed)
    input_rows = tsum("input_records")
    out_rows_per_pass = sum(result_rows.values())
    trig_ms = [g["duration_ms"].get("triggerExecution", 0) for g in trig]
    dur = lambda *ks: sum(g["duration_ms"].get(k, 0) for g in trig for k in ks)
    # What the program leaves on disk: its working directory, temp space and
    # the timed exports (not the benchmark's own warm-up copies and logs).
    disk = sum(p.stat().st_size for d in ("cwd", "tmp", "out")
               for p in (work / d).rglob("*") if p.is_file())
    t = rec["timings"]
    m = {
        "query.build_s": (sum(r["build_s"] for r in t), "s"),
        "query.exec_s": (sum(r["exec_s"] for r in t), "s"),
        "catalyst.analysis_ms": (sum(p["analysis_ms"] for p in plans)
                                 + sum(r["analysis_ms"] for r in t), "ms"),
        "catalyst.optimization_ms": (sum(p["optimization_ms"] for p in plans), "ms"),
        "catalyst.planning_ms": (sum(p["planning_ms"] for p in plans), "ms"),
        "catalyst.sql_executions": (len(sqls), "count"),
        "scheduler.jobs": (len(jobs), "count"),
        "scheduler.stages": (len(stages), "count"),
        "scheduler.tasks": (len(tasks), "count"),
        "scheduler.task_busy_s": (busy_ms / 1e3, "s"),
        "scheduler.task_cpu_s": (tsum("cpu_ns") / 1e9, "s"),
        "scheduler.idle_s": ((wall_ms - covered) / 1e3, "s"),
        "shuffle.write_bytes": (tsum("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (tsum("shuffle_read_bytes"), "bytes"),
        "scan.input_bytes": (tsum("input_bytes"), "bytes"),
        "scan.input_rows": (input_rows, "count"),
        "operators.join_rows_out": (sum(p["join_rows_out"] for p in plans), "count"),
        "streaming.triggers": (len(trig), "count"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.log_commit_ms": (dur("walCommit", "commitOffsets"), "ms"),
        "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
        "storage.output_bytes": (tsum("output_bytes"), "bytes"),
        "storage.output_records": (tsum("output_records"), "count"),
        "jvm.gc_ms": (sum(r["gc_ms"] for r in t), "ms"),
        "jvm.gc_count": (sum(r["gc_count"] for r in t), "count"),
    }
    # Per pass, so that the values do not depend on the number of passes.
    m = {k: (v / npass, u) for k, (v, u) in m.items()}
    m.update({
        "scheduler.core_util": (busy_ms / (wall_ms * rec["env"]["cpus"]), "ratio"),
        "scan.rows_per_result": (input_rows / npass / max(out_rows_per_pass, 1), "ratio"),
        "operators.result_rows": (out_rows_per_pass, "count"),
        "streaming.trigger_p50_ms": (statistics.median(trig_ms) if trig_ms else 0.0, "ms"),
        "streaming.trigger_max_ms": (max(trig_ms) if trig_ms else 0.0, "ms"),
        "storage.write_amp": (tsum("output_bytes") / max(tsum("input_bytes"), 1), "ratio"),
        "storage.disk_bytes": (disk, "bytes"),
        "sources.census_read_s": (rec["census_read_s"], "s"),
    })
    return m


def layer_self_times(spans):
    """Self time in seconds summed per span name."""
    st = stats.self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e3
    return out


def tracing_overhead(workload, seed, traced_wall):
    """Traced wall_s against the untraced run of the same seed, else against
    the median of the workload's untraced runs."""
    runs = [json.loads(p.read_text()) for p in sorted((RUNS / workload).glob("*-t0.json"))]
    same = [r for r in runs if r["seed"] == seed]
    if same:
        base = same[-1]["result"]["metrics"]["wall_s"]["value"]
        what = f"the untraced run of seed {seed}"
    elif runs:
        base = statistics.median(r["result"]["metrics"]["wall_s"]["value"] for r in runs)
        what = f"the median of {len(runs)} untraced runs"
    else:
        return "no untraced run yet to state the tracing overhead against"
    return f"tracing overhead {traced_wall / base - 1:+.1%} against {what}"


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    except (OSError, ValueError):
        return None
    return f[7], sum(f)


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree of its own
    (then source_digest identifies the code)."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    return out[1] if len(out) == 2 and Path(out[0]).resolve() == ROOT else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PASS_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail(f"no library sources next to the benchmark in {ROOT}")
    if not fixture_files():
        fail(f"no fixture tables in {FIXTURE}")
    launch = build()
    tsv = payload(a.seed)
    passes = max(3, round(a.seconds / PASS_SECONDS[a.workload]))

    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    cwd = work / "cwd"
    cwd.mkdir(parents=True)
    record_path = work / "record.json"
    cmd = launch + ["perfbench.Main", a.workload, str(a.seed), str(passes), str(a.trace),
                    str(FIXTURE), str(tsv), str(work), str(record_path)]
    t0, ticks0 = time.time(), cpu_ticks()
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not record_path.exists():
        print((work / "jvm.log").read_text()[-4000:], file=sys.stderr)
        fail(f"benchmark JVM failed ({rc})")
    rec = json.loads(record_path.read_text())
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the JVM ran: runs
    # on a shared host shift together with it.
    steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1) if ticks0 and ticks1 else None

    errors, result_rows = check_outputs(rec, work, tsv)
    bad = {k: v for k, v in errors.items() if v}
    for k, v in sorted(bad.items()):
        print(f"[perfbench] INCORRECT {k}: {v}", file=sys.stderr)
    attempted = len(rec["timings"]) + len(rec["steps"])
    failed = sum(not r["ok"] for r in rec["timings"]) + len(rec["warmup_failures"])

    if a.trace:
        metrics = per_layer(rec, result_rows, work)
        spans = trace_spans(rec)
        extra = {"spans": spans, "self_s": layer_self_times(spans),
                 "trace_wall_s": end_to_end(rec)[0]["wall_s"][0]}
    else:
        metrics, extra = end_to_end(rec)
    result = {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "passes": passes, "steps": rec["steps"], "result": result, "errors": bad,
        "result_rows": result_rows, "run_wall_s": time.time() - t0, "host_steal_frac": steal,
        "fixture": {"dir": str(FIXTURE.relative_to(ROOT)), "files": fixture_files()},
        "git_commit": git_commit(), "source_digest": source_digest(),
        "env": rec["env"], "scales": rec["scales"], "session_s": rec["session_s"],
        "warmup_s": rec["warmup_s"],
        "peak_rss_kb": rec["peak_rss_kb"],
        "timings": rec["timings"], **extra,
    }
    out = RUNS / a.workload / f"{time.strftime('%Y%m%dT%H%M%S')}-s{a.seed}-t{a.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record))
    if a.trace:
        print(f"[perfbench] {a.workload}: traced wall_s {extra['trace_wall_s']:.3f} s; "
              f"{tracing_overhead(a.workload, a.seed, extra['trace_wall_s'])}; "
              f"record {out.relative_to(ROOT)}")
    else:
        tail = extra["tail"]
        tail_txt = (f"tail p{tail['percentile']:.0f} {tail['value_s']:.3f} s" if tail
                    else "too few samples for a tail percentile")
        print(f"[perfbench] {a.workload}: {extra['samples']} step samples over "
              f"{extra['passes']} passes; median {extra['query_p50_s']:.3f} s; {tail_txt}; "
              f"record {out.relative_to(ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
