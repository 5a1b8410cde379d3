#!/usr/bin/env python3
"""Benchmark of the served event stream, the query mix and Acid DML.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the harness and the program from
source with sbt (perfbench/build.sbt; cached per source hash under
.bench_build/), generates the seeded fixture (perfbench/gen.py, cached
under .bench_work/data/), runs the workload in a fresh JVM, checks its
outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 the run is made twice, untraced then traced, and the metrics are
its per_layer list (plus the tracing overhead per end-to-end metric).
Every path written is inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("serve_chain", "query_mix", "table_dml")
WORK = os.path.join(ROOT, ".bench_work")
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # every run ends well inside the 180 s limit
# the heap grows on demand up to a quarter of a 16 GB machine, so the
# program's own heap use shows in rss_peak_mb
JVM_OPTS = ["-Xms1g", "-Xmx4g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, deadline, logf, **kw):
    """Run `cmd` in its own process group, output to `logf`; kill the whole
    group if it outlives `deadline` or this script is stopped."""
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile once per source hash; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the program's sources (src/main/scala) are not in this checkout")
    cp_file = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building the program and the harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as logf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       time.time() + 840, logf, cwd=HERE,
                       env=dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS))
    output = open(log_path).read()
    lines = [l for l in output.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(output[-4000:])
        die("build failed")
    with open(cp_file + ".tmp", "w") as f:
        f.write(lines[-1].strip())
    os.replace(cp_file + ".tmp", cp_file)
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def fixture(seed):
    """The seeded fixture dir; keeps only the four most recent seeds."""
    base = os.path.join(WORK, "data")
    os.makedirs(base, exist_ok=True)
    out = gen.generate(os.path.join(base, f"seed-{seed}"), seed)
    os.utime(out)
    old = sorted((os.path.getmtime(os.path.join(base, d)), d)
                 for d in os.listdir(base) if d.startswith("seed-"))
    for _, d in old[:-4]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    # write the fixture back now, not while the workload is measured
    os.sync()
    return out


def duckdb_counts(data, oracle_sql):
    """Row count of each key's oracle SQL over the fixture, cached per dir."""
    cache = os.path.join(data, "_oracle_counts.json")
    if os.path.exists(cache):
        got = json.load(open(cache))
        if set(got) >= set(oracle_sql):
            return got
    import duckdb
    con = duckdb.connect()
    for t in gen.ROWS.keys() | {"region", "nation"}:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    counts = {k: con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
              for k, sql in oracle_sql.items()}
    json.dump(counts, open(cache, "w"))
    return counts


# ---------------------------------------------------------------- one JVM

def run_jvm(cp, args, data, trace, deadline):
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("ckpt", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "raw.json")
    cmd = (["java"] + JVM_OPTS +
           [f"-Dgraft.ckpt.root={run_dir}/ckpt",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--data", data, "--work", run_dir, "--out", out,
            "--cores", str(os.cpu_count())])
    # the checkpoint root above must win over an inherited override
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CKPT_ROOT"}
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as logf:
            rc = run_group(cmd, deadline, logf, cwd=run_dir, env=env)
        try:
            return json.load(open(out))
        except (OSError, ValueError):
            tail = open(log_path).read()[-4000:]
            die(f"the {args.workload} JVM produced no record (exit {rc}):\n{tail}", 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def pct(xs, q):
    v = stats.percentile(xs, q)
    return 0.0 if v is None else v


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """The workload's end-to-end metrics (names are BENCHMARK.json's) and a
    detail map under the per-workload names."""
    w = raw["workload"]
    rec = raw["record"]
    s, sc = rec["samples"], rec["scalars"]
    m = {"setup_s": med(s["setup_s"]), "rss_peak_mb": sc["rss_peak_mb"]}
    detail = {}
    if w == "serve_chain":
        recv = [None if r is None else r for r in s.get("deliver.recv_ms", [])]
        lat = stats.due_latencies(s.get("deliver.due_ms", []), recv)
        m["p50_ms"] = pct(lat, 50)
        # the median over one-second windows of each window's p95: a run
        # has about 30 micro-batches, so its pooled p95 is set by the two
        # slowest and swings with them
        m["tail_ms"] = stats.windowed_percentile(s.get("deliver.due_ms", []), lat, 1000, 95) or 0.0
        m["throughput_per_s"] = med(s.get("backfill_eps", []))
        m["read_p50_ms"] = med(s.get("backfill_read_p50_ms", []))
        detail = {"deliver_p50_ms": m["p50_ms"], "deliver_window_p95_ms": m["tail_ms"],
                  "deliver_p95_ms": pct(lat, 95), "deliver_p99_ms": pct(lat, 99),
                  "backfill_eps": m["throughput_per_s"],
                  "deliveries": len(lat),
                  "tail_level_supported": stats.tail_level(len(lat)),
                  "offered_eps": 1000, "gen_late_ms_p99": pct(s.get("gen.late_ms", []), 99)}
    elif w == "query_mix":
        # per-key medians over the timed passes: the key order is shuffled,
        # so pooled percentiles would jump between neighbouring keys
        keys = s.get("key_ms", [])
        per_key = sorted(med(v) for k, v in s.items() if k.startswith("key_ms."))
        m["p50_ms"] = med(per_key)
        # the mean of the slowest quarter of the keys (3 of 12): one key's
        # median alone swings with that key's run-to-run noise
        m["tail_ms"] = stats.top_mean(per_key, 0.25) or 0.0
        m["throughput_per_s"] = len(per_key) / med(s.get("mix_pass_s", [])) if keys else 0.0
        m["read_p50_ms"] = m["p50_ms"]
        detail = {"mix_pass_s": med(s.get("mix_pass_s", [])),
                  "passes": len(s.get("mix_pass_s", [])), "key_runs": len(keys),
                  "key_p50_ms": pct(keys, 50), "key_p90_ms": pct(keys, 90),
                  "tail_level_supported": stats.tail_level(len(keys))}
    else:
        wr, rd = s.get("write_ms", []), s.get("read_ms", [])
        kinds = [med(s.get(f"acid.{op}_ms", [])) for op in ("append", "merge", "delete", "optimize")]
        # the median of the small writes (append, delete) and of the
        # slowest kind (merge): pooled over kinds, a percentile of about
        # a dozen writes jumps between the kinds' clusters
        m["p50_ms"] = pct(s.get("acid.append_ms", []) + s.get("acid.delete_ms", []), 50)
        m["tail_ms"] = max(kinds)
        m["throughput_per_s"] = (len(wr) + len(rd)) / ((sum(wr) + sum(rd)) / 1000.0) if wr else 0.0
        m["read_p50_ms"] = pct(rd, 50)
        detail = {"small_write_p50_ms": m["p50_ms"], "dml_p50_ms": pct(wr, 50),
                  "dml_p90_ms": pct(wr, 90),
                  "slowest_kind_median_ms": m["tail_ms"],
                  "dml_ops_per_s": m["throughput_per_s"], "read_p50_ms": m["read_p50_ms"],
                  "read_p90_ms": pct(rd, 90), "writes": len(wr), "reads": len(rd),
                  "tail_level_supported": stats.tail_level(len(wr))}
    for k in ("heap_peak_mb", "gc_ms", "jit_ms"):
        detail[f"jvm_{k}"] = sc.get(f"jvm.{k}", 0)
    return m, detail


def check_rows(raw, data, rec):
    """query_mix: every run's row count equals DuckDB's count of the key's
    oracle SQL (computed once per fixture, untimed)."""
    oracle = raw["provenance"].get("oracle_sql") or {}
    if not oracle:
        return
    want = duckdb_counts(data, oracle)
    for k in oracle:
        for n in rec["samples"].get(f"rows.{k}", []):
            if int(n) != want[k]:
                rec["failed"] += 1
                rec["failures"].append(f"query_mix {k}: {int(n)} rows, DuckDB has {want[k]}")


def per_layer(raw, e2e_plain, e2e_traced, names):
    """Every per-layer metric named in BENCHMARK.json (0 where the workload
    does not exercise the layer)."""
    w = raw["workload"]
    rec, tr = raw["record"], raw["trace"]
    s, sc = rec["samples"], rec["scalars"]
    counts = tr["counts"]
    spans = tr["spans"]
    run_span = next(sp for sp in spans if sp["name"] == "run")
    window = run_span["end"] - run_span["start"]
    jobs = [j for j in tr["jobs"] if j["end"] >= 0 and run_span["start"] <= j["start"] <= run_span["end"]]
    runs = set(tr["query_links"])
    # one progress record per executed micro-batch
    batches = {}
    for p in tr["progress"]:
        if p["run_id"] in runs and "addBatch" in p["duration"]:
            batches[(p["run_id"], p["batch"])] = p
    batches = list(batches.values())
    d = lambda k: [b["duration"].get(k, 0) for b in batches]  # noqa: E731
    # the warm-up pass (cycle) is in the trace too, so it counts as a unit
    if w == "query_mix":
        units = max(1, len(s.get("mix_pass_s", [])) + len(s.get("warm.mix_pass_s", [])))
    elif w == "table_dml":
        units = max(1, sum(len(s.get(p + k, [])) for p in ("", "warm.")
                           for k in ("write_ms", "read_ms")))
    else:
        units = max(1, len(batches))
    m = {n: 0.0 for n in names}

    def put(k, v):
        if k in m and v is not None:
            m[k] = float(v)

    put("graftlog.append_ms.p50", pct(s.get("graftlog.append_ms", []), 50))
    put("graftlog.append_ms.p99", pct(s.get("graftlog.append_ms", []), 99))
    put("graftlog.latest_offset_ms.p50", pct(d("latestOffset"), 50))
    put("graftlog.latest_offset_ms.p99", pct(d("latestOffset"), 99))
    put("graftlog.get_batch_ms.p50", pct(d("getBatch"), 50))
    put("graftlog.segments", sc.get("graftlog.segments", 0))
    put("graftlog.stage_s", med(s.get("graftlog.stage_s", [])))

    stream_jobs = [j for j in tr["jobs"] if j["group"] in runs]
    put("batch.count", len(batches))
    put("batch.rows.mean", statistics.mean([b["rows"] for b in batches]) if batches else 0)
    put("batch.trigger_ms.p50", pct(d("triggerExecution"), 50))
    put("batch.trigger_ms.p99", pct(d("triggerExecution"), 99))
    put("batch.planning_ms.p50", pct(d("queryPlanning"), 50))
    put("batch.add_batch_ms.p50", pct(d("addBatch"), 50))
    put("batch.add_batch_ms.p99", pct(d("addBatch"), 99))
    put("batch.wal_commit_ms.p50", pct(d("walCommit"), 50))
    put("batch.commit_offsets_ms.p50", pct(d("commitOffsets"), 50))
    put("batch.jobs", len(stream_jobs) / len(batches) if batches else 0)
    if batches:
        busy, life = 0.0, 0.0
        for r in runs:
            bs = [b for b in batches if b["run_id"] == r]
            if bs:
                busy += sum(b["duration"].get("triggerExecution", 0) for b in bs)
                life += max(b["start"] + b["duration"].get("triggerExecution", 0) for b in bs) \
                    - min(b["start"] for b in bs)
        put("batch.idle_frac", 1 - busy / life if life > 0 else 0)

    st = [o for b in batches for o in b["state"]]
    put("state.commit_ms.p50", pct([o["commit_ms"] for o in st], 50))
    put("state.commit_ms.p99", pct([o["commit_ms"] for o in st], 99))
    put("state.fsync_ms.p50", pct([o["custom"].get("rocksdbCommitFileSyncLatencyMs", 0) for o in st], 50))
    put("state.rows_updated", sum(o["rows_updated"] for o in st))
    put("state.memory_bytes", max([o["memory_bytes"] for o in st], default=0))
    put("state.stores_per_batch", pct([o["stores"] for o in st], 50))

    put("serve.attach_ms", pct(s.get("serve.attach_ms", []), 50))
    put("serve.first_line_ms", pct(s.get("serve.first_line_ms", []), 50))
    put("serve.connections_per_batch",
        counts.get("serve.connections", 0) / len(batches) if batches else 0)
    put("serve.lines", counts.get("serve.lines", 0))
    if counts.get("serve.unique_lines"):
        put("serve.redelivered_ratio",
            (counts["serve.lines"] - counts["serve.unique_lines"]) / counts["serve.unique_lines"])

    passes = max(1, len(s.get("mix_pass_s", [])))
    if w == "query_mix":
        put("mix.pass_s", med(s.get("mix_pass_s", [])))
        put("mix.passes", len(s.get("mix_pass_s", [])))
        put("entry.build_ms", sum(s.get("entry.build_ms", [])) / passes)
        put("entry.count_ms", sum(s.get("entry.count_ms", [])) / passes)
    for ph in ("analysis", "optimization", "planning"):
        put(f"plan.{ph}_ms", sum(p["phases"].get(ph, {}).get("ms", 0) for p in tr["plans"]) / units)

    put("sched.jobs", len(jobs) / units)
    put("sched.stages", sum(j["stages"] for j in jobs) / units)
    put("sched.tasks", sum(j["tasks"] for j in jobs) / units)
    # time inside the benchmark's calls into a layer with no job running
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["group"], []).append((j["start"], j["end"]))
    gap = 0.0
    for sp in spans:
        if sp["layer"] in ("entry", "acid"):
            gap += (sp["end"] - sp["start"]) - stats.union_ms(
                jobs_of.get(f"span-{sp['id']}", []), sp["start"], sp["end"])
    for b in batches:
        t0 = b["start"]
        t1 = t0 + b["duration"].get("triggerExecution", 0)
        gap += (t1 - t0) - stats.union_ms(jobs_of.get(b["run_id"], []), t0, t1)
    put("sched.driver_gap_ms", gap / units)
    for k, f in (("exec.run_ms", "run_ms"), ("exec.cpu_ms", "cpu_ms"), ("exec.gc_ms", "gc_ms"),
                 ("shuffle.write_bytes", "shuffle_write_bytes"),
                 ("shuffle.read_bytes", "shuffle_read_bytes"),
                 ("shuffle.fetch_wait_ms", "fetch_wait_ms"),
                 ("scan.bytes", "scan_bytes"), ("scan.rows", "scan_rows")):
        put(k, sum(j[f] for j in jobs) / units)
    cores = raw["provenance"]["cores"]
    put("exec.busy_frac", sum(j["run_ms"] for j in jobs) / (window * cores) if window > 0 else 0)

    for op in ("append", "merge", "delete", "optimize", "read", "read_version"):
        xs = s.get(f"acid.{op}_ms", [])
        put(f"acid.{op}_ms.p50", pct(xs, 50))
        put(f"acid.{op}_ms.p90", pct(xs, 90))
        op_spans = {f"span-{sp['id']}" for sp in spans if sp["name"] == f"acid.{op}"}
        if op_spans:
            put(f"acid.jobs_per_op.{op}",
                sum(1 for j in jobs if j["group"] in op_spans) / len(op_spans))
    put("acid.files_per_commit", med(s.get("acid.files_per_commit", [])))
    put("acid.write_amp", stats.write_amp(s.get("acid.bytes_added", []), s.get("acid.input_bytes", [])))
    for k in ("acid.live_files", "acid.manifest_bytes", "acid.versions"):
        put(k, sc.get(k, 0))

    put("gen.late_ms.p99", pct(s.get("gen.late_ms", []), 99))
    put("tmp.ckpt_bytes", sc.get("tmp.ckpt_bytes", 0))
    for k in ("jvm.heap_peak_mb", "jvm.gc_ms", "jvm.jit_ms"):
        put(k, sc.get(k, 0))
    put("baseline1.backfill_eps", sc.get("baseline1.backfill_eps", 0))
    selfs = stats.self_times(spans)
    for sp in spans:
        k = f"self_ms.{sp['layer']}"
        if k in m:
            m[k] += selfs[sp["id"]]
    for k, v in e2e_plain.items():
        if v:
            put(f"trace.overhead_frac.{k}", (e2e_traced[k] - v) / v)
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stop request unwinds through run_group, which kills the child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    cp = build()
    data = fixture(args.seed)
    # the first run's build is not counted against the run's time limit
    deadline = time.time() + DEADLINE_S

    raw = run_jvm(cp, args, data, 0, deadline)
    rec = raw["record"]
    check_rows(raw, data, rec)
    e2e, detail = end_to_end(raw)
    if args.trace:
        traced = run_jvm(cp, args, data, 1, deadline)
        check_rows(traced, data, traced["record"])
        e2e_t, _ = end_to_end(traced)
        for k in ("attempted", "failed"):
            rec[k] += traced["record"][k]
        rec["failures"] += traced["record"]["failures"]
        rec["invalid"] = rec["invalid"] or traced["record"]["invalid"]
        names = [x["name"] for x in spec["per_layer"]]
        units = {x["name"]: x["unit"] for x in spec["per_layer"]}
        values = per_layer(traced, e2e, e2e_t, names)
    else:
        names = [x["name"] for x in spec["end_to_end"]]
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
        values = e2e
    finite = all(abs(values[n]) < float("inf") for n in names)
    correct = rec["failed"] == 0 and rec["invalid"] is None and finite
    big = 1e12  # a missing event makes a latency infinite; JSON has no inf
    metrics = {n: {"value": values[n] if abs(values[n]) < big else big, "unit": units[n]}
               for n in names}
    print(json.dumps({"workload": args.workload, "detail": detail,
                      "failures": rec["failures"], "invalid": rec["invalid"],
                      "provenance": dict(raw["provenance"], commit=commit(),
                                         source_hash=source_hash(),
                                         why=next((x["why"] for x in spec["workloads"]
                                                   if x["name"] == args.workload), None))}))
    print(json.dumps({"correct": correct, "attempted": max(1, rec["attempted"]),
                      "failed": rec["failed"], "metrics": metrics}))


def commit():
    """The checkout's commit, when it is a git work tree (else None)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


if __name__ == "__main__":
    main()
