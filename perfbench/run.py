#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload batch_gates|etl_bulk|stream \
      --seed N --seconds S --trace 0|1

The script builds the product and the harness from source (sbt, cached
by a source digest), generates the seeded inputs (cached per seed), wipes
the run's scratch state, runs the harness JVM (graft.perfbench.Main), checks
every output against a reference, and prints the metrics. All state lives
under .bench_build/perfbench in the repository root.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The line before it is a detail report: every metric with its
unit and sample count, the input digests, load and contention evidence,
and every recorded failure.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import keys  # noqa: E402

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
DEADLINE_S = 175          # every run must end within 180 s
BUILD_DEADLINE_S = 850    # the first run in a checkout may build

# scale of each workload's inputs
TABLES_SF, TINY_SF = 0.01, 0.001
ETL_RECORDS, ETL_MSGS = 1_800_000, 360_000
ETL_TINY_RECORDS, ETL_TINY_MSGS = 20_000, 4_000
# the drain: 50 micro-batches each for the windowed count and the
# graft-txn sink, and few for the RocksDB transformWithState query, whose
# state commits cost far more per batch (one batch)
BACKLOG_FILES, BACKLOG_ROWS = 100, 3_000
MAX_FILES_PER_TRIGGER = {"windowed": 2, "running_tws": 100, "txn_sink": 2}
BACKLOG_TINY_FILES = 3
SEED_CACHES_KEPT = 3
# contention: CPU the rest of the machine uses, in cores (about 0 on an
# idle box). Before the JVM starts, the run waits (up to SETTLE_MAX_S)
# until others use less than OTHERS_MAX_CORES; a run during which they
# used more on average is flagged as contended.
OTHERS_MAX_CORES, SETTLE_MAX_S = 0.25, 20
# ROADMAP item 1's bar for a traced run
COVERAGE_BAR = 0.8


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def wipe(path):
    """Remove a scratch root; a symlink is removed as a link, never
    followed."""
    if os.path.islink(path):
        os.unlink(path)
    elif os.path.exists(path):
        shutil.rmtree(path)
    if os.path.lexists(path):
        fail(f"scratch root {path} survived cleanup", 1)


# ----------------------------------------------------------- contention

def cpu_sample():
    """(monotonic s, machine busy s, stolen s, CPU s of this process and
    its waited-for children). Busy and stolen time come from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    own = sum(getattr(resource.getrusage(who), k)
              for who in (resource.RUSAGE_SELF, resource.RUSAGE_CHILDREN)
              for k in ("ru_utime", "ru_stime"))
    # user nice system idle iowait irq softirq steal
    return (time.monotonic(), (f[0] + f[1] + f[2] + f[5] + f[6]) / hz,
            f[7] / hz, own)


def other_cores(a, b):
    """Cores the rest of the machine kept busy between two samples: busy
    time not spent by this process tree, plus time the hypervisor stole."""
    return ((b[1] - a[1]) - (b[3] - a[3]) + (b[2] - a[2])) / max(1e-9, b[0] - a[0])


def settle():
    """Wait until others' load is below OTHERS_MAX_CORES over half a second,
    or SETTLE_MAX_S has passed. Returns (seconds waited, last load)."""
    t0 = time.monotonic()
    while True:
        a = cpu_sample()
        time.sleep(0.5)
        load = other_cores(a, cpu_sample())
        if load < OTHERS_MAX_CORES or time.monotonic() - t0 > SETTLE_MAX_S:
            return time.monotonic() - t0, load


# ---------------------------------------------------------------- build

def source_digest(root):
    h = hashlib.sha256()
    for top in ["build.sbt", "project", "src", "perfbench"]:
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(base)
            if "target" not in d.split(os.sep) and "project/project" not in d
            for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")) or \
                    "resources" in p.split(os.sep):
                h.update(p[len(root):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile the product and the harness; return the runtime classpath."""
    stamp = os.path.join(state, "build.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            meta = json.load(fh)
        if meta["digest"] == digest:
            return meta["classpath"]
    log = os.path.join(state, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_DEADLINE_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        with open(log, "a") as out:
            out.write(proc.stdout)
        fail(f"build failed (exit {proc.returncode}); see {log}", 1)
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


# --------------------------------------------------------------- inputs

def prune_seed_caches(inputs, prefix, keep):
    sets = sorted((d for d in os.listdir(inputs)
                   if d.startswith(prefix) and not d.endswith(".json")),
                  key=lambda d: os.path.getmtime(os.path.join(inputs, d)))
    for d in sets[:-keep] if keep else sets:
        wipe(os.path.join(inputs, d))
        done = os.path.join(inputs, d + ".done.json")
        if os.path.exists(done):
            os.remove(done)


def prepare_inputs(workload, seed, inputs):
    """Generate (or reuse) the inputs; returns (config, expect, digests)."""
    cfg, expect, digests = {}, {}, {}

    def get(name, fn):
        d = os.path.join(inputs, name)
        digest, exp = gen.cached(d, fn)
        os.utime(d)
        digests[name] = digest
        return d, exp

    # the gate keys' tables are fixed; the seed only orders the keys
    cfg["tables"], _ = get(f"tables-sf{TABLES_SF}",
                           lambda o: gen.gen_tables(o, TABLES_SF))
    cfg["tiny"], _ = get(f"tables-sf{TINY_SF}",
                         lambda o: gen.gen_tables(o, TINY_SF))
    if workload == "etl_bulk":
        cfg["etl"], expect = get(f"etl-seed{seed}", lambda o: gen.gen_etl(
            o, seed, ETL_RECORDS, ETL_MSGS))
        cfg["etl_tiny"], _ = get(f"etl-tiny-seed{seed}", lambda o: gen.gen_etl(
            o, seed, ETL_TINY_RECORDS, ETL_TINY_MSGS, n_files=4))
        for p in ("etl-seed", "etl-tiny-seed"):
            prune_seed_caches(inputs, p, SEED_CACHES_KEPT)
    elif workload == "stream":
        d, expect = get(f"backlog-seed{seed}", lambda o: gen.gen_backlog(
            o, seed, BACKLOG_FILES, BACKLOG_ROWS))
        cfg["backlog"] = os.path.join(d, "files")
        d, _ = get(f"backlog-tiny-seed{seed}", lambda o: gen.gen_backlog(
            o, seed, BACKLOG_TINY_FILES, BACKLOG_ROWS // 4))
        cfg["backlog_tiny"] = os.path.join(d, "files")
        for q, n in MAX_FILES_PER_TRIGGER.items():
            cfg[f"max_files_per_trigger_{q}"] = n
        for p in ("backlog-seed", "backlog-tiny-seed"):
            prune_seed_caches(inputs, p, SEED_CACHES_KEPT)
    cfg["keys"] = keys.BATCH_GATES if workload == "batch_gates" else []
    # each gate key's time is the better of two passes in two seeded
    # orders: one pass of 33 short keys varies too much from run to run;
    # the other workloads' passes hold longer operations
    cfg["min_passes"] = 2 if workload == "batch_gates" else 1
    cfg["warmup_keys"] = keys.BATCH_WARMUP if workload == "batch_gates" else []
    return cfg, expect, digests


# ------------------------------------------------------------------ jvm

def run_jvm(classpath, run, cfg, deadline):
    cfg_path = os.path.join(run, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run, "local"),
               SPARK_LOCAL_DIRS=os.path.join(run, "local"))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run, d))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Xmn256m", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
            f"-Dderby.system.home={run}",
            "-cp", classpath, "graft.perfbench.Main", cfg_path]
    with open(os.path.join(run, "jvm.out"), "w") as out, \
            open(os.path.join(run, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=run, env=env, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=err, start_new_session=True)
        try:
            code = proc.wait(timeout=max(5, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail("harness JVM exceeded the run deadline", 1)
        finally:
            # on every way out, the JVM and anything it started end with us
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(cfg["out"]):
        with open(os.path.join(run, "jvm.err")) as fh:
            tail = fh.read()[-3000:]
        fail(f"harness JVM exited with {code}:\n{tail}", 1)
    with open(cfg["out"]) as fh:
        return json.load(fh)


# --------------------------------------------------------------- checks

def canonical(con, query):
    """(sorted column names, row count, digest of the sorted string rows)
    — the repository's oracle comparator, made order-free."""
    df = con.sql(query).df()
    cols = sorted(df.columns)
    rows = sorted("\x01".join(r) for r in
                  df[cols].astype(str).itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return cols, len(rows), h


def check_gates(result, tables, tables_digest, run, oracle_cache, failures):
    """Compare each gate key's dumped result with the DuckDB oracle
    (rows-only for the sketch keys), and every timed sample's row count
    with the dump's. Returns the number of wrong keys."""
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    cache = {}
    if os.path.exists(oracle_cache):
        with open(oracle_cache) as fh:
            cache = json.load(fh)
    oracle = result["oracle_sql"]
    dumps = [o for o in result["ops"] if o["phase"] == "dump" and o["error"] is None]
    wrong = 0
    for op in dumps:
        key = op["name"]
        path = os.path.join(run, "out", key)
        got = canonical(con, f"SELECT * FROM '{path}/*.parquet'")
        bad = None
        if key in oracle:
            ck = hashlib.sha256((tables_digest + oracle[key]).encode()).hexdigest()
            if ck not in cache:
                cache[ck] = canonical(con, oracle[key])
            want = cache[ck]
            if got[0] != want[0]:
                bad = f"columns {got[0]} != oracle {want[0]}"
            elif got[1] != want[1]:
                bad = f"rows {got[1]} != oracle {want[1]}"
            elif key not in keys.ROWS_ONLY and got[2] != want[2]:
                bad = "result differs from the DuckDB oracle"
        samples = [o["facts"].get("rows") for o in result["ops"]
                   if o["name"] == key and o["phase"] in ("timed", "traced")
                   and o["error"] is None]
        if not bad and any(n != got[1] for n in samples):
            bad = f"timed row counts {sorted(set(samples))} != checked {got[1]}"
        if bad:
            wrong += 1
            failures.append({"op": key, "error": f"wrong output: {bad}"})
    with open(oracle_cache, "w") as fh:
        json.dump(cache, fh)
    return wrong


def check_expect(result, checks, failures):
    """`checks`: (op name, phase, fact, expected). Every matching op's fact
    must equal the expectation derived from the seed."""
    wrong = 0
    for name, phase, fact, want in checks:
        ops = [o for o in result["ops"] if o["name"] == name
               and o["phase"] == phase and o["error"] is None]
        if not ops:
            wrong += 1
            failures.append({"op": name, "error": f"no {phase} result to check"})
        for o in ops:
            if o["facts"].get(fact) != want:
                wrong += 1
                failures.append({"op": name, "error":
                                 f"wrong output: {fact}={o['facts'].get(fact)} "
                                 f"expected {want}"})
    return wrong


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def lower_median(xs):
    """The product bench's per-key statistic: the median of an odd count,
    the lower middle value of an even one (the best of two)."""
    return sorted(xs)[(len(xs) - 1) // 2] if xs else 0.0


def pct(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, min(len(xs) - 1, -(-len(xs) * p // 100) - 1))] if xs else 0.0


def per_name_median(ops):
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["seconds"])
    return {k: lower_median(v) for k, v in by.items()}


def heap_peak(result, ops):
    """(largest heap occupancy after a collection that began inside one
    of `ops`, MB; the number of such collections)."""
    iv = sorted((o["start_ms"], o["start_ms"] + o["seconds"] * 1000) for o in ops)
    inside = [mb for ms, mb in result["collections"]
              if any(a <= ms <= b for a, b in iv)]
    if not inside:
        raise ValueError("no garbage collection ran inside a timed operation")
    return max(inside), "MB", len(inside)


def end_to_end(result, workload, expect):
    timed = [o for o in result["ops"] if o["phase"] == "timed" and o["error"] is None]
    med = per_name_median(timed)
    jobs = list(med.values())
    if workload == "stream":
        # a drain query is many jobs: its micro-batches count one by one
        jobs = [ms / 1000 for o in timed if o["name"].startswith("drain_")
                for ms in o["facts"]["trigger_ms"]]
    m = {
        "setup_s": (median(result["setup_s"]), "s", len(result["setup_s"])),
        "wall_s": (sum(med.values()), "s", len(timed)),
        "job_p50_s": (median(jobs), "s", len(jobs)),
        "job_p95_s": (pct(jobs, 95), "s", len(jobs)),
        "heap_peak_mb": heap_peak(result, timed),
    }
    if workload == "etl_bulk":
        rows = expect["records"] + expect["msgs"] + expect["updated"] + expect["inserted"]
        m["rows_per_s"] = (rows / m["wall_s"][0], "1/s", len(timed))
        v = [o for o in result["ops"] if o["name"] == "verify"][-1]["facts"]
        m["out_bytes_per_in_byte"] = (v["out_bytes"] / v["in_bytes"], "ratio", 1)
    if workload == "stream":
        drains = [o for o in timed if o["name"].startswith("drain_")]
        dmed = per_name_median(drains)
        rows = sum(o["facts"]["input_rows"] for o in drains) / max(1, result["timed_passes"])
        m["rows_per_s"] = (rows / sum(dmed.values()), "1/s", len(drains))
        trig = [t / 1000 for o in drains for t in o["facts"]["trigger_ms"]]
        m["batch_p50_s"] = (median(trig), "s", len(trig))
        m["batch_p90_s"] = (pct(trig, 90), "s", len(trig))
    return m


def per_layer(result, workload, untraced_wall):
    tr = result["trace"]
    ops = [o for o in result["ops"] if o["phase"] == "traced"]
    t = [tr["ops"].get(o["group"], {}) for o in ops]

    def tot(k):
        return sum(x.get(k, 0) for x in t)

    def span(name):
        return sum(x.get("spans", {}).get(name, 0) for x in t)

    def fact(k, names=None):
        return sum(o["facts"].get(k, 0) for o in ops
                   if names is None or o["name"].startswith(names))
    ok = [o for o in ops if o["error"] is None]
    traced_wall = sum(per_name_median(ok).values())
    last_verify = [o["facts"] for o in result["ops"] if o["phase"] == "verify"
                   and o["name"] in ("verify", "drain")]
    lv = last_verify[-1] if last_verify else {}
    m = {
        "driver.build_s": span("driver.build"), "driver.plan_s": span("driver.plan"),
        "driver.gap_s": sum(o["seconds"] - x.get("job_covered_s", 0)
                            for o, x in zip(ops, t)),
        "spark.jobs": tot("jobs"), "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"), "spark.task_run_s": tot("task_run_s"),
        "spark.task_cpu_s": tot("task_cpu_s"), "spark.sched_wait_s": tot("sched_wait_s"),
        "spark.gc_s": tot("gc_s"), "spark.failed_tasks": tot("failed_tasks"),
        "shuffle.exchanges": tot("exchanges"),
        "shuffle.write_bytes": tot("shuffle_write_bytes"),
        "shuffle.write_s": tot("shuffle_write_s"),
        "shuffle.fetch_wait_s": tot("fetch_wait_s"),
        "spill.disk_bytes": tot("spill_disk_bytes"),
        "sources.files_read": tot("files_read"), "sources.bytes_read": tot("bytes_read"),
        "sources.rows_read": tot("rows_read"), "sources.scan_s": tot("scan_s"),
        "pipeline.codegen_stages": tot("codegen_stages"),
        "pipeline.xform_s": tr["extras"].get("pipeline.xform_s", 0.0),
        "connector.check_s": span("connector.check"),
        "connector.discover_s": span("connector.discover"),
        "connector.start_s": span("connector.start"),
        "sinks.write_s": span("sinks.write"),
        "sinks.files_written": tot("written_files"),
        "sinks.bytes_written": tot("written_bytes"),
        "txn.commit_s": span("txn.commit"), "txn.merge_s": span("txn.merge"),
        "txn.read_s": span("txn.read"), "txn.driver_s": tot("txn_driver_s"),
        "txn.log_files": lv.get("txn_log_files", 0),
        "txn.log_bytes": lv.get("txn_log_bytes", 0),
        "txn.files_scanned": tr["extras"].get("txn.files_scanned", 0.0),
        "txn.prune_ratio": tr["extras"].get("txn.prune_ratio", 0.0),
    }
    for f in keys.FAMILIES:
        m[f"family.{f}_s"] = sum(o["seconds"] for o in ops
                                 if o["name"].split("_")[0] == f)
    dedup = [(o, x) for o, x in zip(ops, t) if o["name"].startswith("dedup_")]
    join_rows = sum(x.get("join_rows", 0) for _, x in dedup)
    m["dedup.join_rows"] = join_rows
    m["dedup.pair_yield"] = (sum(o["facts"].get("rows", 0) for o, _ in dedup)
                             / join_rows) if join_rows else 0.0
    drains = [o for o in ops if o["name"].startswith("drain_")]
    m.update({
        "streaming.batches": sum(o["facts"].get("batches", 0) for o in drains),
        "streaming.add_batch_s": fact("add_batch_ms", "drain_") / 1000,
        "streaming.latest_offset_s": fact("latest_offset_ms", "drain_") / 1000,
        "streaming.plan_s": fact("plan_ms", "drain_") / 1000,
        "streaming.wal_commit_s": fact("wal_commit_ms", "drain_") / 1000,
        "streaming.state_commit_s": fact("state_commit_ms", "drain_") / 1000,
        "streaming.state_rows": fact("state_rows", "drain_"),
        "streaming.state_mem_bytes": fact("state_mem_bytes", "drain_"),
        "streaming.late_rows_dropped": fact("late_rows_dropped", "drain_"),
        "streaming.checkpoint_bytes": lv.get("checkpoint_bytes", 0),
    })
    for layer in keys.LAYERS:
        m[f"self.{layer}_s"] = tr["layer_self_s"].get(layer, 0.0)
    m["trace.overhead_s"] = traced_wall - untraced_wall
    # ROADMAP item 1's bar: Spark jobs plus recorded driver time must
    # cover at least 80% of the wall time of the 20 most expensive ops
    top = sorted(zip(ops, t), key=lambda p: -p[0]["seconds"])[:20]
    wall = sum(o["seconds"] for o, _ in top)
    m["trace.coverage_top20"] = sum(x.get("covered_s", 0) for _, x in top) / wall \
        if wall else 0.0
    return m


UNITS = {"_s": "s", "_bytes": "bytes", "_ratio": "ratio", "_yield": "ratio",
         "_top20": "ratio"}


def unit_of(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


# ----------------------------------------------------------------- main

def main():
    # a terminated benchmark unwinds normally, so its children are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["batch_gates", "etl_bulk", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()
    load_start = os.getloadavg()[0]
    cores = len(os.sched_getaffinity(0))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and os.path.isfile(
            os.path.join(root, "src/main/scala/graft/SparkEntry.scala"))):
        fail("run from the root of a graft checkout: the product sources "
             "(build.sbt, src/main/scala/graft) are missing")
    state = os.path.join(root, ".bench_build", "perfbench")
    inputs = os.path.join(state, "inputs")
    os.makedirs(inputs, exist_ok=True)

    classpath = build(root, state)
    built = time.monotonic()
    cfg, expect, digests = prepare_inputs(a.workload, a.seed, inputs)
    prepared = time.monotonic()

    run = os.path.join(state, "run")
    wipe(run)
    os.makedirs(run)
    traces = os.path.join(state, "traces")
    os.makedirs(traces, exist_ok=True)
    cfg.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
               trace=bool(a.trace), work=run,
               out=os.path.join(run, "result.json"),
               spans=os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    # flush the writes of input generation and the wipe now, not
    # inside the timed region
    os.sync()
    synced = time.monotonic()
    settled_s, load_before = settle()
    cpu0 = cpu_sample()
    result = run_jvm(classpath, run, cfg, built + DEADLINE_S - 15)
    others = other_cores(cpu0, cpu_sample())
    ran = time.monotonic()

    failures = [{"op": o["name"], "phase": o["phase"], "error": o["error"]}
                for o in result["ops"] if o["error"] is not None]
    wrong = 0
    if a.workload == "batch_gates":
        wrong += check_gates(result, cfg["tables"], digests[f"tables-sf{TABLES_SF}"],
                             run, os.path.join(state, "oracle-cache.json"), failures)
    phases = ["timed"] + (["traced"] if a.trace else [])
    if a.workload == "etl_bulk":
        e = expect
        for ph in phases:
            wrong += check_expect(result, [
                ("records", ph, "rows", e["records"]),
                ("hl7", ph, "rows", e["segments"]),
                ("read", ph, "rows", e["read_rows"])], failures)
        wrong += check_expect(result, [
            ("verify", "verify", "records_rows", e["records"]),
            ("verify", "verify", "records_amount_cents", e["records_amount_cents"]),
            ("verify", "verify", "txn_rows", e["rows_after_merge"]),
            ("verify", "verify", "txn_zup", e["zup_after_merge"])], failures)
    if a.workload == "stream":
        e = expect
        checks = [("drain_running_tws", "verify", "rows", e["rows"]),
                  ("drain_running_tws", "verify", "sum_micros", e["value_cents"] * 10000),
                  ("drain_txn_sink", "verify", "rows", e["rows"])]
        for ph in phases:
            checks += [(f"drain_{q}", ph, "input_rows", e["rows"])
                       for q in MAX_FILES_PER_TRIGGER]
        # a late row (three hours old) is dropped by the one-hour
        # watermark from the third micro-batch on: the watermark exists
        # only after the first batch and takes effect a batch later
        first = 2 * MAX_FILES_PER_TRIGGER["windowed"]
        checks.append(("drain_windowed", "verify", "rows",
                       e["rows"] - sum(e["late_per_file"][first:])))
        wrong += check_expect(result, checks, failures)
        batches = [o["facts"]["batches"] for o in result["ops"]
                   if o["name"].startswith("drain_") and o["phase"] == "timed"]
        per_pass = sum(batches) / max(1, result["timed_passes"])
        if per_pass < 100:
            wrong += 1
            failures.append({"op": "drain", "error":
                             f"only {per_pass:.0f} micro-batches per pass (< 100)"})

    # drop the run's bulky scratch now: files deleted before writeback
    # never cost a later run's flush
    checked = time.monotonic()
    for d in ("local", "tmp", "etl", "drain", "out"):
        wipe(os.path.join(run, d))
    wiped = time.monotonic()

    attempted = len(result["ops"])
    failed = min(attempted, sum(1 for o in result["ops"] if o["error"]) + wrong)
    try:
        e2e = end_to_end(result, a.workload, expect)
    except (KeyError, IndexError, ValueError, ZeroDivisionError) as err:
        # a run whose failures left a metric without samples
        failures.append({"op": "metrics", "error": f"{type(err).__name__}: {err}"})
        failed, e2e = max(failed, 1), {}
    e2e["failed_frac"] = (failed / attempted, "ratio", attempted)
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "input_digests": digests,
        "metrics": {k: {"value": v, "unit": u, "samples": n}
                    for k, (v, u, n) in e2e.items()},
        "timed_passes": result["timed_passes"],
        "cores": cores, "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        # CPU the rest of the machine used (cores): before the run, after
        # waiting settle_s for it to drop, and while the harness JVM ran
        "settle_s": settled_s, "other_cores_before": load_before,
        "other_cores": others, "contended": others > OTHERS_MAX_CORES,
        "loadavg_per_op": [round(o["loadavg"], 2) for o in result["ops"]
                           if o["phase"] == "timed"],
        "other_cores_per_op": [None if o["other_cores"] is None
                               else round(o["other_cores"], 2)
                               for o in result["ops"] if o["phase"] == "timed"],
        # heap in use after forced full collections at pass boundaries
        "heap_boundary_mb": result["heap_after_full_gc_mb"],
        "failures": failures,
        "op_s": {k: round(v, 4) for k, v in per_name_median(
            [o for o in result["ops"] if o["phase"] == "timed"]).items()},
        "harness_s": {"build": built - started, "inputs": prepared - built,
                      "sync": synced - prepared, "settle": settled_s,
                      "jvm": ran - synced - settled_s,
                      "check": checked - ran, "wipe": wiped - checked},
        "jvm_phases_s": result["phases_s"],
    }
    if a.trace:
        layers = per_layer(result, a.workload, e2e.get("wall_s", (0,))[0])
        detail["per_layer"] = {k: {"value": v, "unit": unit_of(k)}
                               for k, v in layers.items()}
        detail["spans"] = os.path.relpath(cfg["spans"], root)
    if a.trace and a.workload == "batch_gates":
        cov = layers["trace.coverage_top20"]
        detail["coverage_bar"] = {"value": cov, "min": COVERAGE_BAR,
                                  "met": cov >= COVERAGE_BAR}
        if cov < COVERAGE_BAR:
            print(f"perfbench: ROADMAP item 1's bar not met: Spark jobs and "
                  f"driver spans cover {cov:.2f} of the 20 costliest "
                  f"operations' time (< {COVERAGE_BAR})", file=sys.stderr)
    print(json.dumps(detail))
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()
                   if k in keys.END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
