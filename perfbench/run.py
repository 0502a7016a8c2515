#!/usr/bin/env python3
"""graft's benchmark: runs one workload from a seed and prints its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds graft and the benchmark's JVM program from this
checkout's sources (sbt, offline) into target/ and the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse the build
while the sources are unchanged. The benchmark JVM runs the workload as a
closed loop with one client on local[<cores>] and writes a run record;
this script checks the outputs, derives the metrics and prints one JSON
object as the last line of stdout. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bro_corpus", "sql_analytics", "lakehouse_commits")


def data_root():
    """Where the input tables live: the read-only synthetic TPC-H-like
    fixtures graft's own tests and oracle use, at the location the
    repository's TESTDATA.md gives for them (GRAFT_BENCH_DATA overrides).
    Workloads run on sf0.1; bro_corpus and the warm-up of sql_analytics
    read sf0.01."""
    if "GRAFT_BENCH_DATA" in os.environ:
        return os.environ["GRAFT_BENCH_DATA"]
    doc = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.isfile(doc):
        raise SystemExit("perfbench: no TESTDATA.md: not a graft checkout")
    with open(doc) as f:
        m = re.search(r"`([^`]+)/sf0\.1/?`", f.read())
    if not m:
        raise SystemExit("perfbench: TESTDATA.md names no sf0.1 directory")
    return m.group(1)


JVM_TIMEOUT_S = 165
# a fixed heap: no run-to-run difference in how the heap grew
HEAP = "2g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- metrics

def percentile(values, q):
    """The q-quantile of `values` (nearest rank; the median for q = 0.5),
    or None when fewer than 10 samples lie above it: a tail percentile is
    reported only where it was measured, never estimated."""
    s = sorted(values)
    if not s:
        return None
    if q == 0.5:
        return statistics.median(s)
    k = math.ceil(q * len(s)) - 1
    return s[k] if len(s) - 1 - k >= 10 else None


def pass_seconds(ops):
    """One pass of the workload with every operation at its median: the
    sum over operation names of the median time of that operation."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["ms"])
    return sum(statistics.median(v) for v in by_name.values()) / 1e3


def stored_bytes_ratio(record):
    """On-disk bytes per plain byte. bro_corpus: the `.bro` and `.brf`
    file sets a pass writes per corpus byte, median over passes.
    lakehouse_commits: the bytes under the table location after the first
    pass per byte of its live rows as plain parquet (the JVM measures it).
    sql_analytics stores nothing, so stored equals plain: 1."""
    workload = record["workload"]
    if workload == "bro_corpus":
        per_pass = {}
        for o in record["ops"]:
            if isinstance(o["result"], dict) and "stored_bytes" in o["result"]:
                per_pass.setdefault(o["pass"], []).append(o["result"]["stored_bytes"])
        plain = record["finish"]["plain_bytes"]
        return statistics.median(sum(v) / (len(v) * plain) for v in per_pass.values())
    if workload == "lakehouse_commits":
        return record["finish"]["stored_bytes_ratio"]
    return 1.0


def end_to_end(record):
    """The end-to-end metrics of an untraced run, by name."""
    setup = record["setup"]
    ops = record["ops"]
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    return {
        "setup_s": (setup["session_s"] + statistics.median(setup["reps_s"])
                    + setup["warmup_s"], "s"),
        "wall_s": (pass_seconds(ops), "s"),
        "read_p50_ms": (percentile(reads, 0.5), "ms"),
        "stored_bytes_ratio": (stored_bytes_ratio(record), "ratio"),
        "live_heap_peak_mb": (record["live_heap_peak_mb"], "MB"),
    }


# a `.bro` write slower than this many times its read back means the
# encoder ran in its slow state (about 2 when compiled, 5 to 8 when not)
ENCODER_SLOW = 4.0


def summary(record, failed):
    """Every figure of the run that applies to its workload, for the run
    record: the per-kind latencies (p90 only with 100 or more samples),
    plain MB/s where the workload writes `.bro`/`.brf`, and the failed
    share. bro_corpus's writes are timed outside the clock (see
    BroCorpus in Workloads.scala); they are reported here, with whether
    graft's encoder ran slow in this JVM."""
    ops = record["ops"]
    out = {"failed_ratio": failed / len(ops) if ops else None}
    samples = {kind: [(o["ms"], o["plain_bytes"]) for o in ops if o["kind"] == kind]
               for kind in ("read", "write")}
    encodes = [o for o in ops if isinstance(o["result"], dict) and "write_ms" in o["result"]]
    if encodes:
        samples["write"] = [(o["result"]["write_ms"], o["plain_bytes"]) for o in encodes]
        bro = [o["result"]["write_ms"] / o["ms"] for o in encodes if o["name"] == "read_bro"]
        out["bro_write_to_read"] = statistics.median(bro)
        out["encoder_slow"] = out["bro_write_to_read"] > ENCODER_SLOW
    for kind, s in samples.items():
        ms = [m for m, _ in s]
        out[f"{kind}_ops"] = len(ms)
        out[f"{kind}_p50_ms"] = percentile(ms, 0.5)
        out[f"{kind}_p90_ms"] = percentile(ms, 0.9)
        plain = sum(b for _, b in s)
        if plain:
            out[f"{kind}_mb_s"] = plain / 1048576 / (sum(ms) / 1e3)
    return out


def per_layer(record, declared):
    """The per-layer metrics of a traced run, with their declared units.
    trace.overhead_pct compares the run's traced passes with its
    untraced ones."""
    layers = dict(record["layers"])
    traced = [o for o in record["ops"] if o["traced"]]
    untraced = [o for o in record["ops"] if not o["traced"]]
    layers["trace.overhead_pct"] = (pass_seconds(traced) / pass_seconds(untraced) - 1) * 100
    units = {m["name"]: m["unit"] for m in declared}
    return {k: (v, units.get(k)) for k, v in layers.items()}


def check_names(metrics, declared):
    """Refuses a result whose metric names or units differ from
    BENCHMARK.json's list, in either direction."""
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: u for k, (_, u) in metrics.items()}
    if got != want:
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}, "
                         f"units {sorted(k for k in got if k in want and got[k] != want[k])}")


# ----------------------------------------------------------------- checks

def count_failed(ops, wrong):
    """Operations that threw, plus those whose output `wrong(op)` rejects."""
    return sum(1 for o in ops if o.get("error") or wrong(o))


def corpus_expected(plain_dir):
    """Line count, character count and CRC32 sum of the plain corpus,
    computed here, independently of Spark (lines split as Hadoop does)."""
    n = chars = crc = 0
    for f in sorted(glob.glob(os.path.join(plain_dir, "part-*"))):
        with open(f, "rb") as fh:
            for line in fh.read().splitlines():
                n += 1
                chars += len(line.decode("utf-8"))
                crc += zlib.crc32(line)
    return [n, chars, crc]


def check_bro_corpus(record):
    """Every read must give the plain corpus's sums, from a write that
    stored a non-empty file set."""
    exp = corpus_expected(record["finish"]["plain_dir"])
    return lambda o: o["result"]["sums"] != exp or o["result"].get("stored_bytes", 1) <= 0


def table_digest(tables_dir):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def oracle_mismatches(dumps, cache_dir):
    """Entries whose dumped Spark output differs from DuckDB running the
    entry's oracle SQL on the same tables (tools/check.py's comparison).
    DuckDB's answer depends only on the SQL and the tables, so it is kept
    in the build directory, keyed by both."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import norm, TABLES
    digest = table_digest(dumps["tables_dir"])
    os.makedirs(cache_dir, exist_ok=True)
    bad = set()
    for name in sorted(os.listdir(dumps["check_dir"])):
        sql = dumps["oracle"].get(name)
        files = sorted(glob.glob(os.path.join(dumps["check_dir"], name, "*.parquet")))
        if sql is None or not files:
            log(f"{name}: no oracle or no output")
            bad.add(name)
            continue
        key = hashlib.sha256((digest + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, f"{name}-{key[:16]}.parquet")
        if os.path.isfile(cached):
            exp = pd.read_parquet(cached)
        else:
            con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(dumps["tables_dir"], f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            exp = norm(con.execute(sql).df())
            con.close()
            exp.to_parquet(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        got = norm(pd.concat([pd.read_parquet(f) for f in files]))
        if not (list(got.columns) == list(exp.columns) and len(got) == len(exp)
                and got.equals(exp)):
            log(f"{name}: output differs from the DuckDB oracle")
            bad.add(name)
    return bad


def check_registry(record):
    bad = oracle_mismatches(record["finish"], record["oracle_cache"])
    return lambda o: o["name"] in bad


def lakehouse_model(warm, data_dir):
    """A DuckDB table of the same orders rows the graft table starts from,
    with the functions that replay a commit on it and snapshot its
    aggregate per version."""
    import duckdb
    con = duckdb.connect()
    orders = os.path.join(data_dir, "orders.parquet")
    con.execute("CREATE TABLE src AS SELECT o_orderkey, o_custkey, o_orderstatus, "
                f"o_orderpriority, o_totalprice FROM read_parquet('{orders}')")
    con.execute(f"CREATE TABLE t AS SELECT * FROM src WHERE {warm['initial_where']}")
    agg_sql = ("SELECT count(*), coalesce(sum(o_orderkey), 0), "
               "coalesce(sum(o_custkey), 0) FROM t")
    state = {}

    def snapshot(v):
        state[v] = list(con.execute(agg_sql).fetchone())

    def apply(name, p):
        if name in ("insert", "stream_append"):
            con.execute("INSERT INTO t SELECT * FROM src WHERE o_orderkey BETWEEN ? AND ? "
                        "AND o_orderkey % 4 = 0", [p["lo"], p["hi"]])
        elif name == "delete":
            con.execute("DELETE FROM t WHERE o_orderkey BETWEEN ? AND ? "
                        "AND o_orderstatus = 'F'", [p["lo"], p["hi"]])
        elif name == "update":
            con.execute("UPDATE t SET o_custkey = o_custkey + 1 "
                        "WHERE o_orderkey BETWEEN ? AND ?", [p["lo"], p["hi"]])
        elif name == "merge":
            con.execute("CREATE OR REPLACE TEMP TABLE d AS SELECT o_orderkey, "
                        "o_custkey + 7 AS o_custkey, o_orderstatus, o_orderpriority, "
                        "o_totalprice FROM src WHERE o_orderkey BETWEEN ? AND ?",
                        [p["lo"], p["hi"]])
            con.execute("CREATE OR REPLACE TEMP TABLE fresh AS SELECT * FROM d "
                        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)")
            con.execute("UPDATE t SET o_custkey = d.o_custkey FROM d "
                        "WHERE t.o_orderkey = d.o_orderkey")
            con.execute("INSERT INTO t SELECT * FROM fresh")
        # optimize rewrites files, not rows

    snapshot(warm["initial_version"])
    return con, agg_sql, apply, snapshot, state


def check_lakehouse(record):
    warm = record["warmup"]
    con, agg_sql, apply, snapshot, state = lakehouse_model(
        warm, record["tables_dir"])
    wrong_ids = set()
    stream = [(None, o) for o in warm["ops"]] + list(enumerate(record["ops"]))
    for i, o in stream:
        r = o["result"]
        if r is None:
            continue  # the op threw; count_failed sees its error
        if "params" in r:
            apply(o["name"], r["params"])
            snapshot(r["version"])
            continue
        if "lo" in r:
            exp = list(con.execute(agg_sql + " WHERE o_orderkey BETWEEN ? AND ?",
                                   [r["lo"], r["hi"]]).fetchone())
        else:
            exp = state.get(r["version"])
        if r["agg"] != exp:
            log(f"{o['name']} at version {r['version']}: graft {r['agg']} model {exp}")
            if i is None:
                return lambda op: True  # the warm-up already diverged
            wrong_ids.add(i)
    con.close()
    index = {id(o): i for i, o in enumerate(record["ops"])}
    return lambda op: index[id(op)] in wrong_ids


CHECKS = {
    "bro_corpus": check_bro_corpus,
    "sql_analytics": check_registry,
    "lakehouse_commits": check_lakehouse,
}


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "native"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_cmd(classpath, work):
    """The benchmark JVM's command line, up to its main class; its
    temporary files go to `work`."""
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", "-cp", classpath, "graftbench.Main"]


def run_java(cmd, work, log_path, timeout):
    """Runs the benchmark JVM in `work` (its Spark local dirs too),
    output to `log_path`; it is killed if this process is interrupted."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: benchmark JVM timed out, log in {log_path}")
        finally:
            # on a timeout, a signal or any other exit, the JVM goes with us
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: benchmark JVM exited {rc}, log in {log_path}")


def build(build_dir):
    """Builds graft + the benchmark JVM program (sbt, as jars) and the
    native timer (gcc), unless the sources match the last build. Returns
    (classpath, native timer)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala"))):
        raise SystemExit("perfbench: graft's sources are not in this checkout")
    stamp_file = os.path.join(build_dir, "stamp.json")
    stamp = source_stamp()
    native = os.path.join(build_dir, "brotli_time")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            prev = json.load(f)
        if prev["stamp"] == stamp and os.path.isfile(native):
            return prev["classpath"], native
    log("building graft and the benchmark")
    os.makedirs(os.path.join(build_dir, "runs"), exist_ok=True)
    subprocess.run(["gcc", "-O2", "-o", native, os.path.join(HERE, "native", "brotli_time.c"),
                    "-lbrotlienc", "-lbrotlidec"], check=True, stdout=sys.stderr)
    # offline: dependencies resolve from the local caches only, through
    # the user's sbt repositories file when there is one
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env.setdefault("SBT_OPTS", opts)
    # jars, not class directories: what a run loads is fixed at build time
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspathAsJars"],
                         cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                         capture_output=True, text=True, timeout=600)
    sys.stderr.write(out.stderr[-4000:])
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath, native


# -------------------------------------------------------------------- run

def run_jvm(classpath, native, args, work, build_dir, data):
    out = os.path.join(work, "record.json")
    run_java(java_cmd(classpath, work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", os.path.join(data, "sf0.1"), "--small-data", os.path.join(data, "sf0.01"),
        "--work", work, "--out", out, "--native", native],
        work, os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{args.trace}.log"),
        timeout=JVM_TIMEOUT_S)
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    # a SIGTERM unwinds like an exception, so the JVM and the run
    # directory are cleaned up by the `finally` blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    data = data_root()
    classpath, native = build(build_dir)
    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        record = run_jvm(classpath, native, args, work, build_dir, data)
        record["tables_dir"] = os.path.join(data, "sf0.1")
        record["oracle_cache"] = os.path.join(build_dir, "oracle-cache")
        t0 = time.monotonic()
        wrong = CHECKS[args.workload](record)
        ops = record["ops"]
        failed = count_failed(ops, wrong)
        log(f"checked {len(ops)} operations in {time.monotonic() - t0:.1f} s: {failed} failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = per_layer(record, spec["per_layer"])
        check_names(metrics, spec["per_layer"])
    else:
        metrics = end_to_end(record)
        check_names(metrics, spec["end_to_end"])
    # the full record (op records, spans, host canary, native timings) for
    # comparing runs record by record
    record_path = os.path.join(build_dir, "runs",
                               f"{args.workload}-{args.seed}-{args.trace}.json")
    record["summary"] = summary(record, failed)
    log(json.dumps(record["summary"]))
    with open(record_path, "w") as f:
        json.dump(record, f)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
