#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload backup_spine --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds
the engine and the JVM harness (perfbench/jvm) with sbt and records the
DuckDB-checked expected results of the fixture workloads; later runs
reuse both from .bench_build/. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end
metrics of BENCHMARK.json for --trace 0 and its per-layer metrics for
--trace 1. The line before it carries the figures printed beside the
metrics (tail percentile, fail ratio, host noise, backup rates).

The sf0.1 fixtures are read from PERFBENCH_FIXTURES/sf0.1 when that
variable is set, otherwise from the sf0.1 row of the repository's
TESTDATA.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
import zlib

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CPUS = 4
JVM_TIMEOUT_S = 170
NOISY_FOREIGN_CORES = 1.0
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def read_text(path):
    with open(path) as f:
        return f.read()


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the JVM side is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm", "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "jvm", "build.sbt"),
             os.path.join(HERE, "workloads.json")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(fixtures, spec):
    """Compile engine + harness once per source state and record the
    expected results of the fixture workloads."""
    stamp_path = os.path.join(BUILD, "build.stamp")
    # the classpath names this checkout's own build output
    stamp = "\n".join([source_stamp(), fixtures, ROOT])
    cp_path = os.path.join(BUILD, "classpath.txt")
    if (os.path.exists(stamp_path) and read_text(stamp_path) == stamp
            and all(os.path.exists(p) for p in read_text(cp_path).split(os.pathsep))):
        return
    log("building engine and harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "jvm"), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    with open(cp_path, "w") as f:
        f.write(lines[-1].strip())
    for workload, wdoc in spec["workloads"].items():
        if "keys" in wdoc:
            record_expected(workload, wdoc["keys"], fixtures)
    with open(stamp_path, "w") as f:
        f.write(stamp)


def java(mode, args, work):
    """Run the JVM harness; returns its exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = read_text(os.path.join(BUILD, "classpath.txt"))
    java_bin = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java_bin]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-DontCompileHugeMethods", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main", mode]
    cmd += [f"{k}={v}" for k, v in args.items()]
    # Engine knobs and Spark's local-dir override come from the
    # environment; keep both out so every run measures the same program
    # and writes only under the checkout.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"{mode} exceeded {JVM_TIMEOUT_S}s and was killed")
        return 1


# ------------------------------------------------------ expected values

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    """Cell normalisation of the repo's DuckDB gate (tools/check_oracle.py)."""
    import datetime
    import decimal
    import math
    import numpy as np
    if isinstance(v, np.ndarray):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def fetch_sorted(rel, via_pandas=False):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    if via_pandas:
        rows = [tuple(r) for r in rel.df().itertuples(index=False, name=None)]
    else:
        rows = rel.fetchall()
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def oracle_verdict(con, dump_dir, sql):
    """None when the dumped Spark result equals the oracle's rows."""
    files = [os.path.join(dump_dir, f) for f in os.listdir(dump_dir)
             if f.endswith(".parquet")]
    scols, srows = fetch_sorted(con.sql(f"SELECT * FROM read_parquet({files!r})"))
    ocols, orows = fetch_sorted(con.sql(sql), via_pandas=True)
    if scols != ocols:
        return f"oracle mismatch: columns {scols} != {ocols}"
    if srows != orows:
        return f"oracle mismatch: {len(srows)} rows vs oracle {len(orows)}"
    return None


def record_expected(workload, keys, fixtures):
    import duckdb
    work = os.path.join(BUILD, "expect", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    write_json(os.path.join(work, "spec.json"), {"keys": keys})
    log(f"recording expected results for {workload}")
    code = java("expect", {"cpus": CPUS, "local_dir": os.path.join(work, "tmp"),
                           "fixtures": fixtures, "spec": os.path.join(work, "spec.json"),
                           "out": work}, work)
    if code != 0:
        fail(f"expect pass for {workload} failed")
    raw = load_json(os.path.join(work, "expect.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    expected = {}
    for k in keys:
        e = raw.get(k, {"error": "no result recorded"})
        if "error" in e:
            expected[k] = {"error": e["error"]}
        elif "oracle" in e:
            verdict = oracle_verdict(con, os.path.join(work, k), e["oracle"])
            expected[k] = {"error": verdict} if verdict else {"fp": e["fp"]}
        else:
            expected[k] = {"rows": e["rows"]}
        log(f"expected {k}: {expected[k]}")
    write_json(os.path.join(BUILD, f"expected_{workload}.json"), expected)
    shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------- workload inputs

def backup_spec(doc, seed, rounds, work):
    """Generate the table and the read-back ops; expected values come
    from numpy over the generated rows."""
    import numpy as np
    sys.path.insert(0, HERE)
    import gen

    def one(rows, n_readbacks, name, rng_seed):
        cols = gen.generate(rng_seed, rows)
        path = os.path.join(work, f"{name}.parquet")
        gen.write_parquet(cols, path)
        ts, kind = cols["ts"], cols["event_type"]
        crc = np.array([zlib.crc32(p.encode()) for p in cols["props"]],
                       dtype=np.int64)

        ts_hi, ts_lo = ts >> 32, ts & 0xFFFFFFFF

        def sums(m):
            # exact: no int64 sum here can overflow at this row count
            ts_sum = (int(ts_hi[m].sum()) << 32) + int(ts_lo[m].sum())
            return ":".join(str(int(x)) for x in [
                m.sum(), cols["event_id"][m].sum(), cols["user_id"][m].sum(),
                cols["cents"][m].sum(), ts_sum, crc[m].sum()])

        # A fixed mix, seeded placement: the ops alternate discovery and
        # extraction, each kind cycles through every window length, and
        # extractions cycle through every event_type; the seed picks the
        # window starts and the op order. The latency percentiles then
        # describe the same mix on every seed.
        rng = random.Random(rng_seed * 7919 + 17)
        hours = doc["window_hours"]
        n_types = len(gen.EVENT_TYPES)
        span_h = gen.SPAN_DAYS * 24
        readbacks = []
        for i in range(n_readbacks):
            length = hours[(i // 2) % len(hours)]
            start = rng.randrange(0, span_h - length + 1)
            lo_us = gen.SPAN_START_US + start * 3_600_000_000
            hi_us = lo_us + length * 3_600_000_000
            window = (ts >= lo_us) & (ts < hi_us)
            rb = {"lo": fmt_us(lo_us), "hi": fmt_us(hi_us)}
            if i % 2 == 0:
                present = sorted(gen.EVENT_TYPES[k] for k in np.unique(kind[window]))
                rb.update(kind="discover", expect=",".join(present),
                          matching=int(window.sum()))
            else:
                j = i // 2  # shift the length/type pairing every cycle
                part = (j + j // len(hours)) % n_types
                m = window & (kind == part)
                rb.update(kind="extract", part=gen.EVENT_TYPES[part],
                          expect=sums(m), matching=int(m.sum()))
            readbacks.append(rb)
        rng.shuffle(readbacks)
        every = np.ones(rows, dtype=bool)
        return {"input": path, "rows": rows,
                "from": iso_us(gen.SPAN_START_US),
                "to": iso_us(gen.SPAN_START_US + gen.SPAN_DAYS * gen.DAY_US),
                "source_fp": sums(every), "readbacks": readbacks}

    return {"timed": one(doc["input"]["rows"], doc["readbacks_per_round"] * rounds,
                         "events", seed),
            "warm": one(doc["input"]["warm_rows"], doc["warm_readbacks"],
                        "warm", seed + 1_000_003)}


def fmt_us(us):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(us // 1_000_000))


def iso_us(us):
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(us // 1_000_000))


def fixtures_dir(sf="0.1"):
    """The fixture directory of one scale factor: <PERFBENCH_FIXTURES>/sf<sf>
    when that variable is set, else the row of TESTDATA.md for sf."""
    root = os.environ.get("PERFBENCH_FIXTURES")
    d = os.path.join(root, f"sf{sf}") if root else None
    testdata = os.path.join(ROOT, "TESTDATA.md")
    if not d and os.path.exists(testdata):
        m = re.search(rf"^\|\s*{re.escape(sf)}\s*\|\s*`([^`]+)`",
                      read_text(testdata), re.M)
        d = m.group(1) if m else None
    if not d or not os.path.exists(os.path.join(d, "events.parquet")):
        fail(f"no sf{sf} fixtures (set PERFBENCH_FIXTURES)")
    return d.rstrip("/")


# ----------------------------------------------------------------- main

def workload_spec(workload, wdoc, seed, rounds, work):
    """The op list of one run: generated for backup_spine, the fixed key
    list in seeded order (once per round) for the fixture workloads."""
    if workload == "backup_spine":
        return backup_spec(wdoc, seed, rounds, work)
    rng = random.Random(seed)
    keys = []
    for _ in range(rounds):
        ks = list(wdoc["keys"])
        rng.shuffle(ks)
        keys += ks
    return {"keys": keys}


def walls_path(workload):
    return os.path.join(BUILD, "walls", f"{workload}.jsonl")


def untraced_walls(workload):
    """wall_s of every untraced run of the workload in this checkout."""
    if not os.path.exists(walls_path(workload)):
        return []
    with open(walls_path(workload)) as f:
        return [json.loads(line)["wall_s"] for line in f if line.strip()]


def run_harness(workload, seed, trace, fixtures, make_spec, expect=None):
    """One JVM run in a scratch directory under .bench_build; returns the
    harness's result. `make_spec(work)` writes the run's inputs. A traced
    run with no untraced run of its workload recorded yet also times the
    ops untraced first, so the tracing overhead always has a base."""
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = {"workload": workload, "trace": trace, "cpus": CPUS,
                "local_dir": os.path.join(work, "tmp"), "fixtures": fixtures,
                "work": work, "spec": os.path.join(work, "spec.json"),
                "out": os.path.join(work, "result.json"),
                "expect": expect or os.path.join(BUILD, f"expected_{workload}.json"),
                "baseline": int(bool(trace) and not untraced_walls(workload))}
        write_json(args["spec"], make_spec(work))
        if java("run", args, work) != 0:
            fail("harness run failed")
        if trace:
            spans_dir = os.path.join(BUILD, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(spans_dir, f"{workload}-{seed}.jsonl"))
        return load_json(args["out"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(bench_path)):
        fail("run from the root of a repository checkout (build.sbt, src/, BENCHMARK.json)")
    bench = load_json(bench_path)
    doc = load_json(os.path.join(HERE, "workloads.json"))
    if a.workload not in doc["workloads"]:
        fail(f"unknown workload {a.workload}")
    wdoc = doc["workloads"][a.workload]
    rounds = max(1, round(a.seconds / bench["run_seconds"]))

    fixtures = fixtures_dir()
    t_build = time.time()
    build(fixtures, doc)
    # the one-time build and oracle check of a fresh checkout is not set-up
    build_s = time.time() - t_build

    res = run_harness(a.workload, a.seed, a.trace, fixtures,
                      lambda work: workload_spec(a.workload, wdoc, a.seed, rounds, work))
    got = res["metrics"]
    side = dict(res["side"])
    if a.trace:
        # tracing overhead: this traced wall over the median untraced wall
        # of the same workload in this checkout (or of this run's own
        # untraced pass when no untraced run came before it)
        base = untraced_walls(a.workload) or [side["untraced_wall_s"]]
        got["trace.overhead"] = side["wall_s"] / statistics.median(base)
        # the side figures, here from the traced ops; 0 where the
        # workload has none (backup rates off backup_spine)
        for k in doc["side_metrics"]:
            if k != "about":
                got.setdefault(k, side.get(k, 0.0))
    else:
        os.makedirs(os.path.dirname(walls_path(a.workload)), exist_ok=True)
        with open(walls_path(a.workload), "a") as f:
            f.write(json.dumps({"seed": a.seed, "wall_s": side["wall_s"]}) + "\n")
    got["setup_s"] = res["setup_done_ms"] / 1e3 - T0 - build_s
    names = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in names:
        if m["name"] not in got:
            fail(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
    side.update(workload=a.workload, seed=a.seed, trace=a.trace,
                load1=res["load1"],
                setup_jvm_s=res["jvm_start_ms"] / 1e3 - T0 - build_s,
                setup_session_s=(res["session_ms"] - res["jvm_start_ms"]) / 1e3,
                setup_warm_s=(res["setup_done_ms"] - res["session_ms"]) / 1e3,
                noisy=side.get("foreign_cores", 0.0) > NOISY_FOREIGN_CORES,
                failures=res["failures"][:5])
    print(json.dumps({"detail": side}, sort_keys=True))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
