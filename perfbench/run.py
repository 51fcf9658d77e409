#!/usr/bin/env python3
"""Benchmark of the ads ETL and the query engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 12 --trace 0
  python3 perfbench/run.py --selftest

Builds the program and the benchmark driver (sbt, offline) when their
sources changed, runs one workload in its own JVM, checks the outputs, and
prints as its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are BENCHMARK.json's end_to_end
metrics; with --trace 1 its per_layer metrics, and the spans are written
to perfbench/out/trace-<workload>-<seed>.json. See perfbench/README.md.
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
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
WORKLOADS = ("etl_daily", "etl_backfill", "query_pack")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compiles program + driver unless the stamp matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found next to perfbench/")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(os.path.join(os.environ["SPARK_HOME"], "jars")):
        die("SPARK_HOME with a jars/ directory is required")
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        die(f"build failed, see {os.path.join(OUT, 'build.log')}", 3)
    with open(STAMP, "w") as f:
        f.write(digest)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, work, log_name):
    """Runs the driver JVM with `args`; returns its launch and exit times
    (epoch s)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.PerfBench"] + args
    t0 = time.time()
    with open(os.path.join(OUT, log_name), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"driver JVM timed out, see {log.name}", 4)
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        die(f"driver JVM exited with {code}, see {os.path.join(OUT, log_name)}", 4)
    return t0, time.time()


# ---- query_pack correctness: DuckDB running the program's oracle SQL ------

ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """Columns by name, floats at 6 dp, rows sorted: order-insensitive."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            out[c] = col.round(6)
        elif str(col.dtype).startswith("datetime"):
            out[c] = col.astype("datetime64[us]")
        else:
            out[c] = col
    return out.sort_values(by=list(out.columns), ignore_index=True)


def digest(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def oracle_check(work):
    """{query: (expected rows or None, problem or "")} for every oracle."""
    import duckdb
    import pandas as pd
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in ORACLE_TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    verdict = {}
    for name, sql in sorted(oracles.items()):
        try:
            exp = canon(con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run checks nothing
            verdict[name] = (None, f"oracle error: {e}")
            continue
        try:
            got = canon(pd.read_parquet(os.path.join(work, "results", name)))
        except Exception as e:
            verdict[name] = (len(exp), f"result unreadable: {e}")
            continue
        problem = ""
        if list(got.columns) != list(exp.columns):
            problem = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            problem = f"rows {len(got)} != {len(exp)}"
        else:
            fam = lambda k: "i" if k in "iu" else k
            bad = [c for c in got.columns if fam(got[c].dtype.kind) != fam(exp[c].dtype.kind)]
            if bad:
                problem = f"type mismatch in {bad}"
            elif digest(got) != digest(exp):
                try:
                    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=False,
                                                  rtol=0, atol=1e-9)
                except AssertionError:
                    problem = "values differ"
        verdict[name] = (len(exp), problem)
    return verdict


# ---- metrics ---------------------------------------------------------------

def pct(xs, q):
    """Linear-interpolated percentile q in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100.0
    i = int(k)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (k - i)


def run(opts, spec, tiny=False):
    build()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{opts.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(OUT, f"trace-{opts.workload}-{opts.seed}.json")
    try:
        t0, t1 = run_jvm(["--workload", opts.workload, "--seed", str(opts.seed),
                          "--seconds", str(opts.seconds), "--trace", str(opts.trace),
                          "--cores", str(cores()), "--work", work, "--sf", SF_DIR,
                          "--trace-out", trace_out] + (["--scale", "tiny"] if tiny else []),
                         work, f"{opts.workload}.jvm.log")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        verdict = oracle_check(work) if opts.workload == "query_pack" else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = res["passes"]
    ops = [op for p in passes for op in p["ops"]]
    for op in ops if opts.workload == "query_pack" else []:
        rows, problem = verdict.get(op["name"], (None, "no oracle"))
        if problem:
            op["ok"], op["note"] = False, problem
        elif op["ok"] and op["rows"] != rows:
            op["ok"], op["note"] = False, f"rows {op['rows']} != oracle {rows}"
    failed = [op for op in ops if not op["ok"]]
    plain = [p for p in passes if not p["traced"]]
    lat = [x for p in plain for x in p["latencies"]]
    pass_s = statistics.median(p["pass_s"] for p in plain)
    e2e = {
        "setup_s": res["ready_us"] / 1e6 - t0,
        "pass_s": pass_s,
        "op_p50_s": pct(lat, 50),
        "op_p90_s": pct(lat, 90),
        "rows_per_s": statistics.median(p["records"] / p["pass_s"] for p in plain),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    report = dict(e2e, workload=opts.workload, seed=opts.seed, cores=res["cores"],
                  warmup_s=res["warmup_s"], jvm_s=t1 - t0, run_s=time.time() - t0,
                  passes=len(plain), op_samples=len(lat),
                  failed_frac=len(failed) / max(1, len(ops)),
                  op_s=[[op["name"], round(op["s"], 3)] for op in ops],
                  failures=[f"{op['name']}: {op['note']}" for op in failed][:10])
    if opts.trace:
        report["trace_file"] = os.path.relpath(trace_out, ROOT)
        report["layers"] = res["layers"]
    print(json.dumps({"report": report}))
    wanted = spec["per_layer"] if opts.trace else spec["end_to_end"]
    source = res["layers"] if opts.trace else e2e
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


# ---- self-test ---------------------------------------------------------------

REQUIRED = ("campaign_name", "ad_name", "publisher_platform", "date_start", "date_stop")


def recount(zone_dir, accounts, by_day):
    """Expected counts recomputed from the files alone (first wins by
    account list order, then line order)."""
    days = {}
    seen = set()
    out_of_range = 0
    dirs = sorted(os.listdir(zone_dir)) if by_day else [""]
    for d in dirs:
        for a in accounts:
            with open(os.path.join(zone_dir, d, f"account_{a}.jsonl")) as f:
                recs = [json.loads(line) for line in f]
            for r in recs:
                day = r["date_start"]
                days.setdefault(day, {"raw": 0, "unique": 0, "rejected": 0, "types": set()})
                days[day]["raw"] += 1
                key = (r.get("campaign_name"), r.get("ad_name"), day, r.get("publisher_platform"))
                if key in seen:
                    continue
                seen.add(key)
                days[day]["unique"] += 1
                if any(c not in r for c in REQUIRED):
                    days[day]["rejected"] += 1
                else:
                    days[day]["types"].update(x["action_type"] for x in (r.get("actions") or []))
    return days


def selftest(spec):
    build()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    problems = []
    try:
        run_jvm(["--workload", "generate", "--seed", "7", "--work", work], work, "selftest.jvm.log")
        # 1. the same seed gives byte-identical zones
        for kind in ("daily", "backfill"):
            a, b = (os.path.join(work, x, kind) for x in ("a", "b"))
            fa = sorted(os.path.relpath(os.path.join(d, f), a) for d, _, fs in os.walk(a) for f in fs)
            fb = sorted(os.path.relpath(os.path.join(d, f), b) for d, _, fs in os.walk(b) for f in fs)
            if fa != fb or any(open(os.path.join(a, f), "rb").read() != open(os.path.join(b, f), "rb").read()
                               for f in fa):
                problems.append(f"{kind}: same seed gave different zones")
            # 2. expected counts equal a from-scratch count of the files
            with open(os.path.join(a, "expect.json")) as f:
                exp = json.load(f)
            days = recount(os.path.join(a, "zone"), exp["accounts"], kind == "daily")
            in_range = {d["date"] for d in exp["days"]}
            strays = sum(v["raw"] for k, v in days.items() if k not in in_range)
            if strays != exp["out_of_range"]:
                problems.append(f"{kind}: out-of-range {strays} != {exp['out_of_range']}")
            for d in exp["days"]:
                got = days.get(d["date"], {})
                for k in ("raw", "unique", "rejected"):
                    if got.get(k) != d[k]:
                        problems.append(f"{kind} {d['date']}: {k} {got.get(k)} != {d[k]}")
                if sorted(got.get("types", ())) != d["types"]:
                    problems.append(f"{kind} {d['date']}: action types differ")
            dups = sum(days[d["date"]]["raw"] - days[d["date"]]["unique"] for d in exp["days"])
            if dups != exp["duplicates"] or dups == 0:
                problems.append(f"{kind}: duplicates {dups} vs {exp['duplicates']}")
            if exp["rejected"] == 0:
                problems.append(f"{kind}: no rejected rows injected")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # 3. a traced tiny etl_daily pass: correct, and every job has a layer
    opts = argparse.Namespace(workload="etl_daily", seed=7, seconds=1, trace=1)
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run(opts, spec, tiny=True)
    last = json.loads(buf.getvalue().strip().splitlines()[-1])
    if not last["correct"]:
        problems.append(f"tiny etl_daily run incorrect: {buf.getvalue().splitlines()[0]}")
    trace_file = os.path.join(OUT, "trace-etl_daily-7.json")
    with open(trace_file) as f:
        trace = json.load(f)
    loose = [j for j in trace["jobs"] if j["layer"] == "unattributed"]
    if not trace["jobs"] or loose:
        problems.append(f"{len(loose)} of {len(trace['jobs'])} traced jobs have no layer: "
                        f"{sorted({j['call_site'] for j in loose})}")
    os.remove(trace_file)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest: " + ("ok" if not problems else f"{len(problems)} failed"))
    sys.exit(1 if problems else 0)


def main():
    # SIGTERM unwinds like an exception, so the JVM and the work dir are
    # cleaned up by the `finally` blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    opts = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if opts.selftest:
        selftest(spec)
    elif not opts.workload:
        ap.error("--workload is required")
    else:
        run(opts, spec)


if __name__ == "__main__":
    main()
