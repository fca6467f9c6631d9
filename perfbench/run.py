#!/usr/bin/env python3
"""The repository benchmark: one workload per run, timed end to end, checked,
and in a traced run split by layer.

    python3 perfbench/run.py --workload <daily_trends|query_suite|stream_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run compiles the repository's
`src/main/scala` together with `perfbench/src/main/scala` (scalac from
$SPARK_HOME/jars) into `perfbench/.build`; later runs reuse the classes while
the sources are unchanged. The input tables (`perfbench/data/sf0.1`) are
copied into a scratch root under `perfbench/.run`, the seed draws the
workload's schedule over them, and the scratch root is deleted when the run
ends. A traced run also writes its spans to `perfbench/.out/`.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. Earlier lines print every metric by name and unit, the tail
percentile with its sample count, failures, set-up repetitions and checks.

    python3 perfbench/run.py --record-expected
re-records perfbench/expected/query_suite.json from an untimed pass.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
MAIN_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD = os.path.join(HERE, ".build")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
METRICS = json.load(open(os.path.join(HERE, "metrics.json")))
EXPECTED = os.path.join(HERE, "expected", "query_suite.json")
DATA = os.path.join(HERE, "data", "sf0.1")
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution")
    return os.path.join(home, "jars", "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    if not os.path.isdir(MAIN_SRC):
        fail(f"no program sources at {os.path.relpath(MAIN_SRC)}; "
             "run from the root of a full checkout")
    out = []
    for top in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile program + benchmark sources once per source state."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, REPO).encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    tmp = os.path.join(BUILD, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    r = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", jars] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def jvm_options():
    """The add-opens list and driver heap of the repository's own forked
    JVMs, read from its build.sbt so that the two cannot drift apart."""
    text = open(os.path.join(REPO, "build.sbt")).read()
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    heap = re.search(r'"-Xmx\$\{sys\.env\.getOrElse\("SPARK_DRIVER_MEM", "(\w+)"\)\}"', text)
    if not opens or not heap:
        fail("build.sbt no longer declares jdk17AddOpens and the -Xmx default")
    out = []
    for o in re.findall(r'"([\w./]+)"', opens.group(1)):
        out += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return out + [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', heap.group(1))}"]


def session_conf(n):
    """The workload's Spark session, from workloads.json, for n cores."""
    return {k: v.replace("<cores>", str(n)) for k, v in CONFIG["session"].items()}


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ----------------------------------------------------------- schedules

def month_starts(first="1995-01", last="2001-08"):
    y, m = map(int, first.split("-"))
    ly, lm = map(int, last.split("-"))
    out = []
    while (y, m) <= (ly, lm):
        out.append(f"{y:04d}-{m:02d}-01")
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def daily_inputs(rng, cfg):
    days = month_starts()
    lists = [f"pub-list-{i}" for i in range(8)]
    every = cfg["load"]["rerun_every"]

    def schedule(n):
        """n (day, list) pairs; every `every`-th re-runs an earlier one."""
        out = []
        for i in range(n):
            if i % every == every - 1:
                out.append(out[rng.randrange(len(out))])
            else:
                out.append([rng.choice(days), rng.choice(lists)])
        return out
    # the warm-up follows the same rule, so the rerun path is warm too
    warmup = schedule(cfg["load"]["warmup_days"])
    return {"ops": schedule(2000), "warmup": warmup, "rerun_every": every,
            "panel": cfg["registry_panel"]}


def query_inputs(rng, cfg):
    panel = list(cfg["panel"])
    rounds = []
    for _ in range(200):
        order = panel[:]
        rng.shuffle(order)
        rounds.append(order)
    return {"panel": panel, "rounds": rounds}


def stream_inputs(rng, cfg):
    load = cfg["load"]
    stream = list(range(load["corpus_docs"], load["corpus_docs"] + load["stream_docs"]))
    rng.shuffle(stream)
    return {"corpus": list(range(load["corpus_docs"])), "stream": stream,
            "batch_size": load["batch_size"], "protected_docs": load["protected_docs"],
            "warmup_batches": load["warmup_batches"]}


INPUTS = {"daily_trends": daily_inputs, "query_suite": query_inputs,
          "stream_ingest": stream_inputs}


# ----------------------------------------------------------- the JVM

def run_jvm(classes, inputs, root):
    log_path = os.path.join(root, "jvm.log")
    in_path = os.path.join(root, "inputs.json")
    with open(in_path, "w") as f:
        json.dump(inputs, f)
    cmd = [java()] + jvm_options() + [
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            f"-Dderby.system.home={root}",
            "-cp", f"{classes}{os.pathsep}{spark_jars()}",
            "graft.perfbench.Main", in_path]
    os.makedirs(os.path.join(root, "tmp"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(inputs["result"]):
        print(open(log_path).read()[-6000:], file=sys.stderr)
        fail(f"benchmark JVM exited with {proc.returncode}")
    return json.load(open(inputs["result"]))


# ----------------------------------------------------------- checks

def check_daily(res, data_dir):
    """Each written (list, day, status_type) partition of the sink equals
    DuckDB's top-10 for that day and list over the DomainQueries oracle SQL,
    the fixture tables built once from the same parquet inputs."""
    import duckdb
    c = res["checks"]
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data_dir, t + '.parquet')}')")
    cte = c["fixture_cte"]
    for t in ("weaving_status", "highlight", "publishers_list",
              "status_popularity", "weaving_user"):
        con.execute(f"CREATE TABLE {t}_fx AS {cte}\nSELECT * FROM {t}")
    for t in ("weaving_status", "highlight", "publishers_list",
              "status_popularity", "weaving_user"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {t}_fx")
    # read once: every comparison below looks up one partition of it
    con.execute("CREATE TABLE sink AS SELECT * FROM read_parquet("
                f"'{c['sink']}/*/*/*/*.parquet', hive_partitioning = true)")
    day0 = c["oracle_day"]
    if not (c["curated_sql"].startswith(cte) and c["distinct_sql"].startswith(cte)):
        return {"ok": False, "error": "oracle SQL no longer starts with the fixture CTE"}
    curated, distinct = c["curated_sql"][len(cte):], c["distinct_sql"][len(cte):]
    retweets = (distinct
                .replace("  AND h.is_retweet = false\nINNER JOIN", "\nINNER JOIN")
                .replace(", false) = false", ", false) = true"))
    if retweets.count("= true") != 1 or "h.is_retweet = false\nINNER" in retweets:
        return {"ok": False, "error": "distinct-sources oracle text changed shape"}
    oracles = {"status": curated, "statusFromDistinctSources": distinct,
               "retweetFromDistinctSources": retweets}
    bad, compared = [], 0
    for day, lst in c["written"]:
        for status_type, sql in oracles.items():
            q = (sql.replace(f"DATE '{day0}'", f"DATE '{day}'")
                 .replace("'pub-list-7'", f"'{c['deprecated_list_id']}'")
                 .replace("'pub-list-3'", f"'{lst}'"))
            want = con.execute(
                "SELECT status_id, retweets, favorites, url, username, tweet "
                f"FROM ({q}) LIMIT 10").fetchall()
            got = con.execute(
                "SELECT twitterId, totalRetweets, totalFavorites, url, username, text "
                "FROM sink WHERE list_id = ? AND ingest_date = ? AND status_type = ?",
                [lst, day, status_type]).fetchall()
            compared += 1
            if sorted(want, key=repr) != sorted(got, key=repr):
                bad.append([day, lst, status_type, len(want), len(got)])
    # the registry pass runs in traced runs only
    registry = check_queries(res) if c["digests"] else {"ok": True, "ran": False}
    return {"ok": not bad and compared > 0 and registry["ok"],
            "partitions_compared": compared, "mismatched": bad[:10], "registry": registry}


def check_queries(res):
    expected = json.load(open(EXPECTED))
    got = res["checks"]["digests"]
    bad = []
    for name, info in got.items():
        if name in expected["excluded"]:
            continue
        want = expected["queries"].get(name)
        if "error" in info or want is None or \
                (info["rows"], info["digest"]) != (want["rows"], want["digest"]):
            bad.append(name)
    return {"ok": not bad and len(got) > 0, "queries_compared": len(got),
            "first_pass_s": {n: round(d.get("s", 0.0), 3) for n, d in got.items()},
            "excluded": sorted(set(got) & set(expected["excluded"])), "mismatched": bad}


def check_stream(res):
    c = res["checks"]
    return {"ok": bool(c["survivors_equal"]) and c["batches"] > 0, **c}


# ----------------------------------------------------------- metrics

def tail(values):
    """The highest percentile (50..99, nearest rank) with at least 10
    samples beyond it; the median when there are too few samples."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        k = math.ceil(p / 100 * n)
        if n - k >= 10:
            return xs[k - 1], p, n - k
    return statistics.median(xs), 50, n - math.ceil(n / 2)


def end_to_end(res):
    times = [s["s"] for s in res["samples"] if not s["traced"]]
    ok = len(res["samples"])
    value, pct, beyond = tail(times)
    return {
        "op_p50_s": statistics.median(times),
        "op_tail_s": value,
        "ops_per_s": ok / res["loop_wall_s"],
        "ok_frac": ok / res["attempted"],
        "setup_s": setup_seconds(res),
        "retained_heap_mb": res["retained_heap_mb"],
    }, {"tail_percentile": pct, "samples_beyond_tail": beyond, "samples": len(times)}


def setup_seconds(res):
    """The median of the repeated artifact builds plus the one-off rest of
    set-up (warm-up, query start, registry digest pass)."""
    return statistics.median(res["setup_reps_s"]) + res["prepare_s"]


def tracing_overhead(res):
    """Median over operation names of median(traced) / median(untraced) - 1."""
    by = {}
    for s in res["samples"]:
        by.setdefault(s["name"], ([], []))[0 if s["traced"] else 1].append(s["s"])
    ratios = [statistics.median(t) / statistics.median(u)
              for t, u in by.values() if t and u]
    return statistics.median(ratios) - 1 if ratios else 0.0


def main():
    # a SIGTERM unwinds like an exception: the JVM is killed and the
    # scratch root removed by the `finally` blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    if a.record_expected:
        a.workload, a.seconds, a.trace = "query_suite", 0, 0
    if not a.workload:
        fail("--workload is required")

    classes = build()
    cfg = CONFIG["workloads"][a.workload]
    root = os.path.join(HERE, ".run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        data = os.path.join(root, "data")
        t0 = time.time()
        # a copy: the ANN and PQ index builds write beside their tables
        shutil.copytree(DATA, data)
        t1 = time.time()
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        n = cores()
        inputs = {"workload": a.workload, "data": data, "root": root,
                  "cores": n, "session": session_conf(n), "seconds": a.seconds, "trace": a.trace,
                  "setup_reps": 1 if a.record_expected else CONFIG["setup_reps"],
                  "result": os.path.join(root, "result.json"),
                  "trace_out": os.path.join(out_dir, f"trace-{a.workload}-seed{a.seed}.json"),
                  **INPUTS[a.workload](random.Random(a.seed), cfg)}
        res = run_jvm(classes, inputs, root)
        t2 = time.time()
        if a.record_expected:
            record_expected(res)
            return
        check = {"daily_trends": lambda: check_daily(res, data),
                 "query_suite": lambda: check_queries(res),
                 "stream_ingest": lambda: check_stream(res)}[a.workload]()
        print(f"perfbench: inputs {t1 - t0:.1f} s, benchmark JVM {t2 - t1:.1f} s, "
              f"output checks {time.time() - t2:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    report(a, res, check)


def record_expected(res):
    old = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {"excluded": {}}
    out = {"data": CONFIG["data"]["tables"], "excluded": old["excluded"],
           "queries": {n: {"rows": d["rows"], "digest": d["digest"]}
                       for n, d in sorted(res["checks"]["digests"].items()) if "error" not in d}}
    errors = {n: d["error"] for n, d in res["checks"]["digests"].items() if "error" in d}
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
        f.write("\n")
    print(json.dumps({"recorded": len(out["queries"]), "errors": errors}))


def report(a, res, check):
    failed = len(res["failed"])
    e2e, tail_info = end_to_end(res) if len(res["samples"]) > 0 else ({}, {})
    print(f"workload {a.workload}  seed {a.seed}  cores {res['cores']}  "
          f"seconds {a.seconds}  trace {a.trace}")
    for m in METRICS["end_to_end"]:
        if m["name"] in e2e:
            print(f"  {m['name']:<28} {e2e[m['name']]:>14.6g} {m['unit']}")
    print(f"  tail = p{tail_info.get('tail_percentile')} of {tail_info.get('samples')} "
          f"samples, {tail_info.get('samples_beyond_tail')} beyond it; "
          f"failed {failed} of {res['attempted']}; peak RSS {res['peak_rss_mb']:.0f} MiB")
    print(f"  setup reps {['%.3f' % s for s in res['setup_reps_s']]} s + one-off "
          f"{res['prepare_s']:.3f} s (of which artifact builds "
          f"{res['prepare_artifact_s']:.3f} s); session start {res['session_s']:.3f} s, "
          f"loop {res['loop_wall_s']:.3f} s, JVM checks {res['checks_s']:.3f} s")
    print(f"  check: {json.dumps(check)}")
    print(f"  session: {json.dumps(res['session'])}")
    layers = {}
    if a.trace:
        layers = dict(res["layers"])
        layers["trace.overhead_frac"] = tracing_overhead(res)
        for m in METRICS["per_layer"]:
            print(f"  {m['name']:<28} {layers.get(m['name'], 0.0):>14.6g} {m['unit']:<6} "
                  f"moves {m['moves']}")
        print(f"  spans written to {os.path.relpath(os.path.join(HERE, '.out'))}/"
              f"trace-{a.workload}-seed{a.seed}.json")
    for f in res["failed"][:10]:
        print(f"  FAILED {f['name']}: {f['exception']}: {f['message']}")
    print(json.dumps({"detail": {"e2e": e2e, **tail_info, "failed": res["failed"],
                                 "samples_s": [round(x["s"], 4) for x in res["samples"]],
                                 "setup_reps_s": res["setup_reps_s"],
                                 "artifact_reps_s": res["artifact_reps_s"],
                                 "prepare_s": res["prepare_s"],
                                 "check": check, "session": res["session"]}}))
    wanted = METRICS["per_layer"] if a.trace else METRICS["end_to_end"]
    source = layers if a.trace else e2e
    print(json.dumps({
        "correct": bool(check["ok"]) and failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
