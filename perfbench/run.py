#!/usr/bin/env python3
"""graft benchmark: three workloads through the program's public entry points.

    python3 perfbench/run.py --workload catalog_cold|catalog_reopen|vault_rw \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It compiles the program
(src/main/scala) and the harness (perfbench/harness) with the Scala
compiler shipped in Spark's jars into .bench_build/, runs one JVM per
run with pinned settings, checks every output, and prints one JSON
object as the last line of stdout. Any failed call or check makes it
exit 1. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
# Copies of the corpus at other paths: artifacts and session caches are
# per corpus directory, so a pass over a copy reuses nothing a pass over
# another path computed. catalog_reopen warms up over WARM_CORPUS and
# times one pass over CORPUS and one over PASS2_CORPUS.
WARM_CORPUS = os.path.join(BUILD, "corpus-copies", "warm", "sf0.01")
PASS2_CORPUS = os.path.join(BUILD, "corpus-copies", "pass2", "sf0.01")
KEYS = os.path.join(HERE, "keys.txt")
EXPECTED = os.path.join(HERE, "expected", "catalog_sf0.01.json")
# BENCHMARK.json names catalog_reopen and vault_rw; catalog_cold runs on
# request only (its priming alone takes 40-70 s, see README.md).
WORKLOADS = ("catalog_reopen", "vault_rw", "catalog_cold")
# A measured run gets RUN_LIMIT_S. Priming catalog_reopen's warehouse
# happens once per build, in the first run of a checkout whatever its
# workload, because that is the run allowed the time to build (about
# 130 s on 4 cores for the three corpus paths).
RUN_LIMIT_S = 170
PRIME_LIMIT_S = 600

# Every program knob the repo reads from the environment. They are
# removed so a run measures the program's defaults; the benchmark then
# pins Spark's local dirs itself.
SCRUB_PREFIXES = ("GRAFT_", "SPARK_GRAFT_")
SCRUB_NAMES = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

LAYERS = ("temporal", "timeseries", "streaming", "analytics", "ann", "dedup",
          "text", "sketch", "multimodal", "pipeline")
VAULT_OPS = ("append", "point", "state", "history", "compare", "rollback", "snapshot")
READ_OPS = ("point", "state", "history", "compare")
# vault_rw's timed sequence has VAULT_CALLS_PER_S x --seconds calls plus
# a rollback and a snapshot; its warm-up sequence VAULT_WARM_CALLS.
VAULT_CALLS_PER_S = 5
VAULT_WARM_CALLS = 12


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    """$SPARK_HOME/jars, else the jars of a Spark installation whose
    spark-submit is on the PATH; the first one that holds a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        sub = os.path.join(d, "spark-submit")
        if os.path.isfile(sub):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(sub))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BenchError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def scala_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def source_hash():
    h = hashlib.sha256()
    for f in scala_files(SRC) + scala_files(HARNESS):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, files):
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath] + files
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BenchError("compile failed:\n" + p.stdout[-4000:])


def build(jars):
    """Compiles program and harness once per source state; returns the
    directory holding program/ and harness/ classes."""
    if not scala_files(SRC):
        raise BenchError(f"program sources not found under {SRC}")
    out = os.path.join(BUILD, "classes-" + source_hash())
    if os.path.exists(os.path.join(out, "OK")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    scalac(jars, os.path.join(tmp, "program"), f"{jars}/*", scala_files(SRC))
    scalac(jars, os.path.join(tmp, "harness"),
           os.path.join(tmp, "program") + f":{jars}/*", scala_files(HARNESS))
    open(os.path.join(tmp, "OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    try:
        os.rename(tmp, out)
    except OSError:                 # a concurrent run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    log(f"[perfbench] built program and harness in {time.time() - t0:.1f}s")
    return out


# ---------------------------------------------------------------- JVM

def heap_gb():
    """Half of MemTotal, clamped to 2-8 GiB (the tier-1 test formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return max(2, min(8, g))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def clean_env(run_dir):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(SCRUB_PREFIXES) and k not in SCRUB_NAMES}
    env["TZ"] = "UTC"
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    return env


def harness(classes, jars, run_dir, args, deadline):
    """Runs graftbench.Main in its own JVM; returns its parsed result."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=1g",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", ":".join([os.path.join(classes, "harness"), os.path.join(classes, "program"),
                               f"{jars}/*"]),
              "graftbench.Main", "--work", run_dir, "--run-id", os.path.basename(run_dir),
              "--out", out, "--cores", str(cores()),
              "--corpus", CORPUS] + args)
    errlog = os.path.join(run_dir, "jvm.log")
    timeout = max(5.0, deadline - time.time())
    with open(errlog, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, env=clean_env(run_dir),
                             stdout=err, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"harness exceeded {timeout:.0f}s")
        except BaseException:
            p.kill()
            p.wait()
            raise
    if p.returncode != 0 or not os.path.exists(out):
        with open(errlog) as f:
            tail = "".join(l for l in f.readlines()[-40:])
        raise BenchError(f"harness exited {p.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- statistics

def pct(xs, q):
    """q-th percentile (0-100), linear between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` values above
    it, its value and n; (None, None, n) when n < beyond + 1."""
    n = len(xs)
    if n <= beyond:
        return None, None, n
    p = (100 * (n - beyond)) // n
    return p, pct(xs, p), n


# ---------------------------------------------------------------- workloads

def layer(key):
    if key.startswith("ts"):
        return "streaming" if "_stream_" in key else "timeseries"
    return {"t": "temporal", "q": "analytics", "a": "ann", "d": "dedup", "x": "text",
            "s": "sketch", "m": "multimodal", "p": "pipeline"}[key[0]]


def read_keys():
    with open(KEYS) as f:
        return [l.split("#")[0].strip() for l in f if l.split("#")[0].strip()]


def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)["keys"]


def account_catalog(records, expected):
    """Splits key records into timed ones and named failures (`key@pass`).
    A key that threw or whose (rows, fingerprint) differs from the
    expected value is a failure and contributes no timing."""
    ok, failures = [], []
    for r in records:
        exp = expected.get(r["key"])
        call = f"{r['key']}@{r.get('pass', 0)}"
        if r.get("error"):
            failures.append({"call": call, "reason": "threw: " + r["error"]})
        elif exp is None:
            failures.append({"call": call, "reason": "no expected fingerprint"})
        elif (r["rows"], r["fp"]) != (exp["rows"], exp["fp"]):
            failures.append({"call": call, "reason":
                             f"output mismatch: rows {r['rows']} fp {r['fp']}, "
                             f"expected rows {exp['rows']} fp {exp['fp']}"})
        else:
            ok.append(r)
    return ok, failures


def tree_state(d):
    state = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            st = os.stat(p)
            state[os.path.relpath(p, d)] = (st.st_size, st.st_mtime_ns)
    return state


def corpus_copy(path):
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.copytree(CORPUS, tmp)
        os.rename(tmp, path)
    return path


def key_medians(ok):
    """Per-key median wall time over the passes that timed the key."""
    walls = {}
    for r in ok:
        walls.setdefault(r["key"], []).append(r["wall_s"])
    return [statistics.median(w) for w in walls.values()]


def reopen_passes():
    return [CORPUS, corpus_copy(PASS2_CORPUS)]


def primed_warehouse(classes, jars):
    """The bench-owned warehouse catalog_reopen reads, primed once per
    program build (in the first run of a checkout) with all artifacts of
    the corpus, its warm-up copy and its second-pass copy, plus the
    write-through ones the selected keys create. Returns the warehouse
    and the traced priming's numbers (the cold priming of CORPUS)."""
    keys_hash = hashlib.sha256("\n".join(read_keys()).encode()).hexdigest()[:8]
    wh_root = os.path.join(BUILD, f"reopen-{os.path.basename(classes)}-{keys_hash}")
    wh = os.path.join(wh_root, "warehouse")
    marker = os.path.join(wh_root, "PRIMED")
    if os.path.exists(marker):
        with open(marker) as f:
            return wh, json.load(f)
    shutil.rmtree(wh_root, ignore_errors=True)
    run_dir = os.path.join(wh_root, "prime-run")
    os.makedirs(run_dir)
    keys_file = os.path.join(run_dir, "keys.txt")
    with open(keys_file, "w") as f:
        f.write("\n".join(",".join(read_keys()) for _ in reopen_passes()) + "\n")
    t0 = time.time()
    res = harness(classes, jars, run_dir, ["--workload", "prime", "--warehouse", wh,
                                           "--warm-corpus", corpus_copy(WARM_CORPUS),
                                           "--passes", ",".join(reopen_passes()),
                                           "--keys", keys_file, "--trace", "1"],
                  time.time() + PRIME_LIMIT_S)
    _, failures = account_catalog(res["keys"], load_expected())
    if failures:
        raise BenchError(f"priming the reopen warehouse failed: {failures[:3]}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prime = {k: res[k] for k in ("prime_s", "prime_counters", "artifacts_built",
                                 "artifact_bytes", "writethrough")}
    with open(marker, "w") as f:
        json.dump(prime, f)
    log(f"[perfbench] primed the reopen warehouse: {res['artifacts_built']} artifacts + "
        f"{len(res['writethrough'])} write-through in {time.time() - t0:.1f}s")
    return wh, prime


def run_catalog(workload, seed, trace, classes, jars, run_dir, deadline, opts):
    os.makedirs(run_dir, exist_ok=True)
    passes = reopen_passes() if workload == "catalog_reopen" else [CORPUS]
    keys_file = "all"
    if opts.keys != ["all"]:
        # each pass times the keys in its own seeded order, so a key's
        # median over the passes does not rest on one position
        rnd = random.Random(seed)
        orders = []
        for _ in passes:
            keys = list(opts.keys or read_keys())
            rnd.shuffle(keys)
            orders.append(keys)
        keys_file = os.path.join(run_dir, "keys.txt")
        with open(keys_file, "w") as f:
            f.write("\n".join(",".join(keys) for keys in orders) + "\n")
    args = ["--workload", workload, "--keys", keys_file, "--trace", str(trace),
            "--passes", ",".join(passes)]
    if opts.inject:
        args += ["--inject", opts.inject]
    wh, before = None, None
    if workload == "catalog_reopen":
        wh, res_prime = primed_warehouse(classes, jars)
        before = tree_state(wh)
        args += ["--warehouse", wh, "--warm-corpus", corpus_copy(WARM_CORPUS)]
    res = harness(classes, jars, run_dir, args, deadline)
    if wh is not None:
        res["priming"] = res_prime
    ok, failures = account_catalog(res["keys"], load_expected())
    for r in res["keys"]:
        log(f"[perfbench] {r['key']}@{r['pass']}: {r['wall_s']:.3f}s build {r['build_s']:.3f}s")
    attempted = len(res["keys"])
    if wh is not None:
        attempted += 1
        after = tree_state(wh)
        if after != before or res["artifacts_built"] or res["writethrough"]:
            changed = sorted(set(after.items()) ^ set(before.items()))[:5]
            failures.append({"call": "reopen_warehouse_unchanged",
                             "reason": f"the run wrote into the primed warehouse: {changed}"})
    walls = key_medians(ok)
    m = {
        "setup_s": res["setup_s"],
        "suite_s": sum(walls),
        "key_p50_s": pct(walls, 50),
        "key_p90_s": pct(walls, 90),
        # every catalog call is a read: the same median as key_p50_s
        "read_p50_ms": pct(walls, 50) * 1e3 if walls else None,
        "reads": [w * 1e3 for w in walls],
        "appends": [],
        "n": len(walls),
    }
    return res, m, ok, failures, attempted


def vault_plan(seed, n_calls):
    """The seeded vault_rw call sequence, one tab-separated call per line.

    Call mix (counts fixed per run, order shuffled by the seed): 35%
    point reads, 25% full-state cached reads, 8% history, 7% compare,
    23% 50-row appends at an advancing clock, and at least one rollback
    and one snapshot. Read timestamps come from 120 hourly points at the
    end of the seeded log (more than the 64-entry cache holds), drawn
    with 1/(rank+1)^1.5 weights so recent hours repeat, or fall just after
    one of the last three appends. Record ids are drawn with
    1/(rank+1)^0.8 weights over a seeded permutation, so a few are hot.
    """
    rnd = random.Random(seed)
    ids = list(range(150))          # user_id 0..149 in the corpus
    rnd.shuffle(ids)
    id_w = [1 / (r + 1) ** 0.8 for r in range(len(ids))]
    log_end = 1706659200            # 2024-01-31 00:00:00 UTC, after the last seeded event
    hours = [log_end - 3600 * (h + 1) for h in range(120)]
    hour_w = [1 / (h + 1) ** 1.5 for h in range(120)]
    next_event_id = 10_000_000

    def fmt(t):
        return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t))

    mix = {"point": 0.35, "state": 0.25, "history": 0.08, "compare": 0.07, "append": 0.23}
    ops = []
    for op, share in mix.items():
        ops += [op] * max(1, round(share * n_calls))
    ops += ["rollback", "snapshot"]
    rnd.shuffle(ops)
    clock = log_end
    appends = []                    # clocks of appends so far
    latest = log_end - 3600

    def read_ts():
        if appends and rnd.random() < 0.4:
            return fmt(rnd.choice(appends[-3:]) + 60)
        return fmt(rnd.choices(hours, hour_w)[0])

    def rid():
        return str(rnd.choices(ids, id_w)[0])

    lines = []
    for op in ops:
        if op == "point":
            lines.append(["point", read_ts(), rid()])
        elif op == "state":
            lines.append(["state", read_ts(), "recheck" if rnd.random() < 0.5 else ""])
        elif op == "history":
            lines.append(["history", rid()])
        elif op == "compare":
            a, b = sorted([read_ts(), read_ts()])
            lines.append(["compare", rid(), a, b, "event_type,value"])
        elif op == "append":
            batch = [str(rnd.choices(ids, id_w)[0]) for _ in range(50)]
            lines.append(["append", fmt(clock), ",".join(batch), str(next_event_id),
                          str(rnd.randrange(1 << 30))])
            appends.append(clock)
            latest = clock + 49
            next_event_id += 50
            clock += 600
        elif op == "rollback":
            target = appends[-2] if len(appends) >= 2 else log_end - 7200
            lines.append(["rollback", fmt(target), fmt(clock)])
            latest = clock
            clock += 600
        elif op == "snapshot":
            lines.append(["snapshot", fmt(latest)])
    for at in (fmt(rnd.choice(hours)), fmt(latest), fmt(clock + 3600)):
        lines.append(["oracle", at])
    return lines, sum(1 for l in lines if l[0] == "append") * 50


def oracle_check(res, failures):
    """DuckDB's AS-OF over the vault's own parquet log against the
    façade's uncached and cached reads; and the log's row count."""
    import duckdb
    con = duckdb.connect()
    logp = os.path.join(res["log_dir"], "**", "*.parquet")
    log_rows = con.execute(f"SELECT count(*) FROM read_parquet('{logp}', hive_partitioning=1)"
                           ).fetchone()[0]
    expect_rows = (res["seeded_rows"] + res["appended_rows"]
                   + sum(c["affected"] for c in res["calls"] if c["op"] == "rollback"))
    checks = 1
    if log_rows != expect_rows:
        failures.append({"call": "log_rows", "reason":
                         f"log has {log_rows} rows, expected {expect_rows}"})
    cols = "user_id, ts, event_id, event_type, value, props"
    for o in res["oracle"]:
        truth = f"""
            SELECT {cols} FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
              FROM read_parquet('{logp}', hive_partitioning=1)
              WHERE ts <= TIMESTAMP '{o['at']}')
            WHERE rn = 1 AND _op <> 'D'"""
        for side in ("query", "cached"):
            checks += 1
            got = f"SELECT {cols} FROM read_parquet('{o[side]}/*.parquet')"
            diff = con.execute(f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {truth})),"
                               f" (SELECT count(*) FROM ({truth} EXCEPT ALL {got})),"
                               f" (SELECT count(*) FROM ({truth}))").fetchone()
            if diff[0] or diff[1] or diff[2] == 0:
                failures.append({"call": f"oracle:{side}@{o['at']}", "reason":
                                 f"{diff[0]} extra and {diff[1]} missing rows against "
                                 f"DuckDB's AS-OF ({diff[2]} rows)"})
    con.close()
    return checks


def account_vault(calls, recheck):
    """Splits vault calls into timed ones and named failures: a call that
    threw, or a cached read whose rows differ from an uncached read of
    the same timestamp (a stale cache entry), contributes no timing."""
    uncached = {r["i"]: r["fp"] for r in recheck}
    ok, failures = [], []
    for c in calls:
        if c["error"]:
            failures.append({"call": f"{c['op']}#{c['i']}", "reason": "threw: " + c["error"]})
        elif c["i"] in uncached and uncached[c["i"]] != c["fp"]:
            failures.append({"call": f"{c['op']}#{c['i']}",
                             "reason": "cached read differs from an uncached read"})
        else:
            ok.append(c)
    return ok, failures


def run_vault(seed, seconds, trace, classes, jars, run_dir, deadline, opts):
    lines, appended = vault_plan(seed, n_calls=VAULT_CALLS_PER_S * seconds)
    # the warm-up sequence comes from a different seed of the same
    # generator and runs on another vault root
    warm, _ = vault_plan(seed + 1_000_003, n_calls=VAULT_WARM_CALLS)
    os.makedirs(run_dir, exist_ok=True)
    files = []
    for name, plan in (("calls.tsv", lines), ("warm.tsv", warm)):
        files.append(os.path.join(run_dir, name))
        with open(files[-1], "w") as f:
            f.write("\n".join("\t".join(l) for l in plan) + "\n")
    res = harness(classes, jars, run_dir,
                  ["--workload", "vault_rw", "--calls", files[0], "--warm-calls", files[1],
                   "--trace", str(trace)], deadline)
    res["appended_rows"] = appended
    for c in res["calls"]:
        log(f"[perfbench] {c['op']}#{c['i']}: {c['wall_s']:.3f}s")
    ok, failures = account_vault(res["calls"], res["recheck"])
    attempted = len(res["calls"]) + oracle_check(res, failures)
    walls = [c["wall_s"] for c in ok]
    reads = [c["wall_s"] * 1e3 for c in ok if c["op"] in READ_OPS]
    m = {
        "setup_s": res["setup_s"],
        "suite_s": sum(walls),
        "key_p50_s": pct(walls, 50),
        "key_p90_s": pct(walls, 90),
        "read_p50_ms": pct(reads, 50),
        "reads": reads,
        "appends": [c["wall_s"] * 1e3 for c in ok if c["op"] == "append"],
        "n": len(walls),
    }
    user_bytes = 48 * (res["seeded_rows"] + appended)
    m["space_amp"] = res["root_bytes"] / user_bytes
    return res, m, ok, failures, attempted


# ---------------------------------------------------------------- metrics

# The end-to-end metrics in the result line: every one is measured on
# both workloads and is never 0 (see README.md for the other metrics,
# printed as info lines instead).
E2E = [("setup_s", "s"), ("suite_s", "s"), ("key_p50_s", "s"), ("read_p50_ms", "ms")]


def per_layer(workload, res, ok):
    """The traced run's 116 per-layer metrics. A layer a workload does not
    exercise reports 0; catalog layer metrics are per pass (the sum over
    the passes divided by their number)."""
    z = {}
    z["session.start_s"] = res["session_start_s"]
    z["session.warmup_s"] = res["warmup_s"]
    cat = workload.startswith("catalog")
    # catalog_reopen's priming ran once, in the first run of the
    # checkout; its traced numbers were kept with the warehouse
    prime = res.get("priming", res) if cat else {}
    pc = prime.get("prime_counters", {})
    z["sources.prime_s"] = prime.get("prime_s", 0.0)
    z["sources.prime_jobs"] = pc.get("jobs", 0)
    z["sources.prime_task_s"] = pc.get("task_s", 0.0)
    z["sources.prime_shuffle_bytes"] = pc.get("shuffle_bytes", 0)
    z["sources.prime_spill_bytes"] = pc.get("spill_bytes", 0)
    z["sources.artifacts_built"] = prime.get("artifacts_built", 0)
    z["sources.artifact_bytes"] = prime.get("artifact_bytes", 0)
    # artifacts the measured run itself wrote (0 on catalog_reopen)
    z["sources.writethrough_artifacts"] = len(res.get("writethrough", [])) if cat else 0
    passes = res.get("passes", 1)
    for L in LAYERS:
        rs = [r for r in ok if cat and layer(r["key"]) == L]
        z[f"{L}.wall_s"] = sum(r["wall_s"] for r in rs) / passes
        z[f"{L}.build_s"] = sum(r["build_s"] for r in rs) / passes
        z[f"{L}.plan_s"] = sum(r["plan_ms"] for r in rs) / 1e3 / passes
        z[f"{L}.task_s"] = sum(r.get("task_s", 0.0) for r in rs) / passes
        z[f"{L}.jobs"] = sum(r.get("jobs", 0) for r in rs) / passes
        z[f"{L}.shuffle_bytes"] = sum(r.get("shuffle_bytes", 0) for r in rs) / passes
        z[f"{L}.spill_bytes"] = sum(r.get("spill_bytes", 0) for r in rs) / passes
    z["streaming.drain_floor_s"] = (res.get("drain_floor_s") or 0.0) if cat else 0.0
    ops = res.get("ops", {})
    for op in VAULT_OPS:
        cs = [c for c in ok if not cat and c["op"] == op]
        z[f"vault.{op}.n"] = len(cs)
        z[f"vault.{op}.busy_s"] = sum(c["wall_s"] for c in cs)
        z[f"vault.{op}.task_s"] = ops.get(op, {}).get("task_s", 0.0)
        z[f"vault.{op}.jobs"] = ops.get(op, {}).get("jobs", 0)
    cache = res.get("cache", {})
    looked = cache.get("hits", 0) + cache.get("misses", 0)
    z["vault.cache.hit_ratio"] = cache.get("hits", 0) / looked if looked else 0.0
    z["vault.cache.evictions"] = cache.get("evictions", 0)
    z["vault.log.files"] = res.get("log_files", 0)
    z["vault.log.bytes"] = res.get("log_bytes", 0)
    z["jvm.gc_s"] = res["jvm"]["gc_s"]
    z["jvm.gc_count"] = res["jvm"]["gc_count"]
    z["jvm.jit_s"] = res["jvm"]["jit_s"]
    return z


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", ".bytes")):
        return "bytes"
    if name.endswith("hit_ratio"):
        return "ratio"
    return "count"


def git_sha():
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unavailable"


def history_file(classes, workload):
    return os.path.join(BUILD, f"untraced-{os.path.basename(classes)}-{workload}.jsonl")


def report(opts, res, m, ok, failures, attempted, classes):
    """Prints the info lines and returns (correct, metrics)."""
    v = res["versions"]
    print(f"# graft benchmark workload={opts.workload} seed={opts.seed} trace={opts.trace} "
          f"git={git_sha()} source={os.path.basename(classes)} nproc={cores()} "
          f"heap={v['heap_max_mb']}MB java={v['java']} spark={v['spark']} corpus=sf0.01")
    detail = {k: res[k] for k in ("session_start_s", "warmup_s", "prime_s", "seed_s", "passes",
                                  "pass_s", "loop_s") if k in res}
    cj = res["cpu_jiffies"]
    detail["steal_share"] = cj["steal_j"] / max(1, cj["total_j"])
    detail["steal_of_busy"] = cj["steal_j"] / max(1, cj["total_j"] - cj["idle_j"])
    print(f"# set-up and loop detail: {json.dumps(detail)}")
    print(f"# fail_ratio = {len(failures) / attempted:.4f} ratio "
          f"({len(failures)} of {attempted} calls and checks)")
    for f in failures:
        print(f"# FAILED {f['call']}: {f['reason']}")
    e2e = {k: m[k] for k, _ in E2E}
    for name, u in E2E:
        note = f" (n={m['n']})" if name == "key_p50_s" else ""
        print(f"# {name} = {e2e[name]} {u}{note}")
    print(f"# key_p90_s = {m['key_p90_s']} s (n={m['n']})")
    print(f"# peak_rss_mb = {res['jvm']['peak_rss_mb']} MB")
    tp, tv, tn = tail(m["reads"])
    print(f"# read_tail_ms = {tv if tv is not None else 'n/a'} ms (p{tp}, n={tn})")
    if m["appends"]:
        tp, tv, tn = tail(m["appends"])
        print(f"# append_p50_ms = {pct(m['appends'], 50)} ms (n={len(m['appends'])})")
        print(f"# append_tail_ms = {tv if tv is not None else 'n/a'} ms (p{tp}, n={tn})")
    if "space_amp" in m:
        print(f"# space_amp = {m['space_amp']} ratio (bytes under the vault root / "
              f"48 bytes per user row)")
    correct = not failures and all(e2e[k] is not None for k, _ in E2E)
    if opts.trace == 0:
        if correct:
            os.makedirs(BUILD, exist_ok=True)
            with open(history_file(classes, opts.workload), "a") as f:
                f.write(json.dumps(e2e) + "\n")
        return correct, {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    z = per_layer(opts.workload, res, ok)
    hist = history_file(classes, opts.workload)
    past = []
    if os.path.exists(hist):
        with open(hist) as f:
            past = [json.loads(l) for l in f if l.strip()]
    if past:
        for name, u in E2E:
            base = statistics.median(p[name] for p in past)
            print(f"# trace overhead {name} = {e2e[name] - base:+.6g} {u} "
                  f"(traced {e2e[name]:.6g} - untraced median {base:.6g} of {len(past)} runs)")
    else:
        print("# trace overhead: no untraced run of this workload in this checkout yet")
    tdir = os.path.join(BUILD, "traces")
    os.makedirs(tdir, exist_ok=True)
    tfile = os.path.join(tdir, f"{opts.workload}-s{opts.seed}.json")
    with open(tfile, "w") as f:
        json.dump(res["spans"], f)
    print(f"# spans: {len(res['spans'])} written to {os.path.relpath(tfile, ROOT)}")
    return correct, {k: {"value": x, "unit": unit(k)} for k, x in z.items()}


def main(argv=None):
    # SIGTERM unwinds like an error, so the JVM is stopped and the run's
    # directory removed
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", type=lambda s: s.split(","), default=None,
                    help="catalog keys to time instead of perfbench/keys.txt (all: every key)")
    ap.add_argument("--inject", default=None, help=argparse.SUPPRESS)
    opts = ap.parse_args(argv)
    run_dir = os.path.join(BUILD, "runs", f"{opts.workload}-s{opts.seed}-t{opts.trace}-{os.getpid()}")
    try:
        jars = spark_jars()
        classes = build(jars)
        primed_warehouse(classes, jars)
        deadline = time.time() + RUN_LIMIT_S
        if opts.workload == "vault_rw":
            res, m, ok, failures, attempted = run_vault(
                opts.seed, opts.seconds, opts.trace, classes, jars, run_dir, deadline, opts)
        else:
            res, m, ok, failures, attempted = run_catalog(
                opts.workload, opts.seed, opts.trace, classes, jars, run_dir, deadline, opts)
    except BenchError as e:
        log(f"[perfbench] error: {e}")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    correct, metrics = report(opts, res, m, ok, failures, attempted, classes)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
