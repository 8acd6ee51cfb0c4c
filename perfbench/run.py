#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark driver with sbt (perfbench/build.sbt) into `.bench_build/`; later
runs reuse the build until a source file changes. Each run generates its
inputs from the seed into its own scratch directory under `.bench_build/`,
launches the benchmark JVM on `local[nproc]`, checks the outputs, deletes
the scratch directory and prints a report whose last line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With `--trace 0`
the metrics are the end-to-end ones, with `--trace 1` the per-layer ones.

Workloads: inventory, hourly, commit_cas, curation_cold, commit_contention
(see perfbench/design.json for what each loads and why; the last two are
outside the contract in BENCHMARK.json).
"""
import argparse
import collections
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

import datagen  # noqa: E402
import hourly  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
WORKLOADS = ("inventory", "hourly", "commit_cas", "curation_cold", "commit_contention")

# Scale factors: inventory runs a fixed query subset on sf0.01 so a run
# fits its time budget; hourly and curation_cold run on sf0.1 inputs; the
# commit workloads generate their batches in the JVM.
SF = {"inventory": 0.01, "hourly": 0.1, "curation_cold": 0.1}
WARM_SF = 0.001

# The reference pipeline's own operator surface (graft.Bench's refKeys).
REF_KEYS = ["q_json_ingest", "q_json_normalize", "q_scan", "q_glob_scan",
            "q_prev_snapshot", "q_project", "q_lit_tag", "q_struct_flatten",
            "q_filter_nonempty", "q_anti_added", "q_anti_deleted",
            "q_snapshot_diff", "q_union_fold", "q_count", "q_limit",
            "q_gender_struct", "q_gender_join"]
# ROADMAP item 3's named targets and one streaming operator.
INVENTORY_EXTRA = ["q_quantiles", "q_rollup", "q_stats", "q_group_agg", "q_repetition",
                   "q_embed_quant", "q_dup_ngram_frac", "q_pii_scrub", "q_doc_fingerprint",
                   "q_pagerank", "q_sessionize"]
INVENTORY = REF_KEYS + INVENTORY_EXTRA

# graft.Bench's experiment knobs and other settings the benchmark must not
# inherit from the caller's environment.
SCRUB_ENV = ["SPARK_GRAFT_AQE", "SPARK_GRAFT_MIN_PART", "SPARK_GRAFT_EXTRA_CONF",
             "SPARK_GRAFT_TRACE", "SPARK_GRAFT_QUERIES", "SPARK_GRAFT_MASTER",
             "SPARK_GRAFT_JARS", "SPARK_GRAFT_SF_DIR", "GRAFT_FIXTURE_DURABLE",
             "SPARK_GRAFT_JDBC_URL", "SPARK_GRAFT_GCLOG"]

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """Half the host's memory in GiB, clamped to [2, 8] (the test suite's rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def source_stamp():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for dirpath, _, names in os.walk(base):
            if os.sep + "target" in dirpath:
                continue
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return "%d:%d" % (len(files), max(int(os.path.getmtime(f)) for f in files))


def build():
    """Compile engine + driver; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building engine and benchmark driver (sbt)")
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = res.stdout.splitlines()
    if res.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l][-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"build done in {time.time() - t0:.0f}s")
    return cp


def make_inputs(workload, seed, data, warm):
    """Generate the run's inputs from the seed."""
    if workload == "inventory":
        datagen.generate(data, SF[workload], seed)
    elif workload == "curation_cold":
        datagen.generate(warm, WARM_SF, seed, ["documents"])
        datagen.generate(data, SF[workload], seed, ["documents"])
    elif workload == "hourly":
        keys = dict(datagen.tables(SF[workload], seed, ["customer"]))["customer"]["c_custkey"]
        rows = hourly.write(data, keys.to_pylist(), seed)
        wkeys = dict(datagen.tables(WARM_SF * 10, seed, ["customer"]))["customer"]["c_custkey"]
        hourly.write(warm, wkeys.to_pylist(), seed + 1)
        return rows
    else:
        os.makedirs(data, exist_ok=True)
        os.makedirs(warm, exist_ok=True)
    return None


def launch(cp, args, work, deadline):
    env = {k: v for k, v in os.environ.items() if k not in SCRUB_ENV}
    env.update({"SPARK_GRAFT_CPUS": str(nproc()),
                "GRAFT_FIXTURE_CACHE": os.path.join(work, "fixtures"),
                "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")})
    for d in ("tmp", "fixtures", "spark-local", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby.log",
            # the Derby database stands in for the deployment's Postgres; like
            # the ES stub it keeps no durability promise, so disk flush
            # latency of the host stays out of the tick times
            "-Dderby.system.durability=test",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"benchmark JVM failed ({rc})")


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ---------------------------------------------------------------- metrics

def inventory_metrics(res):
    per = {k[len("query:"):]: stats.median(v) / 1000.0
           for k, v in res["samples"].items() if k.startswith("query:")}
    meds = list(per.values())
    named = {
        "inventory_s": (sum(meds), "s", len(meds)),
        "query_p50_s": (stats.median(meds), "s", len(meds)),
        "query_p90_s": (stats.percentile(meds, 90), "s", len(meds)),
        "ref_subset_s": (sum(per[q] for q in REF_KEYS if q in per), "s",
                         sum(q in per for q in REF_KEYS)),
    }
    ops = [m * 1000.0 for m in meds]
    return named, ops, len(meds) / sum(meds)


def hourly_metrics(res):
    ticks = res["samples"].get("tick_ms", [])
    named = {
        "tick_p50_s": (stats.median(ticks) / 1000.0, "s", len(ticks)),
        "tick_p90_s": (stats.percentile(ticks, 90) / 1000.0, "s", len(ticks)),
        "stored_bytes_ratio": (stats.median(res["samples"]["stored_bytes_ratio"]), "-",
                               len(res["samples"]["stored_bytes_ratio"])),
    }
    return named, ticks, 1000.0 * len(ticks) / sum(ticks)


def curation_metrics(res):
    reps = res["samples"].get("curation_ms", [])
    named = {"curation_s": (stats.median(reps) / 1000.0, "s", len(reps))}
    return named, reps, 1000.0 * len(reps) / sum(reps)


def commit_metrics(res):
    c = res["samples"].get("commit_ms", [])
    named = {
        "commit_p50_ms": (stats.median(c), "ms", len(c)),
        "commit_p90_ms": (stats.percentile(c, 90), "ms", len(c)),
        "commits_per_s": (res["commits_per_s"], "1/s", len(c)),
    }
    return named, c, res["commits_per_s"]


METRICS = {"inventory": inventory_metrics, "hourly": hourly_metrics,
           "commit_cas": commit_metrics, "curation_cold": curation_metrics,
           "commit_contention": commit_metrics}


# ------------------------------------------------------------ correctness

def check_outputs(workload, res, data, work, model):
    """Checks made outside the JVM: (number made, {failed name: reason})."""
    spill = os.path.join(work, "duckdb")
    if workload == "inventory":
        names = [k[6:] for k in res["samples"] if k.startswith("query:")]
        return len(names), {f"query:{q}": r for q, r in oracle.check_queries(
            data, res["verify_dir"], names, spill).items()}
    if workload == "curation_cold":
        want = oracle.funnel(data, res["oracle_sql"], spill)
        return 1, ({} if want == res["funnel"] else {
            "curation:funnel": f"engine {res['funnel']} != oracle {want}"})
    if workload == "hourly":
        counts, state = model
        fails = {}
        got = res.get("hourly_counts", {})
        for k, v in counts.items():
            if got.get(k) != v:
                fails[f"hourly:count:{k}"] = f"got {got.get(k)} want {v}"
        with open(res["final_state_file"]) as f:
            rows = collections.Counter(hourly.state_row(l) for l in f if l.strip())
        want = collections.Counter(state)
        if rows != want:
            extra, missing = rows - want, want - rows
            fails["hourly:final_state"] = (f"{sum(extra.values())} unexpected, "
                                           f"{sum(missing.values())} missing, e.g. "
                                           f"{list(extra)[:2]} / {list(missing)[:2]}")
        return len(counts) + 1, fails
    return 0, {}


def traced_metrics(a, res, fails):
    """The per-layer metrics of a traced run, and its trace file. A metric
    of a layer the workload loads (design.json) must have been measured, or
    the run fails; one of a layer it does not load reads 0 by declaration."""
    layers = dict(res.get("layers", {}))
    layers["util.fixture_dirs"] = float(res["fixtures"]["dirs"])
    layers["util.fixture_bytes"] = float(res["fixtures"]["bytes"])
    # first call minus the warm median, per query: the memo build cost
    builds = [max(0.0, ms - stats.median(res["samples"][f"query:{q}"]))
              for q, ms in res.get("first_ms", {}).items()
              if f"query:{q}" in res["samples"]]
    if builds:
        layers["util.fixture_build_ms"] = sum(builds) / len(builds)
    with open(os.path.join(HERE, "design.json")) as f:
        loads = set(json.load(f)["workloads"][a.workload]["loads"]) | {"self", "trace"}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = json.load(f)["per_layer"]
    metrics = {}
    for m in per_layer:
        name = m["name"]
        if name not in layers and name.split(".")[0] in loads:
            fails[f"trace:{name}"] = "not measured, although the workload loads its layer"
        metrics[name] = {"value": float(layers.get(name, 0.0)), "unit": m["unit"]}
    trace_out = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json")
    with open(trace_out, "w") as f:
        json.dump({"spans": res.get("trace_spans", []),
                   "counters": res.get("trace_counters", {}),
                   "layers": layers}, f)
    print(f"# trace written to {os.path.relpath(trace_out, ROOT)}")
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources under {ROOT}: run from a checkout of the repository")
        return 2
    cp = build()
    t_start = time.time()  # set-up is timed from here, after the (one-off) build
    work = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}-{int(t_start)}")
    data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
    os.makedirs(work)
    try:
        model_rows = make_inputs(a.workload, a.seed, data, warm)
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--data", data, "--warm", warm, "--work", work,
                "--seconds", str(a.seconds), "--seed", str(a.seed),
                "--trace", str(a.trace), "--out", out]
        if a.workload == "inventory":
            args += ["--queries", ",".join(INVENTORY)]
        launch(cp, args, work, t_start + RUN_LIMIT_S)
        with open(out) as f:
            res = json.load(f)
        model = hourly.expected(model_rows) if a.workload == "hourly" else None
        fails = {c["name"]: c["detail"] for c in res["checks"] if not c["ok"]}
        n_checked, more = check_outputs(a.workload, res, data, work, model)
        fails.update(more)
        named, ops, ops_per_s = METRICS[a.workload](res)
        setup_s = res["setup_end_epoch_ms"] / 1000.0 - t_start
        attempted = int(res["attempted"]) + n_checked
        if a.trace:
            metrics = traced_metrics(a, res, fails)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_ms": {"value": stats.median(ops), "unit": "ms"},
                "ops_per_s": {"value": ops_per_s, "unit": "1/s"},
            }
        named = dict(named)
        if "tick_ms" in res["samples"]:
            print("# tick samples (ms): " + " ".join(f"{v:.0f}" for v in res["samples"]["tick_ms"]))
        named["setup_s"] = (setup_s, "s", 1)
        named["rss_peak_mb"] = (res["rss_peak_kb"] / 1024.0, "MB", 1)
        named["fail_frac"] = (len(fails) / max(1, attempted), "-", attempted)
        env = dict(res["env"], heap=f"{heap_gb()}g", commit=git_commit(), seed=a.seed,
                   workload=a.workload)
        print(f"# env {json.dumps(env, sort_keys=True)}")
        phases = {"inputs+jvm+session": res["session_ready_epoch_ms"] / 1000.0 - t_start}
        phases.update({k: res[k] for k in ("warmup_s", "fixture_pass_s") if k in res})
        print("# setup phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))
        for k, (v, unit, n) in named.items():
            print(f"# {k} = {v:.6g} {unit} (n={n})")
        s = stats.summary(ops)
        up = f", p{s['upper_p']:g} {s['upper']:.6g} ms" if s["upper_p"] else ""
        print(f"# op latency: median {s['median']:.6g} ms{up} (n={s['n']})")
        failed = len(fails)
        for name, reason in sorted(fails.items()):
            print(f"# FAIL {name}: {reason}")
        print(f"# correct={not fails} attempted={attempted} failed={failed}")
        print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
