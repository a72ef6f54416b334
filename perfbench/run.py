#!/usr/bin/env python3
"""graft benchmark: the ELT pipeline and an operator query mix, measured
end to end (untraced) or per layer (traced).

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload elt_small --seed 1 --seconds 18 --trace 0

Workloads (see perfbench/README.md): elt_small, query_mix, and the opt-in
elt_large. The first run builds the engine and the harness with sbt into
perfbench/target; later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed under perfbench/.work.

The last line of stdout is one JSON object: correct, attempted, failed,
and the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The exit code is 0 only if every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4
HEAP = "4g"
# a fixed young generation: G1's adaptive young sizing otherwise moves the
# peak RSS by a fifth between identical runs
YOUNG = "1g"

# kind, TPC-H scale factor and replication, input generations in set-up,
# unmeasured warm passes after the cold pass (see README.md, "Passes"),
# and the seconds a run may take after the build (runs of the workloads in
# BENCHMARK.json must end within 180 s)
WORKLOADS = {
    "elt_small": dict(kind="elt", sf=0.01, factor=1, gens=3, warmup=1, deadline=170),
    "elt_large": dict(kind="elt", sf=0.1, factor=10, gens=1, warmup=1, deadline=900),
    "query_mix": dict(kind="mix", sf=0.01, factor=1, gens=3, warmup=0, deadline=170),
}
ELT_OUTPUTS = {"feature_customer": "q_feature_customer",
               "party_summary": "q_party_summary",
               "order_stats": "q_order_stats"}
HUBS = ["tpch_region", "tpch_nation", "tpch_customer", "tpch_supplier",
        "tpch_part", "tpch_orders", "tpch_lineitem"]
SOURCE_TABLE = {h: h[len("tpch_"):] for h in HUBS}
MIX = json.load(open(os.path.join(HERE, "mix.json")))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ----------------------------------------------------------------- build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and harness with sbt unless the build is current."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                        stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


# ----------------------------------------------------------------- setup

def make_inputs(cfg, seed, data):
    """Generate the inputs `cfg["gens"]` times; (median seconds, rows)."""
    times = []
    for _ in range(cfg["gens"]):
        t = time.monotonic()
        shutil.rmtree(data, ignore_errors=True)
        rows = datagen.write(data, seed, sf=cfg["sf"], factor=cfg["factor"])
        if cfg["kind"] == "mix":
            for f in sorted(os.listdir(os.path.join(HERE, "fixtures"))):
                shutil.copy(os.path.join(HERE, "fixtures", f), os.path.join(data, f))
        times.append(time.monotonic() - t)
    return metrics.median(times), rows


def tree_bytes(path, pattern=".parquet"):
    """(bytes, files) of the parquet data files under path."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(pattern) and not f.startswith("."):
                total += os.path.getsize(os.path.join(d, f))
                files += 1
    return total, files


# ------------------------------------------------------------------- jvm

def run_jvm(classes, args, log_path, deadline):
    home = spark_home()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", f"{classes}{os.pathsep}{os.path.join(home, 'jars', '*')}",
        "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()]
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        rc = None
        try:
            rc = proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")


def read_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# --------------------------------------------------------------- metrics

class Run:
    """The records of one harness run, indexed for the metric formulas."""

    def __init__(self, recs):
        self.recs = recs
        self.spans = [r for r in recs if r["kind"] == "span"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.meta = {r["name"]: r["value"] for r in recs if r["kind"] == "meta"}
        marks = [r for r in recs if r["kind"] == "pass"]
        self.traced = {r["pass"]: r["traced"] for r in marks}
        self.roots = {s["pass"]: s for s in self.spans if s["parent"] == 0}
        self.measured = sorted(r["pass"] for r in marks if r["measured"])
        self.errors = [r for r in recs if r["kind"] == "error"]

    def passes(self, traced):
        return [p for p in self.measured if self.traced.get(p, False) == traced]

    def dur(self, s):
        return s["end"] - s["start"]

    def named(self, name, passes):
        """{pass: total ms of spans called `name`} over `passes`."""
        out = {p: 0.0 for p in passes}
        for s in self.spans:
            if s["pass"] in out and s["name"] == name:
                out[s["pass"]] += self.dur(s)
        return out

    def prefixed(self, prefix, passes):
        out = {p: 0.0 for p in passes}
        for s in self.spans:
            if s["pass"] in out and s["name"].startswith(prefix):
                out[s["pass"]] += self.dur(s)
        return out

    def locate(self, t):
        """The innermost span open at epoch ms t (spans nest on one thread)."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best

    def span_of_job(self, j):
        tag = j.get("span") or ""
        if tag and int(tag) in self.by_id:
            return self.by_id[int(tag)]
        return self.locate(j["start"])

    def ancestors(self, s):
        while s is not None:
            yield s
            s = self.by_id.get(s["parent"])


def steps(run, kind, passes):
    """{step: [ms per pass]}: the calls a pass is made of."""
    if kind == "elt":
        comp = run.named("parse", passes)
        for p, v in run.named("analyze", passes).items():
            comp[p] += v
        parts = {"compile": comp, "hubs": run.named("exec.hubs", passes),
                 "outputs": run.named("exec.outputs", passes)}
    else:
        names = sorted({s["name"] for s in run.spans if s["name"].startswith("query:")})
        parts = {n[len("query:"):]: run.named(n, passes) for n in names}
    return {k: [v[p] for p in passes] for k, v in parts.items()}


def end_to_end(run, kind, passes, input_rows, written, read, setup_s, ok_ratio):
    root = [run.dur(run.roots[p]) / 1000.0 for p in passes]
    st = steps(run, kind, passes)
    comp = st["compile"] if kind == "elt" else list(
        run.prefixed("entry.build:", passes).values())
    step_medians = [metrics.median(v) / 1000.0 for v in st.values()]
    samples = [x / 1000.0 for v in st.values() for x in v]
    p90, p90_at = metrics.tail(samples)
    pipeline_s = metrics.median(root)
    values = {
        "setup_s": (setup_s, "s"),
        "cold_pipeline_s": (run.dur(run.roots[0]) / 1000.0, "s"),
        "pipeline_s": (pipeline_s, "s"),
        "rows_per_s": (input_rows / pipeline_s, "1/s"),
        "compile_s": (metrics.median(comp) / 1000.0, "s"),
        "write_amp": (metrics.write_amp(written, read), "ratio"),
        "mix_s": (sum(step_medians), "s"),
        "query_p50_s": (metrics.median(samples), "s"),
        "query_p90_s": (p90, "s"),
        "query_geomean_s": (metrics.geomean(step_medians), "s"),
        "ok_ratio": (ok_ratio, "ratio"),
        "peak_rss_mb": (run.meta["peak_rss_mb"], "MB"),
    }
    detail = {"passes": len(passes), "query_samples": len(samples),
              "query_tail_percentile": p90_at, "steps": len(st)}
    return values, detail


def per_layer(run, kind, write_stats):
    """Per-layer metrics from the traced measured passes, per pass."""
    passes = run.passes(traced=True)
    untraced = run.passes(traced=False)
    n = len(passes)
    pset = set(passes)
    med = lambda d: metrics.median(list(d.values())) if d else 0.0
    m = {}
    m["parse.load_ms"] = (med(run.named("parse", passes)), "ms")
    m["analyze.compile_ms"] = (med(run.named("analyze.compile", passes)), "ms")
    m["analyze.probe_ms"] = (med(run.named("analyze.probe", passes)), "ms")
    m["exec.hubs_ms"] = (med(run.named("exec.hubs", passes)), "ms")
    m["exec.outputs_ms"] = (med(run.named("exec.outputs", passes)), "ms")
    m["entry.build_ms"] = (med(run.prefixed("entry.build:", passes)), "ms")

    jobs = [r for r in run.recs if r["kind"] == "job"]
    queries = [r for r in run.recs if r["kind"] == "query"]
    job_span = [(j, run.span_of_job(j)) for j in jobs]
    job_span = [(j, s) for j, s in job_span if s is not None and s["pass"] in pset]
    q_span = [(q, run.locate(q["start"])) for q in queries if q["start"] > 0]
    q_span = [(q, s) for q, s in q_span if s is not None and s["pass"] in pset]

    def within(s, match):
        return any(match(a["name"]) for a in run.ancestors(s))

    per = lambda x: x / n if n else 0.0
    probe = lambda n: n == "analyze.probe"
    building = lambda n: n.startswith("entry.build:")
    m["analyze.probe_exprs"] = (per(sum(1 for q, s in q_span if within(s, probe))), "count")
    m["analyze.probe_jobs"] = (per(sum(1 for j, s in job_span if within(s, probe))), "count")
    m["entry.build_jobs"] = (per(sum(1 for j, s in job_span if within(s, building))), "count")
    for h in HUBS:
        ms = sum(j["end"] - j["start"] for j, _ in job_span
                 if j.get("desc") == f"hub materialize: {h}")
        m[f"exec.hub_write_ms.{h}"] = (per(ms), "ms")
    m["exec.hub_bytes"] = (write_stats.get("hub_bytes", 0.0), "bytes")
    m["exec.output_bytes"] = (write_stats.get("output_bytes", 0.0), "bytes")
    m["exec.files_written"] = (write_stats.get("files", 0.0), "count")

    plan_of = lambda q: q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"]
    for name in MIX["core"]:
        build = run.named(f"entry.build:{name}", passes)
        execs = run.named(f"entry.exec:{name}", passes)
        plan = {p: 0.0 for p in passes}
        for q, s in q_span:
            if within(s, lambda n: n == f"entry.exec:{name}"):
                plan[s["pass"]] += plan_of(q)
        present = any(s["name"] == f"query:{name}" for s in run.spans)
        m[f"q.{name}.build_ms"] = (med(build) if present else 0.0, "ms")
        m[f"q.{name}.plan_ms"] = (med(plan) if present else 0.0, "ms")
        m[f"q.{name}.exec_ms"] = (
            med({p: execs[p] - plan[p] for p in passes}) if present else 0.0, "ms")

    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = (per(sum(q[f"{ph}_ms"] for q, _ in q_span)), "ms")
    m["catalyst.file_scans"] = (per(sum(q["file_scans"] for q, _ in q_span)), "count")

    tot = lambda k: sum(j.get(k, 0.0) for j, _ in job_span)
    wall = sum(run.dur(run.roots[p]) for p in passes)
    MB = 1024.0 * 1024.0
    m["spark.jobs"] = (per(len(job_span)), "count")
    m["spark.stages"] = (per(tot("stages")), "count")
    m["spark.skipped_stages"] = (per(tot("skipped_stages")), "count")
    m["spark.tasks"] = (per(tot("tasks")), "count")
    m["spark.task_busy_s"] = (per(tot("task_busy_ms")) / 1000.0, "s")
    m["spark.slot_util"] = (metrics.slot_util(tot("task_busy_ms"), CORES, wall) if wall else 0.0,
                            "ratio")
    m["spark.task_wait_s"] = (per(tot("task_wait_ms")) / 1000.0, "s")
    m["spark.max_task_ms"] = (max([j.get("max_task_ms", 0.0) for j, _ in job_span] or [0.0]), "ms")
    m["spark.input_rows"] = (per(tot("input_records")), "count")
    m["spark.shuffle_read_mb"] = (per(tot("shuffle_read_bytes")) / MB, "MB")
    m["spark.shuffle_write_mb"] = (per(tot("shuffle_write_bytes")) / MB, "MB")
    m["spark.spill_mb"] = (per(tot("spill_bytes")) / MB, "MB")
    m["spark.gc_s"] = (per(tot("gc_ms")) / 1000.0, "s")
    m["spark.failed_tasks"] = (per(tot("failed_tasks")), "count")
    blocks = [r["value"] for r in run.recs if r["kind"] == "blocks" and r["pass"] in pset]
    m["spark.blocks_left"] = (max(blocks or [0.0]), "count")

    # self time per layer: spans partition the pass; a mix query's execute
    # span splits into the Catalyst phases it contains and Spark execution
    st = metrics.self_times(run.spans)
    layer = {"parse": 0.0, "analyze": 0.0, "exec": 0.0, "entry": 0.0,
             "catalyst": 0.0, "spark": 0.0, "other": 0.0}
    plan_in = {}
    for q, s in q_span:
        if s["name"].startswith("entry.exec:"):
            plan_in[s["id"]] = plan_in.get(s["id"], 0.0) + plan_of(q)
    for s in run.spans:
        if s["pass"] not in pset:
            continue
        name, own = s["name"], st[s["id"]]
        if name == "parse":
            layer["parse"] += own
        elif name.startswith("analyze"):
            layer["analyze"] += own
        elif name.startswith("exec"):
            layer["exec"] += own
        elif name.startswith("entry.build:"):
            layer["entry"] += own
        elif name.startswith("entry.exec:"):
            cat = min(own, plan_in.get(s["id"], 0.0))
            layer["catalyst"] += cat
            layer["spark"] += own - cat
        else:
            layer["other"] += own
    for k, v in layer.items():
        m[f"self.{k}_ms"] = (per(v), "ms")
    m["self.coverage"] = ((wall - layer["other"]) / wall if wall else 0.0, "ratio")

    # traced over untraced passes of the same JVM
    root = lambda ps: metrics.median([run.dur(run.roots[p]) for p in ps])
    mix = lambda ps: sum(metrics.median(v) for v in steps(run, kind, ps).values())
    ok = passes and untraced
    m["trace.overhead_pipeline"] = (root(passes) / root(untraced) if ok else 0.0, "ratio")
    m["trace.overhead_mix"] = (
        mix(passes) / mix(untraced) if ok and kind == "mix" else 0.0, "ratio")
    return m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request still ends the harness JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    cfg = WORKLOADS[a.workload]
    classes = build()
    deadline = time.monotonic() + cfg["deadline"]

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")

    # set-up: inputs (repeated, median), row-count verification
    gen_s, rows = make_inputs(cfg, a.seed, data)
    t = time.monotonic()
    counts = datagen.row_counts(data)
    verify_s = time.monotonic() - t
    checks = {f"rows:{k}": counts[k] == v for k, v in rows.items()}
    input_rows = sum(rows.values())
    read_bytes = 0
    for f in os.listdir(data):
        read_bytes += tree_bytes(os.path.join(data, f))[0]
    if cfg["kind"] == "mix":
        mix = MIX["core"] + MIX["drawn"]
        input_rows += sum(oracle.parquet_rows(os.path.join(data, f))
                          for f in os.listdir(os.path.join(HERE, "fixtures")))
        oracle_keys = mix
    else:
        mix = []
        oracle_keys = list(ELT_OUTPUTS.values())

    args = {"workload": cfg["kind"], "data": data, "work": work,
            "seconds": a.seconds, "warmup": cfg["warmup"], "trace": a.trace,
            "result": os.path.join(work, "records.jsonl"),
            "oracle": ",".join(oracle_keys)}
    if cfg["kind"] == "elt":
        args["project"] = os.path.join(HERE, "elt_project")
    else:
        args["queries"] = ",".join(mix)
    run_jvm(classes, args, os.path.join(work, "jvm.log"), deadline)
    run = Run(read_records(args["result"]))

    # oracle results, then the output checks; neither is in setup_s (with
    # the oracle cache, oracle time depends on earlier runs in the checkout)
    t = time.monotonic()
    con = oracle.connect(data)
    sqls = {r["name"]: r["sql"] for r in run.recs if r["kind"] == "oracle"}
    want = {k: oracle.expected_cached(con, sqls[k], data, os.path.join(WORK, "oracle-cache"))
            for k in oracle_keys}
    con.close()
    oracle_s = time.monotonic() - t
    setup_s = gen_s + verify_s + run.meta["session_s"]

    out = os.path.join(work, "out")
    write_stats = {}
    if cfg["kind"] == "elt":
        for r in run.recs:
            if r["kind"] == "check":
                checks[r["name"]] = r["ok"]
        for name, key in ELT_OUTPUTS.items():
            why = oracle.compare(os.path.join(out, "_warehouse", name), want[key])
            checks[f"output:{name}"] = why is None
            if why:
                log(f"output {name}: {why}")
        hub_b = hub_f = 0
        for h in HUBS:
            hub = os.path.join(out, f"enriched_{h}")
            checks[f"hub_rows:{h}"] = (os.path.isdir(hub) and
                                       oracle.parquet_rows(hub) == rows[SOURCE_TABLE[h]])
            b, f = tree_bytes(hub)
            hub_b, hub_f = hub_b + b, hub_f + f
        out_b, out_f = tree_bytes(os.path.join(out, "_warehouse"))
        write_stats = {"hub_bytes": float(hub_b), "output_bytes": float(out_b),
                       "files": float(hub_f + out_f)}
        written = hub_b + out_b
        operations = len(run.roots)
    else:
        failed_q = {e["name"] for e in run.errors}
        for q in mix:
            why = "failed" if q in failed_q else oracle.compare(
                os.path.join(work, "results", q), want[q])
            checks[f"result:{q}"] = why is None
            if why:
                log(f"result {q}: {why}")
        written = tree_bytes(os.path.join(work, "results"))[0]
        operations = len(run.roots) * len(mix)

    failed_checks = sorted(k for k, ok in checks.items() if not ok)
    attempted = operations + len(checks)
    failed = len(run.errors) + len(failed_checks)
    correct = failed == 0
    ok_ratio = 1.0 - failed / attempted

    passes = run.passes(traced=False) if a.trace == 0 else run.passes(traced=True)
    if a.trace == 0:
        values, detail = end_to_end(run, cfg["kind"], passes, input_rows, written,
                                    read_bytes, setup_s, ok_ratio)
    else:
        values = per_layer(run, cfg["kind"], write_stats)
        detail = {"traced_passes": len(passes),
                  "untraced_passes": len(run.passes(traced=False))}
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"spans": run.spans,
                       "jobs": [r for r in run.recs if r["kind"] == "job"],
                       "queries": [r for r in run.recs if r["kind"] == "query"]}, f)
    detail.update({"workload": a.workload, "seed": a.seed, "input_rows": input_rows,
                   "input_bytes": read_bytes, "bytes_written": written,
                   "failed_ratio": failed / attempted, "failed_checks": failed_checks,
                   "errors": [e["name"] for e in run.errors], "mix": mix,
                   "setup": {"gen_s": gen_s, "verify_s": verify_s,
                             "session_s": run.meta["session_s"], "oracle_s": oracle_s}})
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
