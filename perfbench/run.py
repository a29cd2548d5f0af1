#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and
graft's sources with sbt (into perfbench/target); later runs reuse the
build while the sources are unchanged. The seed selects a corpus that
gen.py writes under perfbench/.run/data, once per seed, outside all
timing. The whole corpus (about 2 MB of parquet) fits in memory.

One JVM runs the workload (see Harness.scala): several timed set-ups,
the workload's untimed warm-up passes, then one client thread
in a closed loop, starting passes over the op list for --seconds. The last warm-up pass is the
verification pass: its results are checked here in DuckDB against
graft's oracle SQL (exec workloads) or against the recorded lineage
golden (plan workloads), and every timed op must reproduce it. A thrown
error or a mismatch fails the op.

The last line of stdout is one JSON object: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The exit code is
nonzero when any op failed, after everything is printed.
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

import duckdb
import pandas as pd
import pyarrow.dataset as pads

import metrics as M

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, ".run")
# the harness JVM's limit; with the corpus and the oracle check a run
# ends well within three minutes of its build
JVM_TIMEOUT_S = 150
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()
# Spark 4 on JDK 17 outside spark-submit needs these opens (Spark's
# launcher adds the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


_child = None


def _stop(signum, _frame):
    if _child is not None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_group(cmd, cwd, env, timeout):
    """Run cmd in its own process group and wait for it; on timeout or
    when this script is stopped, kill the whole group (sbt and the JVM
    start children of their own)."""
    global _child
    p = _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                  stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    return p.returncode, out, err


def sources_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        h.update(open(p, "rb").read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    stamp_file = os.path.join(RUN, "classpath.json")
    stamp = sources_stamp()
    if os.path.exists(stamp_file):
        saved = json.load(open(stamp_file))
        if saved["stamp"] == stamp:
            return saved["classpath"]
    print("building graft and the harness with sbt ...", file=sys.stderr)
    code, out, err = run_group(
        ["sbt", "-batch", "-Dsbt.server.forcestart=false",
         f"-Djava.io.tmpdir={tmp_dir()}", "compile", "export Runtime/fullClasspath"],
        BENCH, None, 850)
    if code != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed")
    cp = [l for l in out.splitlines() if "scala-2.13/classes" in l][-1].strip()
    json.dump({"stamp": stamp, "classpath": cp}, open(stamp_file, "w"))
    return cp


def corpus(seed, sf):
    d = os.path.join(RUN, "data", f"seed-{seed}-sf{sf}")
    if not os.path.exists(os.path.join(d, "complete")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), d, str(seed), str(sf)],
                       check=True, timeout=120)
        open(os.path.join(d, "complete"), "w").close()
    h = hashlib.sha256()
    for t in TABLES:
        h.update(open(os.path.join(d, f"{t}.parquet"), "rb").read())
    return d, h.hexdigest()[:16]


def tmp_dir():
    d = os.path.join(RUN, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def run_jvm(cp, wl, data, seconds, trace, out, budget):
    tmp = tmp_dir()
    work = os.path.join(RUN, "work")
    os.makedirs(work, exist_ok=True)
    ops_file = os.path.join(out, "ops.txt")
    with open(ops_file, "w") as f:
        f.write("\n".join(wl["ops"]) + "\n")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
        f"-Dspark.hadoop.hive.exec.scratchdir={tmp}/hive",
        f"-Dspark.hadoop.hive.exec.local.scratchdir={tmp}/hive-local",
        "-Dlog4j2.level=ERROR",
        "-cp", cp, "graftbench.Harness", "run", wl["kind"], data, ops_file,
        str(wl["warm_passes"]), str(seconds), str(trace), out]
    env = dict(os.environ, SPARK_GRAFT_TMPDIR=tmp)
    code, _, err = run_group(cmd, work, env, budget)
    if code != 0:
        sys.stderr.write(err[-4000:])
        fail(f"the harness exited with {code}")
    return json.load(open(os.path.join(out, "raw.json")))


def canon(df):
    """Columns by name, rows sorted by every column: the canonical form
    of graft's selfcheck, copied so that the benchmark's correctness
    gate changes only with the benchmark."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def oracle_check(data, out, raw):
    """The gates whose verification pass is wrong, each with the reason."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    bad = {}
    for name, v in raw["verify"].items():
        if v["err"] is not None:
            bad[name] = v["err"]
            continue
        res = pads.dataset(os.path.join(out, "verify", name),
                           format="parquet").to_table().to_pandas()
        if name not in raw["oracle"]:
            if len(res) == 0:
                bad[name] = "rows-only gate returned 0 rows"
            continue
        try:
            a, b = canon(res), canon(con.execute(raw["oracle"][name]).df())
            for c in a.columns:
                if c in b.columns and str(a[c].dtype) != str(b[c].dtype):
                    try:
                        b[c] = b[c].astype(a[c].dtype)
                    except Exception:
                        pass
            pd.testing.assert_frame_equal(a, b, check_exact=True, check_dtype=False)
        except Exception as e:
            bad[name] = "oracle mismatch: " + str(e).replace("\n", " | ")[:300]
    return bad


GOLDEN = os.path.join(BENCH, "golden_lineage.json")


def golden_check(raw, record=False):
    """Compare the verification pass's lineage to the golden; with
    `record`, write the golden from it instead (lineage depends on the
    plans only, so one recording holds on every seed)."""
    if record:
        with open(GOLDEN, "w") as f:
            json.dump({n: v["fp"] for n, v in sorted(raw["verify"].items())}, f, indent=1)
    golden = json.load(open(GOLDEN))
    bad = {}
    for name, v in raw["verify"].items():
        if v["err"] is not None:
            bad[name] = v["err"]
        elif golden.get(name) != v["fp"]:
            bad[name] = "lineage differs from the golden"
    return bad


def end_to_end(raw, ok_ops, failed_ops):
    """End-to-end metrics over the untraced timed ops. Throughput counts
    the wall time of their passes, first op start to last op end."""
    lat = [(o["end_ns"] - o["start_ns"]) / 1e6 for o in ok_ops] + \
        [float("inf")] * len(failed_ops)
    passes = {}
    for o in ok_ops + failed_ops:
        a, z = passes.get(o["pass"], (o["start_ns"], o["end_ns"]))
        passes[o["pass"]] = (min(a, o["start_ns"]), max(z, o["end_ns"]))
    wall_s = sum(z - a for a, z in passes.values()) / 1e9
    p90, beyond = M.tail_percentile(lat, 90)
    p50 = statistics.median(lat)
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "warmup_s": (raw["warmup_s"], "s"),
        "op_p50_ms": (p50 if p50 != float("inf") else None, "ms"),
        "op_p90_ms": (p90 if p90 != float("inf") else None, "ms"),
        "ops_per_s": (len(ok_ops) / wall_s, "1/s"),
        "fail_frac": (len(failed_ops) / max(1, len(lat)), "ratio"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }, len(lat), beyond


def per_layer(raw):
    """Per-layer metrics of the traced passes: times and counts are per
    op (mean over traced ops), fractions are ratios of sums."""
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["name"] == "op"]
    n = max(1, len(ops))
    jobs = [t for t in raw["tasks"] if t["kind"] == "job" and t["span"] in by_id]
    stages = [t for t in raw["tasks"] if t["kind"] == "stage" and t["span"] in by_id]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur_ms(ss):
        return sum(s["end_ns"] - s["start_ns"] for s in ss) / 1e6

    def of_spans(tasks, name):
        return [t for t in tasks if by_id[t["span"]]["name"] == name]

    def attr(ss, key):
        return sum(s["attrs"].get(key, 0.0) for s in ss)

    build, collect = named("build"), named("collect")
    job_iv = {}
    for j in jobs:
        job_iv.setdefault(j["span"], []).append((j["start_ns"], j["end_ns"]))
    build_self = sum(M.self_time(s["start_ns"], s["end_ns"], job_iv.get(s["id"], []))
                     for s in build) / 1e6
    physical, optimize = named("physical"), named("optimize")
    rule_calls = attr(optimize, "graft_rule_calls")
    hops = named("lineage_hops")
    outputs = attr(hops, "outputs")
    cstages = of_spans(stages, "collect")
    collect_s = dur_ms(collect) / 1e3
    op_iv = [(s["start_ns"], s["end_ns"]) for s in ops]
    batches = [b for b in raw["batches"]
               if any(a <= b["at_ns"] <= z for a, z in op_iv)]
    trig = [b["trigger_ms"] for b in batches]

    traced = [o for o in raw["ops"] if o["traced"]]
    plain = [o for o in raw["ops"] if not o["traced"]]

    def mean_wall(os_):
        return sum(o["end_ns"] - o["start_ns"] for o in os_) / max(1, len(os_))

    def per_op(key, tasks):
        return attr(tasks, key) / n

    return {
        "queries.build_ms": (dur_ms(build) / n, "ms"),
        "queries.build_jobs": (len(of_spans(jobs, "build")) / n, "count"),
        "queries.build_task_s": (attr(of_spans(stages, "build"), "task_run_s") / n, "s"),
        "queries.build_driver_ms": (build_self / n, "ms"),
        "planning.optimize_ms": (dur_ms(optimize) / n, "ms"),
        "planning.physical_ms": (dur_ms(physical) / n, "ms"),
        "plans.rule_ms": (attr(optimize, "graft_rule_ms") / n, "ms"),
        "plans.rule_effective_frac": (
            attr(optimize, "graft_rule_effective") / rule_calls if rule_calls else 0.0, "ratio"),
        "lineage.of_ms": (dur_ms(named("lineage_of")) / n, "ms"),
        "lineage.hops_ms": (dur_ms(hops) / n, "ms"),
        "lineage.source_cols": (attr(named("lineage_of"), "source_cols") / n, "count"),
        "lineage.unknown_frac": (attr(hops, "unknown") / outputs if outputs else 0.0, "ratio"),
        "exec.collect_ms": (dur_ms(collect) / n, "ms"),
        "exec.jobs": (len(of_spans(jobs, "collect")) / n, "count"),
        "exec.stages": (len(cstages) / n, "count"),
        "exec.tasks": (per_op("tasks", cstages), "count"),
        "exec.task_run_s": (per_op("task_run_s", cstages), "s"),
        "exec.task_cpu_s": (per_op("task_cpu_s", cstages), "s"),
        "exec.gc_s": (per_op("gc_s", cstages), "s"),
        "exec.slot_busy_frac": (
            attr(cstages, "task_run_s") / (collect_s * raw["cores"]) if collect_s else 0.0,
            "ratio"),
        "exec.shuffle_read_mb": (per_op("shuffle_read_mb", cstages), "MB"),
        "exec.shuffle_write_mb": (per_op("shuffle_write_mb", cstages), "MB"),
        "exec.spill_mb": (per_op("spill_mb", cstages), "MB"),
        "exec.input_mb": (per_op("input_mb", cstages), "MB"),
        "exec.result_rows": (attr(collect, "rows") / n, "count"),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.batch_p50_ms": (statistics.median(trig) if trig else 0.0, "ms"),
        "streaming.add_batch_ms": (sum(b["add_batch_ms"] for b in batches) / n, "ms"),
        "streaming.commit_ms": (sum(b["commit_ms"] for b in batches) / n, "ms"),
        "streaming.state_rows": (
            sum(b["state_rows"] for b in batches) / len(batches) if batches else 0.0, "count"),
        "write.output_mb": (per_op("output_mb", stages), "MB"),
        "write.records": (per_op("output_records", stages), "count"),
        "tables.register_ms": (statistics.median(raw["register_ms"]), "ms"),
        "session.conf_leaks": (len(raw["conf_leaks"]), "count"),
        "trace.overhead_frac": (mean_wall(traced) / mean_wall(plain) - 1 if plain and traced else 0.0,
                                "ratio"),
    }


def layer_sum(raw):
    """Mean traced op wall, split into its layer spans (build, optimize,
    physical, lineage_of, lineage_hops, collect) and the op's own self time.
    The parts add up to the op wall by construction of the spans."""
    spans = raw["spans"]
    ops = {s["id"]: s for s in spans if s["name"] == "op"}
    n = max(1, len(ops))
    parts = {}
    for s in spans:
        if s["parent"] in ops:
            parts[s["name"]] = parts.get(s["name"], 0) + (s["end_ns"] - s["start_ns"]) / 1e6 / n
    wall = sum(o["end_ns"] - o["start_ns"] for o in ops.values()) / 1e6 / n
    own = sum(M.self_time(o["start_ns"], o["end_ns"],
                          [(c["start_ns"], c["end_ns"]) for c in spans if c["parent"] == i])
              for i, o in ops.items()) / 1e6 / n
    return wall, parts, own


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="corpus scale; the benchmark's runs use the default")
    ap.add_argument("--record-golden", action="store_true",
                    help="plan workloads: record the lineage golden from this run")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft's sources are not in {ROOT}; run from the root of a checkout")
    workloads = json.load(open(os.path.join(BENCH, "workloads.json")))
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {sorted(workloads)}")
    wl = workloads[a.workload]
    os.makedirs(RUN, exist_ok=True)

    cp = build()
    data, fingerprint = corpus(a.seed, a.sf)
    out = os.path.join(RUN, "out", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    raw = run_jvm(cp, wl, data, a.seconds, a.trace, out, JVM_TIMEOUT_S)

    bad = golden_check(raw, a.record_golden) if wl["kind"] == "plan" else oracle_check(data, out, raw)
    ok_ops, failed_ops = [], []
    for o in raw["ops"]:
        v = raw["verify"].get(o["name"], {})
        good = o["err"] is None and o["name"] not in bad and o["fp"] == v.get("fp")
        (ok_ops if good else failed_ops).append(o)
    untraced_ok = [o for o in ok_ops if not o["traced"]]
    untraced_failed = [o for o in failed_ops if not o["traced"]]
    e2e, samples, beyond = end_to_end(raw, untraced_ok, untraced_failed)

    print(f"workload {a.workload}  seed {a.seed}  sf {a.sf}  corpus {fingerprint}  "
          f"cores {raw['cores']}  ops/pass {len(wl['ops'])}  trace {a.trace}")
    print(f"warm-up passes (s): {', '.join(f'{x:.2f}' for x in raw['warm_passes_s'])}")
    for name, why in sorted(bad.items()):
        print(f"  FAIL {name}: {why}")
    for o in failed_ops:
        if o["name"] not in bad:
            why = o["err"] or "result differs from the verification pass"
            print(f"  FAIL {o['name']} (pass {o['pass']}): {why}")
    print(f"end-to-end (untraced ops: {samples} samples, {beyond} beyond p90):")
    for k, (v, u) in e2e.items():
        print(f"  {k:<18} {v if v is None else round(v, 4)} {u}")
    if a.trace:
        layers = per_layer(raw)
        wall, parts, own = layer_sum(raw)
        print(f"traced op wall {wall:.3f} ms = " + " + ".join(
            f"{k} {v:.3f}" for k, v in parts.items()) + f" + op self {own:.3f}")
        print("per-layer (traced ops, per op):")
        for k, (v, u) in layers.items():
            print(f"  {k:<26} {round(v, 4)} {u}")
        shown = layers
    else:
        # fail_frac is 0 and p90 is unsupported on small samples; both
        # are printed above, the result line holds the rest
        shown = {k: v for k, v in e2e.items() if k not in ("fail_frac", "op_p90_ms")}
    all_failed = len(failed_ops)
    result = {
        "correct": all_failed == 0 and not bad,
        "attempted": len(raw["ops"]),
        "failed": all_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
