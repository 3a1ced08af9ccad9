#!/usr/bin/env python3
"""The repository benchmark: one command per workload and seed.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark's
JVM program from source (``benchmark/build.sbt``) when the sources changed,
generates the workload's inputs from the seed, runs them through the
engine's entry points in one JVM on ``local[nproc]``, checks every output
against DuckDB (each row's registered oracle SQL on the same inputs), and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, gathered by listeners and
spans that the traced run alone switches on (spans go to
``benchmark/.work/<workload>/spans.jsonl``). METRICS.md defines each one.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Input sizes per workload (see METRICS.md for why these sizes).
WORKLOADS = {
    # facts at the fixture's sf0.1 size; a larger scale does not fit the
    # time a full benchmark round may take (METRICS.md)
    "ads_nightly": {"rows_scale": 1.0, "n_docs": 100},
    # an sf0.05-sized corpus: 2,250 seeded documents, 250 arriving
    "admission_service": {"rows_scale": 0.001, "n_docs": 2_500},
}
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("items_per_s", "1/s")]
PER_LAYER = [
    ("core.plan_s", "s"), ("core.eager_barriers", "count"),
    ("core.eager_barrier_s", "s"), ("core.interpreted_ops", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.busy_share", "share"), ("exec.sched_delay_s", "s"),
    ("exec.gc_s", "s"), ("exec.failed_tasks", "count"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("pipelines.build_share", "share"), ("pipelines.jobs", "count"),
    ("io.input_bytes", "bytes"), ("io.publish_share", "share"),
    ("io.store_bytes_per_batch_byte", "ratio"), ("io.store_dirs", "count"),
    ("llm.jobs", "count"), ("llm.dedup_job_share", "share"),
    ("llm.admission_job_share", "share"), ("llm.compact_share", "share"),
    ("llm.index_build_share", "share"), ("llm.near_dup_rate", "share"),
    ("trace.overhead_share", "share"),
]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 160


def info(msg):
    print(f"[bench] {msg}", flush=True)


# ---------------------------------------------------------------- build

def spark_home():
    """The local Spark installation: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("no Spark installation: set SPARK_HOME")
    return home


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "src", "main", "scala")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile the engine and the JVM program unless the classes match the
    sources; returns the class directory."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(HERE, "target", "bench.stamp")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                return classes
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    info("building the engine and the benchmark JVM program (sbt compile)")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("benchmark build failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


# ---------------------------------------------------------------- run

def run_jvm(classes, workload, input_dir, work, seconds, trace):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = [java, "-Xmx3g"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            # deep enough call sites to see every repository frame of an action
            "-Dspark.callstack.depth=60",
            "-cp", classes + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graft.bench.Main", "--workload", workload, "--input", input_dir,
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--result", result, "--launch-ms", str(int(time.time() * 1000))]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_LOCAL_DIRS"] = tmp
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.exit(f"benchmark JVM failed with exit code {rc}")
    with open(result) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- check

def duck(input_dir):
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")
    return con


def read_parquet_dir(path):
    """Rows of a Spark output directory, in part-file order."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def mismatch(got, exp):
    """None when `got` equals `exp` under the oracle gate's rules (columns
    compared by name, rows in order, values exact), else the reason."""
    import pandas as pd
    if got is None:
        return "no output"
    got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
    exp = exp.reindex(sorted(exp.columns), axis=1).reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).split("\n")[0]
    return None


def check_ads(res, input_dir):
    """Per operation: the first mismatching row's reason, or None."""
    con = duck(input_dir)
    t0 = time.time()
    expected = {q: con.execute(sql).df() for q, sql in res["oracles"].items()}
    info(f"DuckDB oracle time: {time.time() - t0:.3f} s for {len(expected)} queries")
    bad = {}
    for op in res["ops"]:
        if op["ok"]:
            for q, exp in expected.items():
                why = mismatch(read_parquet_dir(os.path.join(op["info"]["out"], q)), exp)
                if why:
                    bad[op["i"]] = f"{q}: {why}"
                    break
    return bad


def audit_rows(root):
    """Every audit row in the admission audit store, any subdirectory."""
    import pandas as pd
    parts = [f for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
             if not any(seg.startswith(".") for seg in os.path.relpath(f, root).split(os.sep))]
    if not parts:
        return None
    return pd.concat([pd.read_parquet(f) for f in parts], ignore_index=True)


def check_admission(res, input_dir):
    """Each arrival's audit rows, warm-ups included, against the one-shot
    q98 oracle's rows for the same documents: with ids monotone across
    arrivals the concatenated audits equal the one-shot audit of the same
    corpus/arrival split. Warm-up arrivals have negative keys."""
    con = duck(input_dir)
    t0 = time.time()
    exp = con.execute(next(iter(res["oracles"].values()))).df()
    info(f"DuckDB oracle time: {time.time() - t0:.3f} s for 1 query")
    arrivals = [(-1 - w, inf) for w, inf in enumerate(res["warmups"])] + \
        [(op["i"], op["info"]) for op in res["ops"] if op["ok"]]
    got = audit_rows(arrivals[0][1]["audit"]) if arrivals else None
    bad, near, audited = {}, 0, 0
    for key, inf in arrivals:
        lo, hi = int(inf["first_id"]), int(inf["last_id"])
        want = exp[(exp.doc_id >= lo) & (exp.doc_id <= hi)]
        have = None if got is None else \
            got[(got.doc_id >= lo) & (got.doc_id <= hi)].sort_values("doc_id")
        why = mismatch(have, want)
        if why:
            bad[key] = f"arrival {inf['batch']}: {why}"
        elif key >= 0:
            near += int(have.near_dup.sum())
            audited += len(have)
    return bad, (near / audited if audited else 0.0)


# ---------------------------------------------------------------- metrics

def end_to_end(res, ok_ops, items):
    """The end-to-end metrics of the run's correct operations."""
    walls = [op["wall_s"] for op in ok_ops]
    setup = res["session_start_s"] + res["setup_step_s"] + sum(res["warmup_s"])
    if not walls:
        return {"setup_s": setup}
    return {"setup_s": setup,
            "op_p50_s": statistics.median(walls),
            "items_per_s": sum(items(op) for op in ok_ops) / sum(walls)}


def per_layer(res, ok_ops, near_dup_rate):
    """Per-operation medians of the traced counters."""
    if not ok_ops:
        return {}
    cores = res["cores"]

    def med(f):
        vals = [f(op["counters"], op) for op in ok_ops]
        return statistics.median(vals) if vals else 0.0

    def c(key):
        return lambda k, op: k.get(key, 0.0)

    def share(key):
        return lambda k, op: k.get(key, 0.0) / op["wall_s"]

    index_build_s = float(res["setup"].get("index_build_s", 0.0))
    return {
        "core.plan_s": med(c("core.plan_s")),
        "core.eager_barriers": med(c("jobs.Caching.scala")),
        "core.eager_barrier_s": med(c("job_s.Caching.scala")),
        "core.interpreted_ops": med(c("core.interpreted_ops")),
        "exec.jobs": med(c("exec.jobs")),
        "exec.stages": med(c("exec.stages")),
        "exec.tasks": med(c("exec.tasks")),
        "exec.busy_share": med(lambda k, op: k.get("exec.run_s", 0.0) / (op["wall_s"] * cores)),
        "exec.sched_delay_s": med(c("exec.sched_delay_s")),
        "exec.gc_s": med(c("exec.gc_s")),
        "exec.failed_tasks": med(c("exec.failed_tasks")),
        "exec.shuffle_write_bytes": med(c("exec.shuffle_write_bytes")),
        "exec.shuffle_read_bytes": med(c("exec.shuffle_read_bytes")),
        "exec.spill_bytes": med(c("exec.spill_bytes")),
        "pipelines.build_share": med(share("pipelines.build.s")),
        "pipelines.jobs": med(c("jobs_in.pipelines")),
        "io.input_bytes": med(c("io.input_bytes")),
        "io.publish_share": med(share("io.publish.s")),
        "io.store_bytes_per_batch_byte": med(
            lambda k, op: k.get("io.input_bytes", 0.0) / float(op["info"]["batch_bytes"])
            if "batch_bytes" in op["info"] else 0.0),
        "io.store_dirs": med(lambda k, op: float(op["info"].get("store_dirs", 0))),
        "llm.jobs": med(c("jobs.via.llm")),
        "llm.dedup_job_share": med(share("job_s.via.Dedup.scala")),
        "llm.admission_job_share": med(share("job_s.via.Admission.scala")),
        # compactions run every few arrivals: their share of all arrival time
        "llm.compact_share": sum(op["counters"].get("llm.compact.s", 0.0) for op in ok_ops)
        / (sum(op["wall_s"] for op in ok_ops) or 1.0),
        "llm.index_build_share": index_build_s / res["setup_step_s"],
        "llm.near_dup_rate": near_dup_rate,
        "trace.overhead_share": med(share("trace.listener_s")),
    }


def self_times(spans_path):
    """Seconds of self time per layer over all operations: every instant of
    an operation goes to the layer of the deepest span open at it, so
    concurrent jobs count once and the layers add up to the operations'
    time."""
    with open(spans_path) as fh:
        spans = [json.loads(line) for line in fh]
    spans = [s for s in spans if s["trace"] >= 0]
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s, d = by_id[s["parent"]], d + 1
        return d

    out = {}
    for trace in {s["trace"] for s in spans}:
        mine = [(depth(s), s) for s in spans if s["trace"] == trace]
        cuts = sorted({t for _, s in mine for t in (s["start_ns"], s["end_ns"])})
        for a, b in zip(cuts, cuts[1:]):
            open_ = [(d, s["layer"]) for d, s in mine if s["start_ns"] <= a and b <= s["end_ns"]]
            if open_:
                layer = max(open_)[1]
                out[layer] = out.get(layer, 0.0) + (b - a) / 1e9
    return out


def report_trace(res, spans):
    """Print the traced run's self time per layer, jobs per issuing module
    and operation latency."""
    ops = [op for op in res["ops"] if op["ok"]]
    if not ops:
        return
    total = sum(op["wall_s"] for op in ops)
    for layer, s in sorted(self_times(spans).items()):
        info(f"self time {layer:9s} {s:8.3f} s  {100 * s / total:5.1f}% of operation time")
    modules = {k[5:] for op in ops for k in op["counters"]
               if k.startswith("jobs.") and k.count(".") == 1} - {"-"}
    for m in sorted(modules):
        n = sum(op["counters"].get(f"jobs.{m}", 0.0) for op in ops)
        t = sum(op["counters"].get(f"job_s.{m}", 0.0) for op in ops)
        info(f"jobs issued from {m:9s} {n:6.0f} jobs {t:8.3f} s")
    info(f"traced op_p50_s = {statistics.median(op['wall_s'] for op in ops):.3f} s "
         "(compare with an untraced run's op_p50_s for the tracing overhead)")
    info(f"spans: {spans}")


def result_line(correct, attempted, failed, metrics, units):
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units}})


def summarize(res, bad, items, near_dup_rate, trace):
    """(correct, attempted, failed, metrics, units) of one run. An
    operation that raised, or whose output `bad` names as wrong, counts as
    failed, makes the run incorrect, and none of its numbers enter the
    metrics."""
    ok_ops = [op for op in res["ops"] if op["ok"] and op["i"] not in bad]
    attempted = len(res["ops"])
    failed = attempted - len(ok_ops)
    if trace:
        metrics, units = per_layer(res, ok_ops, near_dup_rate), PER_LAYER
    else:
        metrics, units = end_to_end(res, ok_ops, items), END_TO_END
    return not bad and failed == 0, attempted, failed, metrics, units


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("engine sources not found: run from a checkout of the repository")
    classes = build()

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    gen.generate(input_dir, args.seed, **WORKLOADS[args.workload])
    res = run_jvm(classes, args.workload, input_dir, work, args.seconds, args.trace)

    t0 = time.time()
    if args.workload == "ads_nightly":
        bad, near = check_ads(res, input_dir), 0.0
        rows = float(gen.fact_rows(WORKLOADS["ads_nightly"]["rows_scale"]))

        def items(op):
            return rows
    else:
        bad, near = check_admission(res, input_dir)

        def items(op):
            return float(op["info"]["docs"])
    info(f"output check: {time.time() - t0:.2f} s")
    for i, why in sorted(bad.items()):
        info(f"wrong output, operation {i}: {why}")
    for op in res["ops"]:
        if not op["ok"]:
            info(f"failed operation {op['i']}: {op['error']}")

    correct, attempted, failed, metrics, units = \
        summarize(res, bad, items, near, args.trace)
    info(f"error_rate = {failed}/{attempted} = {failed / attempted:.4f}")
    info(f"peak_rss_mb = {res['peak_rss_mb']:.1f} MB (VmHWM of the benchmark JVM)")
    walls = [op["wall_s"] for op in res["ops"] if op["ok"] and op["i"] not in bad]
    if walls and not args.trace:
        info(f"op_tail_s = {max(walls):.3f} s, the maximum of {len(walls)} operations")
    if args.trace:
        report_trace(res, os.path.join(work, "spans.jsonl"))
    if any(k not in metrics for k, _ in units):
        sys.exit("no operation completed correctly; no metrics to report")
    for name in os.listdir(work):   # keep only result.json, spans, jvm.log
        if os.path.isdir(os.path.join(work, name)):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    print(result_line(correct, attempted, failed, metrics, units))


if __name__ == "__main__":
    main()
