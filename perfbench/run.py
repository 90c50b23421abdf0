#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
engine and the harness with the Scala compiler that ships in Spark's jars,
generates the fixture and computes the DuckDB oracle answers; all of it is
cached under .bench_build/perfbench and reused by later runs.

One run starts one JVM (local[N], N = cores, one closed-loop client), sets
up (three times for ingest), checks every op, then times whole rounds:
board at least three and for at least --seconds, ingest exactly three.
The last stdout line is the result object; progress goes to stderr. With
--trace 1 untraced and traced rounds alternate; the run prints the
per-layer metrics and writes the spans to .bench_build/perfbench/trace/.
One run at a time per checkout.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import plan as plans  # noqa: E402
import check  # noqa: E402

CACHE = os.path.join(".bench_build", "perfbench")
SCALA_SRC = os.path.join("src", "main", "scala")
JVM_MEM = "4g"
# the JVM's limit; the one-time build and fixture steps before it are not
# counted, so a first run in a fresh checkout may take longer
DEADLINE_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = {"wall_s": "s", "latency_p50_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}

# The per-layer metrics printed with --trace 1, all of them on every
# workload: a layer the workload does not reach reads 0.
LAYER_UNITS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_wall_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.busy_share": "share",
    "exec.gc_s": "s", "exec.peak_mem_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "io.read_bytes": "bytes", "io.records_read": "count",
    "plans.op_s": "s", "expressions.op_s": "s",
    "ingest.gate_s": "s", "ingest.band_append_s": "s", "ingest.annidx_append_s": "s",
    "ingest.graph_append_s": "s", "ingest.add_batch_s": "s", "ingest.trigger_s": "s",
    "ingest.accepted": "count", "ingest.rejected": "count", "ingest.accept_ratio": "share",
    "ingest.graph_edges": "count", "ingest.annidx_files": "count",
    "setup.session_s": "s", "setup.warm_s": "s", "setup.artifacts_s": "s",
    "trace.overhead": "share",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cached_dir(path, make):
    """Return path, first building it through a temporary sibling so an
    interrupted build never leaves a directory that looks complete."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        os.rename(tmp, path)
    return path


def spark_jars():
    """Classpath glob of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH that sits in a distribution with a jars directory
    (pip's pyspark installs a spark-submit without one)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars", "*")
    raise SystemExit("no Spark distribution found: set SPARK_HOME")


def build():
    sources = glob.glob(os.path.join(SCALA_SRC, "**", "*.scala"), recursive=True)
    harness = os.path.join(HERE, "Harness.scala")
    key = digest(sources + [harness])

    def compile_into(out):
        log(f"compiling {len(sources) + 1} Scala files")
        t = time.time()
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-d", out] + sources + [harness], check=True)
        log(f"compiled in {time.time() - t:.1f}s")

    return cached_dir(os.path.join(CACHE, f"classes-{key}"), compile_into)


def fixture():
    def generate(out):
        import fixture as fx
        fx.write(out)

    key = digest([os.path.join(HERE, "fixture.py")])
    return cached_dir(os.path.join(CACHE, f"fixture-{key}"), generate)


def make_plan(workload, seed, seconds, trace, fixture_dir, out_dir, cores):
    spec = plans.WORKLOADS[workload]
    p = {"workload": workload, "cores": cores, "fixture": os.path.abspath(fixture_dir),
         "trace": bool(trace), "seconds": float(seconds), "out": os.path.abspath(out_dir)}
    expected = None
    if spec["kind"] == "queries":
        p["check"] = spec["ops"]
        p["rounds"] = plans.rounds(spec["ops"], seed, 400)
    else:
        import pyarrow.parquet as pq
        docs = pq.read_table(os.path.join(fixture_dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        vec_ids = set(pq.read_table(os.path.join(fixture_dir, "embeddings.parquet"),
                                    columns=["vec_id"]).column(0).to_pylist())
        joined = [(d, t) for d, t in zip(docs["doc_id"], docs["text"]) if d in vec_ids]
        pool = plans.ingest_pool(joined)
        keep = [d for d, _ in joined if d < plans.MODEL_IDS]
        n = (len(pool) - spec["base"]) // spec["fresh"]
        p["ingest"], expected = plans.ingest_plan(pool, seed, spec, n, keep)
    return p, expected


def run_jvm(classes, plan_path, result_path, run_dir, deadline):
    opts = [f"-Xmx{JVM_MEM}", "-Xss16m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.abspath(os.path.join(run_dir, 'tmp'))}"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.path.abspath(classes) + os.pathsep + spark_jars()
    cmd = ["java"] + opts + ["-cp", cp, "graft.perfbench.Harness",
                             os.path.abspath(plan_path), os.path.abspath(result_path)]
    launch = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("harness JVM exceeded the run deadline")
    if rc != 0:
        raise SystemExit(f"harness JVM exited with {rc}")
    with open(result_path) as f:
        return json.load(f), launch


def _rank(n, q):
    """Nearest-rank position (1-based) of the q-quantile of n samples."""
    return max(1, math.ceil(round(q * n, 9)))


def percentile(values, q):
    """The nearest-rank q-quantile of values, or None when fewer than ten
    samples lie beyond it: a tail figure from fewer is noise."""
    n = len(values)
    if n == 0 or n - _rank(n, q) < 10:
        return None
    return sorted(values)[_rank(n, q) - 1]


def tail_quantile(n):
    """Highest of p50/p90/p99 the percentile rule allows for n samples."""
    allowed = [q for q in (0.5, 0.9, 0.99) if n - _rank(n, q) >= 10]
    return allowed[-1] if allowed else None


def end_to_end(res, launch, kind, phase="timed"):
    ops = [o for o in res["ops"] if o["phase"] == phase]
    if kind == "queries":
        lat = [o["lat_s"] for o in ops]
        walls = res[f"{phase}_round_wall_s"]
        work = len(ops)
    else:
        lat = [o["lat_s"] for o in ops if o["op"].startswith("batch")]
        by_round = {}
        for o in ops:
            by_round[o["round"]] = by_round.get(o["round"], 0.0) + o["lat_s"]
        walls = list(by_round.values())
        work = sum(o.get("docs", 0) for o in ops)
    setups = res["setup"]
    artifacts = statistics.median(s["artifacts_s"] for s in setups)
    return {
        "wall_s": statistics.mean(walls),
        "latency_p50_s": statistics.median(lat),
        "setup_s": (res["main_epoch_ms"] / 1e3 - launch) + setups[0]["session_s"]
                   + artifacts + res.get("check_s", 0.0),
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
    }, lat, work / sum(walls)


def per_layer(res, kind, cores, untraced_wall):
    """Every layer metric of the traced run, summed over its first traced
    round (one sweep, or one micro-batch and its settle): a fixed amount
    of work, so counts can be compared between runs of one seed. The
    ingest primitives come from their isolated pass after the timed phase,
    and the ingest state counts from the state after it."""
    traced = [o for o in res["ops"] if o["phase"] == "traced"]
    first = min(o["round"] for o in traced)
    ops = [o for o in traced if o["round"] == first]
    total = lambda k: float(sum(o.get(k, 0) for o in ops))
    m = {k: total(k) for k in (
        "queries.build_jobs", "plan.analysis_s", "plan.optimization_s",
        "plan.planning_s", "codegen.compiles", "codegen.compile_s", "sched.jobs",
        "sched.stages", "sched.tasks", "sched.job_wall_s", "exec.run_s", "exec.cpu_s",
        "exec.gc_s", "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
        "io.read_bytes", "io.records_read", "ingest.add_batch_s", "ingest.trigger_s")}
    m["queries.build_s"] = total("build_s")
    m["plan.s"] = m["plan.analysis_s"] + m["plan.optimization_s"] + m["plan.planning_s"]
    m["exec.busy_share"] = m["exec.run_s"] / (cores * sum(o["lat_s"] for o in ops))
    m["exec.peak_mem_bytes"] = max(float(o.get("exec.peak_mem_bytes", 0)) for o in ops)
    for flag in ("plans", "expressions"):
        lat = [o["lat_s"] for o in traced if flag in o.get("flags", [])]
        m[f"{flag}.op_s"] = statistics.median(lat) if lat else 0.0
    setups = res["setup"]
    m["setup.session_s"] = statistics.median(s["session_s"] for s in setups)
    m["setup.artifacts_s"] = statistics.median(s["artifacts_s"] for s in setups)
    m["setup.first_session_s"] = setups[0]["session_s"]
    m["setup.warm_s"] = res.get("check_s", 0.0)
    batches = [b for b in res.get("batches", []) if b["batch"] == first]
    m["ingest.accepted"] = float(sum(b["accepted"] for b in batches))
    m["ingest.rejected"] = float(sum(b["rejected"] for b in batches))
    offered = m["ingest.accepted"] + m["ingest.rejected"]
    m["ingest.accept_ratio"] = m["ingest.accepted"] / offered if offered else 0.0
    for prim in ("gate", "band_append", "annidx_append", "graph_append"):
        m[f"ingest.{prim}_s"] = sum(o["lat_s"] for o in res["ops"]
                                    if o["op"] == f"ingest.{prim}")
    final = res.get("final", {})
    m["ingest.corpus_rows"] = float(len(final.get("corpus_ids", [])))
    m["ingest.graph_edges"] = float(final.get("graph_edges", 0))
    m["ingest.annidx_files"] = float(final.get("annidx_files", 0))
    m["trace.overhead"] = end_to_end(res, 0, kind, "traced")[0]["wall_s"] / untraced_wall - 1
    return m


def check_ingest(res, ing, expected):
    """(op, error) for every batch whose gate verdicts differ from the plan,
    and for every artifact whose final state differs from the live set."""
    errors = []
    live = set(ing["base"])
    for b, done, exp in zip(ing["batches"], res["batches"], expected):
        if (done["accepted"], done["rejected"]) != (exp["accepted"], exp["rejected"]):
            errors.append((f"batch{done['batch']}", f"accepted/rejected {done['accepted']}/"
                           f"{done['rejected']}, expected {exp['accepted']}/{exp['rejected']}"))
        live = (live - set(b["del"])) | set(b["add"])
    final = res["final"]
    if set(final["corpus_ids"]) != live:
        errors.append(("state", f"corpus holds {len(final['corpus_ids'])} ids, "
                                f"expected {len(live)}"))
    for k in ("index_rows", "annidx_rows", "graph_src"):
        if final[k] != len(live):
            errors.append(("state", f"{k} = {final[k]}, expected {len(live)}"))
    if set(final["graph_ids"]) - live:
        errors.append(("state", "graph references ids outside the corpus"))
    return errors


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(plans.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(SCALA_SRC):
        raise SystemExit(f"no {SCALA_SRC} here: run from the repository root")

    spec = plans.WORKLOADS[args.workload]
    classes = build()
    fixture_dir = fixture()
    cores = os.cpu_count()
    run_dir = os.path.join(CACHE, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    plan, expected = make_plan(args.workload, args.seed, args.seconds, args.trace,
                               fixture_dir, os.path.join(run_dir, "out"), cores)
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    res, launch = run_jvm(classes, plan_path, os.path.join(run_dir, "result.json"),
                          run_dir, time.time() + DEADLINE_S)

    errors = [(o["op"], o["error"]) for o in res["ops"] if o["error"]]
    if spec["kind"] == "queries":
        errors += [(n, "no oracle SQL") for n in plan["check"] if n not in res["oracle"]]
        errors += check.compare(fixture_dir, plan["out"], res["oracle"],
                                os.path.join(CACHE, "oracle"))
    else:
        errors += check_ingest(res, plan["ingest"], expected)
    for op, e in errors:
        log(f"FAIL {op}: {e}")
    attempted = len(res["ops"])
    failed = min(len({op for op, _ in errors}), attempted)

    metrics, lat, rate = end_to_end(res, launch, spec["kind"])
    tail = tail_quantile(len(lat))
    log(f"{args.workload}: {len(lat)} timed ops, error_rate {failed / attempted:.4f}, "
        + (f"{rate:.3f} docs/s, " if spec["kind"] == "ingest" else f"{rate:.3f} queries/s, ")
        + (f"p{round(tail * 100)} {percentile(lat, tail):.4f}s" if tail else "no tail percentile"))
    out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    if args.trace:
        layers = per_layer(res, spec["kind"], cores, metrics["wall_s"])
        trace_dir = os.path.join(CACHE, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": layers,
                       "ops": res["ops"], "spans": res["spans"]}, f)
        log(f"trace written to {trace_path}")
        out = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
