#!/usr/bin/env python3
"""The repo benchmark: one command, two workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload dump_note --seed 7 --seconds 20 --trace 0

Run it from the root of a checkout. It builds the engine (``src/main/scala``)
and the harness (``perfbench/src``) with the Scala compiler that ships in the
Spark jars, generates the workload's inputs from ``--seed`` (cached under
``.bench_build/inputs``), runs the JVM harness, checks the outputs, and prints
a report line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see README.md). The exit code is 0 only when every output
check passed.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dump_note", "curate_corpus")
SIZES = {"dump_note": 20000, "curate_corpus": 10000}
# set-ups per run (setup_s is their median, the cold first one included):
# a dump set-up costs about 1 s, a curation one about 8 s, and the run must
# fit the time budget
SETUPS = {"dump_note": 5, "curate_corpus": 3}
# a fixed-size heap (-Xms = -Xmx), so how the heap grows does not differ
# from one run to the next
HEAP = "3g"
RUN_LIMIT_S = 170.0
KEEP_INPUTS = 3
# no hsperfdata file: the JVM would write it to the system temp directory,
# outside the checkout
JVM_FLAGS = ["-XX:-UsePerfData"]
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar",
    )
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's
    unmanagedBase (where the sbt build takes its jars from)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("cannot locate the Spark jars: set SPARK_HOME")
    return m.group(1)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(files, out, classpath, jars):
    if os.path.exists(os.path.join(out, ".ok")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    t0 = time.time()
    r = subprocess.run(
        ["java", *JVM_FLAGS, "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile failed: {out}")
    os.remove(argfile)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".ok"), "w").close()
    log(f"compiled {len(files)} files in {time.time() - t0:.1f} s -> {os.path.relpath(out, ROOT)}")


def build():
    """Compile engine and harness, each cached by a digest of its sources;
    returns the harness classpath."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("no engine sources under src/main/scala: run from the root of a checkout")
    jars = spark_jars()
    engine_dir = os.path.join(BUILD, "engine-" + digest(engine))
    harness_dir = os.path.join(BUILD, "harness-" + digest(engine + harness))
    os.makedirs(BUILD, exist_ok=True)
    scalac(engine, engine_dir, os.path.join(jars, "*"), jars)
    scalac(harness, harness_dir, os.pathsep.join([engine_dir, os.path.join(jars, "*")]), jars)
    for d in glob.glob(os.path.join(BUILD, "engine-*")) + glob.glob(os.path.join(BUILD, "harness-*")):
        if d not in (engine_dir, harness_dir):
            shutil.rmtree(d, ignore_errors=True)
    return os.pathsep.join([harness_dir, engine_dir, os.path.join(jars, "*")])


# ---------------------------------------------------------------- inputs


def inputs(workload, seed):
    """The workload's generated inputs, cached per (workload, seed, size);
    only the most recently used few are kept."""
    root = os.path.join(BUILD, "inputs")
    d = os.path.join(root, f"{workload}-{seed}-{SIZES[workload]}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        writer = gen.write_notes if workload == "dump_note" else gen.write_corpus
        manifest = writer(seed, SIZES[workload], tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, d)
    os.utime(d)
    mine = sorted(glob.glob(os.path.join(root, workload + "-*")), key=os.path.getmtime, reverse=True)
    for old in mine[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    return d


# ------------------------------------------------------------------- run


def run_harness(classpath, workload, seed, seconds, trace, inp, deadline):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "record.json")
    cpus = os.cpu_count() or 1
    cmd = ["java", *JVM_FLAGS, *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Harness", "--workload", workload, "--inputs", inp,
           "--work", work, "--out", out, "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--cpus", str(cpus), "--setups", str(SETUPS[workload]), "--seed", str(seed)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "harness.log"), "w") as logf:
        try:
            r = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=work,
                               timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness exceeded the run limit; see {os.path.relpath(work, ROOT)}/harness.log")
    if not os.path.exists(out):
        raise SystemExit(f"harness exited {r.returncode} without a record; see {work}/harness.log")
    with open(out) as f:
        rec = json.load(f)
    rec["work"] = work
    return rec


# --------------------------------------------------------------- metrics


END_TO_END_UNITS = {"work_per_s": "1/s", "op_p50_s": "s", "setup_s": "s"}
ENGINE_OPS = {"dump": "dump", "hygienic": "hygienic", "attrition": "attrition", "gate": "gates"}
ENGINE_FIELDS = (
    "jobs", "stages", "tasks", "single_task_stages", "no_job_s", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
FUNNEL = ("gopher", "quality", "repetition", "decontamination", "exact_dedup", "near_dedup", "mix")
STAGE_PROBES = {
    "functions.TextFunctions.scrub_quality_s": "functions.TextFunctions.scrub_quality",
    "operators.Heuristics.gopher_s": "operators.Heuristics.filterGopher",
    "operators.Repetition.filter_s": "operators.Repetition.filterRepetitive",
    "operators.Decontaminate.clean_s": "operators.Decontaminate.clean",
    "operators.Dedup.exact_s": "operators.Dedup.exact",
    "operators.Dedup.near_s": "operators.Dedup.dedupNearBest",
    "operators.SequencePack.pack_s": "operators.SequencePack.pack",
}
SELF_LAYERS = ("operators.OmopDump", "operators.Pipeline", "sources.ShardedParquetSink", "harness")
LOOP_OPS = ("dump", "hygienic")


def units(rec, traced):
    """Per-iteration (wall, items) of the timed loop: an iteration is one
    dump, or one hygienic selection with its write and read-back. Ops outside
    the loop (the audit and layer probes) have a negative iteration."""
    it = {}
    for o in rec["ops"]:
        if o["traced"] == traced and o["iter"] >= 0:
            w, n = it.get(o["iter"], (0.0, 0))
            it[o["iter"]] = (w + o["wall_s"], n + o["items"])
    return [it[k] for k in sorted(it)]


def job_fields(op):
    """The engine counters of one traced op, summed over its jobs."""
    jobs = op["jobs"]
    iv = [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs]
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "single_task_stages": sum(j["single_task_stages"] for j in jobs),
        # the op's wall interval in seconds, anchored at its epoch-ms start
        "no_job_s": stats.no_job_s(op["t0_ms"] / 1e3, op["t0_ms"] / 1e3 + op["wall_s"], iv),
        "executor_run_s": sum(j["executor_run_ms"] for j in jobs) / 1e3,
        "executor_cpu_s": sum(j["executor_cpu_ns"] for j in jobs) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
    }


def end_to_end(rec):
    u = units(rec, traced=False)
    walls = [w for w, _ in u]
    return {
        "work_per_s": sum(n for _, n in u) / sum(walls) if walls else 0.0,
        "op_p50_s": stats.median(walls),
        "setup_s": stats.median(rec["series"].get("setup_s", [])),
    }


def per_layer(rec):
    """Every per-layer metric; a layer the workload does not call reads 0."""
    s, v = rec["series"], rec["values"]
    med = lambda name: stats.median(s.get(name, []))  # noqa: E731
    traced = [o for o in rec["ops"] if o["traced"] and o["ok"]]
    by = lambda name: [o for o in traced if o["name"] == name]  # noqa: E731
    m = {"GraftSession.start_s": med("GraftSession.start_s"), "jvm.peak_heap_mb": v.get("jvm.peak_heap_mb", 0.0)}
    # sources.JdbcSource, sources.ShardedParquetSink, operators.OmopDump
    m["sources.JdbcSource.count_s"] = med("sources.JdbcSource.countAtSource")
    m["sources.JdbcSource.fetch_s"] = med("sources.JdbcSource.readTable")
    m["sources.JdbcSource.scan_tasks"] = v.get("sources.JdbcSource.scan_tasks", 0)
    m["sources.JdbcSource.fetch_task_max_over_median"] = stats.median(
        max(t) / stats.median(t) for t in v.get("sources.JdbcSource.fetch_task_ms", []) if t)
    m["sources.ShardedParquetSink.write_s"] = med("sources.ShardedParquetSink.write")
    m["sources.ShardedParquetSink.commit_s"] = med("sources.ShardedParquetSink.commit_s")
    m["sources.ShardedParquetSink.readback_s"] = med("sources.ShardedParquetSink.readBackReport")
    m["sources.ShardedParquetSink.files"] = v.get("sources.ShardedParquetSink.files", 0)
    src_bytes = v.get("source_bytes", 0)
    m["sources.ShardedParquetSink.bytes_per_source_byte"] = (
        v.get("sources.ShardedParquetSink.out_bytes", 0) / src_bytes if src_bytes else 0.0)
    run_s = stats.median(o["wall_s"] for o in by("dump"))
    m["operators.OmopDump.run_s"] = run_s
    parts = [med(k) for k in ("sources.JdbcSource.countAtSource", "sources.ShardedParquetSink.write[jdbc]",
                              "sources.ShardedParquetSink.readBackReport")]
    m["operators.OmopDump.residual_s"] = run_s - sum(parts) if run_s else 0.0
    # operators.Pipeline and the stage operators it composes
    m["operators.Pipeline.hygienic_s"] = stats.median(o["wall_s"] for o in by("hygienic"))
    m["operators.Pipeline.attrition_s"] = stats.median(o["wall_s"] for o in by("attrition"))
    for metric, probe in STAGE_PROBES.items():
        m[metric] = med(probe)
    funnel = {f["stage"]: f for f in v.get("curate.funnel", [])}
    for stage in FUNNEL:
        f = funnel.get(stage)
        m[f"operators.Pipeline.keep.{stage}"] = f["n_out"] / f["n_in"] if f and f["n_in"] else 0.0
    m["operators.Dedup.near_pairs"] = v.get("operators.Dedup.near_pairs", 0)
    # SparkEntry: the pipeline gates split into build, plan and execution
    gates = by("gate")
    fields = [job_fields(o) for o in gates]
    m["SparkEntry.build_s"] = stats.median(o.get("build_s", 0.0) for o in gates)
    m["SparkEntry.plan_s"] = stats.median(o.get("plan_s", 0.0) for o in gates)
    m["SparkEntry.exec_s"] = stats.median(o.get("exec_s", 0.0) for o in gates)
    m["SparkEntry.jobs_per_query"] = sum(f["jobs"] for f in fields) / len(fields) if fields else 0.0
    n_stages = sum(f["stages"] for f in fields)
    m["SparkEntry.single_task_stage_share"] = (
        sum(f["single_task_stages"] for f in fields) / n_stages if n_stages else 0.0)
    gate_wall = sum(o["wall_s"] for o in gates)
    m["SparkEntry.no_job_share"] = sum(f["no_job_s"] for f in fields) / gate_wall if gate_wall else 0.0
    # engine: Spark counters per timed op, median over its traced calls
    for op, label in ENGINE_OPS.items():
        per = [job_fields(o) for o in by(op)]
        for field in ENGINE_FIELDS:
            m[f"engine.{label}.{field}"] = stats.median(f[field] for f in per) if per else 0
    # span self time per layer, per traced iteration
    spans = [{"id": x["id"], "parent": x["parent"], "name": stats.layer_of(x["name"]) if x["parent"] else "harness",
              "start": x["start_ns"] / 1e9, "end": x["end_ns"] / 1e9} for x in rec.get("spans", [])]
    loop_ids = _loop_span_ids(rec.get("spans", []))
    own = stats.self_times([x for x in spans if x["id"] in loop_ids])
    n_iter = len({o["iter"] for o in traced if o["name"] in LOOP_OPS and o["iter"] >= 0}) or 1
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = own.get(layer, 0.0) / n_iter
    # tracing overhead: traced minus untraced median iteration
    tw, uw = [w for w, _ in units(rec, True)], [w for w, _ in units(rec, False)]
    m["harness.trace_overhead_s"] = stats.median(tw) - stats.median(uw) if tw and uw else 0.0
    return m


def _loop_span_ids(spans):
    """Ids of the spans under a timed-loop op (roots named like a loop op;
    only loop iterations are traced, so these are all from iterations >= 0)."""
    roots = {x["id"] for x in spans if x["parent"] == 0 and x["name"] in LOOP_OPS}
    ids, changed = set(roots), True
    while changed:
        changed = False
        for x in spans:
            if x["parent"] in ids and x["id"] not in ids:
                ids.add(x["id"])
                changed = True
    return ids


def report(rec, workload, e2e, fail_ratio):
    """The workload's own end-to-end metrics, by name and unit with sample
    counts (printed before the result line)."""
    ops = [o for o in rec["ops"] if not o["traced"] and o["ok"] and o["iter"] >= 0]
    p, tail, n = stats.tail_percentile([w for w, _ in units(rec, traced=False)])
    r = {
        "op_tail_s": {"value": tail, "unit": "s", "n": n, "percentile": p},
        "setup_s": {"value": e2e["setup_s"], "unit": "s", "n": len(rec["series"].get("setup_s", []))},
        "peak_heap_mb": {"value": rec["values"].get("jvm.peak_heap_mb", 0.0), "unit": "MiB", "n": 1},
        "fail_ratio": {"value": fail_ratio, "unit": "failed/attempted", "n": 1},
    }
    if workload == "dump_note":
        d = [o for o in ops if o["name"] == "dump"]
        r["dump_rows_per_s"] = {"value": stats.median(o["items"] / o["wall_s"] for o in d), "unit": "rows/s", "n": len(d)}
        r["dump_mb_per_s"] = {"value": stats.median(o["bytes"] / o["wall_s"] / 1e6 for o in d), "unit": "MB/s", "n": len(d)}
    elif workload == "curate_corpus":
        h = [o["wall_s"] for o in ops if o["name"] == "hygienic"]
        a = [o["wall_s"] for o in rec["ops"] if o["name"] == "audit" and o["ok"]]
        docs = max((o["items"] for o in ops if o["name"] == "hygienic"), default=0)
        r["curate_docs_per_s"] = {"value": docs / stats.median(h) if h else 0.0, "unit": "docs/s", "n": len(h)}
        r["audit_docs_per_s"] = {"value": docs / stats.median(a) if a else 0.0, "unit": "docs/s", "n": len(a)}
    return r


def main(argv=None):
    ap = argparse.ArgumentParser(description="repo benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.time() + RUN_LIMIT_S
    classpath = build()
    inp = inputs(a.workload, a.seed)
    rec = run_harness(classpath, a.workload, a.seed, a.seconds, bool(a.trace), inp, deadline)
    ops_failed = sum(not o["ok"] for o in rec["ops"])
    checks_failed = sum(not c["ok"] for c in rec["checks"])
    attempted = len(rec["ops"]) + len(rec["checks"])
    failed = ops_failed + checks_failed
    correct = failed == 0 and len(rec["ops"]) > 0
    for c in rec["checks"]:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    for o in rec["ops"]:
        if not o["ok"]:
            log(f"op failed: {o['name']}#{o['iter']}: {o['err']}")
    e2e = end_to_end(rec)
    if a.trace:
        layer = per_layer(rec)
        with open(os.path.join(rec["work"], "trace.json"), "w") as f:
            json.dump({"spans": rec.get("spans", []), "metrics": layer}, f)
        metrics = {k: {"value": x, "unit": _unit(k)} for k, x in layer.items()}
    else:
        metrics = {k: {"value": x, "unit": END_TO_END_UNITS[k]} for k, x in e2e.items()}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "cpus": rec["values"].get("cpus"),
        "report": report(rec, a.workload, e2e, failed / attempted if attempted else 1.0),
    }))
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share") or ".keep." in name or name.endswith("_over_median") or name.endswith("per_source_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
