#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine, one workload per run.

    python3 perfbench/run.py --workload curate --seed 7 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout builds the engine
and the driver (perfbench/build.sh) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run then:

1. generates the seed's inputs (perfbench/gen.py): a set for the warm-up
   and a main set; every pass reads its own copy of one of them;
2. runs the workload's steps in one JVM (graftbench.Driver) on local[4]:
   session start and two untimed warm-up passes (together `setup_s`), then
   at least three timed passes and until --seconds have passed (--trace 0),
   or a traced pass between two untraced ones (--trace 1);
3. checks every timed step's row count against the engine's own DuckDB
   oracle SQL run over the same input; a step that throws or miscounts is
   a failed operation;
4. measures and deletes what the engine left in its staging directory;
5. prints the run's artifact (box, JVM, per-step figures) as one JSON line,
   then the result line: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CPUS = 4
XMX = "3g"
# the JVM must end by then, leaving time to check rows and clean up
JVM_DEADLINE_S = 150
# Input scale of both sets: timed passes read the main set; warm-up passes
# read another variant of the seed's tables, of the same shape.
SCALE = dict(sf=0.01, n_docs=500, n_vecs=500)
WARMUP_PASSES = 2
# timed passes: the median of three is steady where one or two are not
MIN_PASSES = 3
MAX_PASSES = 8

WORKLOADS = {
    "curate": [
        "q_quality_distilled", "q_kmeans_fit", "q_s2_partitioned_sink",
        "q_stream_transform_state"],
    "dedup_search": [
        "q_dedup_simhash_pairs", "q_text_bm25", "q_source_overlap", "q_hybrid_rrf"],
}
ALL_STEPS = [q for steps in WORKLOADS.values() for q in steps]

PHASE_COUNTERS = {
    "construct": ["jobs", "stages", "single_task_stages", "task_s", "shuffle_write_mb"],
    "exec": ["jobs", "stages", "tasks", "single_task_stages", "task_s", "cpu_s",
             "shuffle_write_mb", "spill_mb", "peak_task_mem_mb", "gc_s",
             "failed_tasks"],
}
STREAMING = ["batches", "trigger_s", "add_batch_s", "wal_commit_s",
             "state_commit_s", "state_rows"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources(top, ext):
    return [os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs if f.endswith(ext)]


def build():
    """Class directories of the engine and the driver, rebuilt when any of
    their sources or the build script changed."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        fail("no src/main/scala: run from the root of a full checkout")
    out = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(out, "stamp")
    stamp = digest(sources(engine_src, ".scala") + sources(os.path.join(HERE, "src"), ".scala")
                   + [os.path.join(HERE, "build.sh")])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    os.makedirs(out, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def inputs(seed):
    """(main dir, [a copy of the warm-up set per warm-up pass], [a copy of
    the main set per timed pass]) for the seed."""
    base = os.path.join(BUILD, "data", f"seed{seed}")
    stamp = digest([os.path.join(HERE, "gen.py")]) + json.dumps(SCALE)
    stamp_file = os.path.join(base, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(base, ignore_errors=True)
        for variant, name in enumerate(["main", "warm"]):
            gen.write(os.path.join(base, name), seed, variant=variant, **SCALE)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    # fresh copies each run: engine memos and stage paths are keyed by the
    # input directory, so no pass may reuse a directory an earlier pass read
    runs = os.path.join(base, "runs")
    shutil.rmtree(runs, ignore_errors=True)

    def copies(name, n):
        dirs = [os.path.join(runs, f"{name}{k}") for k in range(n)]
        for d in dirs:
            os.makedirs(d)
            for t in TABLES:
                os.link(os.path.join(base, name, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        return dirs
    return os.path.join(base, "main"), copies("warm", WARMUP_PASSES), copies("main", MAX_PASSES)


def run_driver(classes, steps, warms, mains, seconds, trace, budget_s):
    work = os.path.join(BUILD, "jvm")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "driver.log")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=tmp)
    jars = os.path.join(env.get("SPARK_HOME") or fail("SPARK_HOME is not set"), "jars", "*")
    cmd = (["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([os.path.join(classes, "driver"),
                                      os.path.join(classes, "engine"), jars]),
              "graftbench.Driver", "--steps", ",".join(steps), "--warm", ",".join(warms),
              "--main", ",".join(mains), "--seconds", str(seconds),
              "--min-passes", str(MIN_PASSES),
              "--trace", str(trace), "--cpus", str(CPUS), "--out", out])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=lf,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"driver exceeded {budget_s:.0f} s; log in {log}")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"driver exited with {rc}")
    with open(out) as f:
        doc = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)
    return doc


def expected_rows(main_dir, oracle):
    """Row count of every step's oracle SQL over the main input, cached per
    input and SQL text."""
    key = hashlib.sha256(json.dumps(oracle, sort_keys=True).encode()).hexdigest()[:16]
    cache = os.path.join(os.path.dirname(main_dir), f"expected-{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads = {CPUS}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{main_dir}/{t}.parquet'")
    counts = {}
    for name, sql in oracle.items():
        counts[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    with open(cache, "w") as f:
        json.dump(counts, f)
    return counts


def du(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def clean_stage(stage_root, existed, pid, input_dirs):
    """Measure, then delete, what the run left under the engine's staging
    root: per-process stages (suffix _p<pid>) and stages keyed by one of the
    run's input directories. Staging directories the run created are removed
    too when that leaves them empty. Returns the bytes found."""
    tags = [re.sub(r"[^A-Za-z0-9._-]", "_", d.rstrip("/")) for d in input_dirs]
    left = 0
    for entry in glob.glob(os.path.join(stage_root, "*", "*")):
        name = os.path.basename(entry)
        if name.endswith(f"_p{pid}") or any(t in name for t in tags):
            left += du(entry)
            shutil.rmtree(entry, ignore_errors=True)
    ancestors = [stage_root]
    while os.path.dirname(ancestors[-1]) != ancestors[-1]:
        ancestors.append(os.path.dirname(ancestors[-1]))
    made = [d for d in glob.glob(os.path.join(stage_root, "*")) + ancestors if d not in existed]
    for d in sorted(made, key=len, reverse=True):
        try:
            os.rmdir(d)
        except OSError:
            pass
    return left


def metrics(doc, trace, stage_mb):
    passes = doc["passes"]
    if not trace:
        return {
            "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
            "setup_s": (doc["setup_s"], "s"),
            "peak_cache_mb": (statistics.median(p["peak_cache_mb"] for p in passes), "MB"),
        }
    traced = next(p for p in passes if p["traced"])
    plain = [p["wall_s"] for p in passes if not p["traced"]]
    t = doc["trace"]
    m = {}
    for phase, key in (("construct", "construct_s"), ("plan", "plan_s"), ("exec", "exec_s")):
        m[f"{phase}.s"] = (sum(s[key] for s in traced["steps"]), "s")
    for phase, names in PHASE_COUNTERS.items():
        for n in names:
            unit = "s" if n.endswith("_s") else "MB" if n.endswith("_mb") else "count"
            m[f"{phase}.{n}"] = (t.get(f"{phase}.{n}", 0.0), unit)
    m["exec.core_util"] = (t.get("exec.task_s", 0.0) / max(m["exec.s"][0] * CPUS, 1e-9), "ratio")
    m["sources.input_mb"] = (t.get("sources.input_mb", 0.0), "MB")
    m["sources.output_mb"] = (t.get("sources.output_mb", 0.0), "MB")
    m["sources.stage_mb_left"] = (stage_mb, "MB")
    for n in STREAMING:
        m[f"streaming.{n}"] = (t.get(f"streaming.{n}", 0.0), "s" if n.endswith("_s") else "count")
    steps = {s["name"]: s for s in traced["steps"]}
    for q in ALL_STEPS:
        s = steps.get(q)
        m[f"step.{q}.s"] = (s["construct_s"] + s["plan_s"] + s["exec_s"] if s else 0.0, "s")
        m[f"step.{q}.jobs"] = (t.get(f"step.{q}.jobs", 0.0) if s else 0.0, "count")
    m["trace.overhead_s"] = (traced["wall_s"] - statistics.mean(plain), "s")
    return m


def box():
    mem = next((l.split()[1] for l in open("/proc/meminfo") if l.startswith("MemTotal:")), "0")
    return {"nproc": os.cpu_count(), "mem_total_kb": int(mem)}


def main():
    ap = argparse.ArgumentParser(description="graft end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()

    classes = build()
    t_build = time.monotonic()
    steps = WORKLOADS[a.workload]
    main_dir, warms, mains = inputs(a.seed)
    doc = run_driver(classes, steps, warms, mains, a.seconds, a.trace,
                     JVM_DEADLINE_S - (time.monotonic() - t_build))
    stage_mb = clean_stage(doc["stage_root"], set(doc["stage_existed"]),
                           doc["env"]["pid"], warms + mains) / 1e6

    t_oracle = time.monotonic()
    expected = expected_rows(main_dir, doc["oracle"])
    oracle_s = time.monotonic() - t_oracle
    attempted = failed = 0
    checks = []
    for p in doc["passes"]:
        for s in p["steps"]:
            attempted += 1
            want = expected.get(s["name"])
            ok = s["error"] is None and want is not None and s["rows"] == want
            failed += not ok
            if not ok:
                checks.append({"pass": p["dir"], "step": s["name"], "rows": s["rows"],
                               "expected": want, "error": s["error"]})
    shutil.rmtree(os.path.dirname(mains[0]), ignore_errors=True)

    m = metrics(doc, a.trace, stage_mb)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "box": box(), "jvm": {**doc["env"], "xmx": XMX, "SPARK_GRAFT_CPUS": CPUS},
        "inputs": SCALE, "session_s": doc["session_s"],
        "warmup": doc["warmup"], "passes": doc["passes"], "expected_rows": expected,
        "failures": checks, "oracle_s": oracle_s, "run_s": time.monotonic() - t0,
    }
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"artifact": artifact}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
