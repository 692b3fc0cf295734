#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload, tiny, both modes
    python3 perfbench/test_stats.py           # self-tests of the arithmetic

Run from the repository root. The first run compiles graft's sources with
the benchmark's Scala code (perfbench/build.sbt, sbt offline) into perfbench/target;
fixtures are generated per (seed, size) into .bench_build/perfbench and
reused. With --trace 0 the last line carries the end-to-end metrics, with
--trace 1 the per-layer metrics of a separate traced run; the full report,
with provenance, and the span file are written under
.bench_build/perfbench/results. See perfbench/README.md.
"""

import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import stats
import vectors

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("batch_pipeline", "vector_ann")
# Fresh JVMs per untraced run. Each one sets up, runs the first operation
# cold and then steady operations for its share of --seconds; the
# end-to-end metrics are medians over them, so one JVM's luck with JIT
# timing and host load does not decide a run.
FORKS = {"batch_pipeline": 1, "vector_ann": 2}
RUN_LIMIT_S = 170  # one run, build excluded

# (name, unit) of every metric, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s"), ("first_run_s", "s"), ("run_s", "s"),
    ("rows_per_s", "rows/s"), ("out_rows_per_s", "rows/s"),
    ("pass_frac", "ratio"), ("peak_mem_mb", "MB"),
]
VECTOR_QUERIES = [("similarity", "q25"), ("dedup", "q27"), ("embeds", "q49")]
PIPELINE_SPANS = ["sources.scan", "sources.write", "mentions.detect",
                  "mentions.stabilize", "canonical.triples", "vocab.induce",
                  "index.postings", "index.candidates", "score.score",
                  "align.nbest", "extend.extend", "repair.repair"]
PIPELINE_COUNTS = [("mentions.rows", "count"), ("mentions.dup_frac", "ratio"),
                   ("canonical.triples", "count"), ("index.candidate_pairs", "count"),
                   ("score.label_pairs", "count"), ("score.string_match_frac", "ratio"),
                   ("align.raw_mappings", "count"), ("align.kept_frac", "ratio"),
                   ("extend.rounds", "count"), ("extend.added", "count"),
                   ("repair.dropped", "count"), ("eval.mapping_f1", "ratio"),
                   ("eval.precision", "ratio"), ("eval.recall", "ratio")]
PER_LAYER = (
    [(f"{s}_s", "s") for s in PIPELINE_SPANS] + PIPELINE_COUNTS +
    [("plans.jobs", "count"), ("plans.stages", "count"), ("plans.tasks", "count"),
     ("plans.exec_cpu_s", "s"), ("plans.gc_s", "s"), ("plans.shuffle_mb", "MB"),
     ("plans.idle_frac", "ratio"),
     ("streaming.first_chunk_s", "s"), ("streaming.latency_p50_s", "s"),
     ("streaming.latency_p90_s", "s"), ("streaming.trigger_s", "s"),
     ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
     ("streaming.generator_late_s", "s")] +
    [(f"{m}.{q}_s", "s") for m, q in VECTOR_QUERIES] +
    [(f"{m}.{q}_stages", "count") for m, q in VECTOR_QUERIES] +
    [("memory.rss_hwm_mb", "MB"), ("memory.heap_live_mb", "MB"),
     ("memory.heap_retained_mb", "MB"),
     ("memory.spark_offheap_mb", "MB"), ("memory.nonheap_mb", "MB")] +
    [("trace.overhead_frac", "ratio"), ("trace.uncovered_frac", "ratio")])

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- host ----------------------------------------------------------------

def cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """JVM heap: an eighth of physical memory, between 1 and 2 GiB (a run's
    live data stays well under 1 GiB)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(2048, kb // 1024 // 8))


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def source_digest():
    """sha1 over the sources the build compiles (the checkout may not be a
    git repository, so this identifies the code measured)."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# --- build -----------------------------------------------------------------

def ensure_built(digest):
    """Compile graft + the benchmark's Scala code with sbt when the sources changed; return
    the runtime classpath."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true -Xmx2g"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log("building (sbt compile)")
    t0 = time.time()
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, capture_output=True, text=True,
                         timeout=850, stdin=subprocess.DEVNULL)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise BenchError("sbt build failed")
    cp = [l for l in out.stdout.splitlines()
          if not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    if not cp:
        raise BenchError("sbt printed no classpath")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def java_cmd(classpath, work, n_cores, args, measuring=True):
    # A fixed heap size for the measuring JVM, so the collector does not
    # resize it differently from run to run; pages are not pre-touched.
    heap = heap_mb()
    mem = [f"-Xms{heap}m", f"-Xmx{heap}m"] if measuring else ["-Xmx1g"]
    return (["java", *JDK_OPENS, *mem,
             f"-XX:ParallelGCThreads={n_cores}",
             f"-XX:ConcGCThreads={max(1, n_cores // 4)}",
             f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main"]
            + args)


def java_env(work, n_cores):
    """The environment graft.Bench.session reads: shuffle scratch inside the
    work directory (SPARK_LOCAL_DIRS overrides the session's
    spark.local.dir) and shuffle width 2 x cores; graft's optional
    switches unset, so the shipped configuration is measured."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_SHUF"] = str(2 * n_cores)
    return env


def run_java(cmd, work, log_path, deadline, n_cores):
    """Run one JVM in its own process group; kill the group at the deadline."""
    with open(log_path, "a") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=java_env(work, n_cores),
                                stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"JVM timed out (log: {log_path})")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if rc != 0:
        raise BenchError(f"JVM exited with {rc} (log: {log_path})")


# --- fixtures ----------------------------------------------------------------

def fixture(workload, seed, size, classpath, n_cores, deadline):
    """On-disk inputs for (workload family, seed, size), generated once."""
    family = "vectors" if workload == "vector_ann" else "pipeline"
    shape = size if family == "pipeline" else "x".join(map(str, vectors.SIZES[size]))
    path = os.path.join(BUILD, "fixtures", f"{family}-{shape}-s{seed}")
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"generating {family} fixture for seed {seed}")
    if family == "vectors":
        vectors.write(tmp, seed, size)
    else:
        work = os.path.join(BUILD, "work", "gen")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        run_java(java_cmd(classpath, work, n_cores,
                          ["gen", f"seed={seed}", f"size={size}",
                           f"fixture={tmp}", f"work={work}", f"cores={n_cores}"],
                          measuring=False),
                 work, os.path.join(work, "jvm.log"), deadline, n_cores)
        shutil.rmtree(work, ignore_errors=True)
    os.rename(tmp, path)
    return path


# --- metrics ---------------------------------------------------------------

def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def stream_summary(st):
    """Latencies of the timed chunks of the stream phase, the cold first
    chunk, trigger durations after it and how late the generator ran."""
    chunks, progress = st["chunks"], st["progress"]
    timed = [c for c in chunks if c["idx"] >= 1]
    lat = stats.chunk_latencies(timed, progress)
    first = stats.chunk_latencies(chunks[:1], progress)
    first_batch = min((p["batch_id"] for p in progress
                       if p["end_offset"] >= chunks[0]["offset"]), default=-1)
    return {
        "latencies": [l for l in lat if l is not None],
        "missing": sum(l is None for l in lat) + (first[0] is None),
        "first_chunk_s": first[0],  # chunk 0 is due when the query starts
        "trigger_s": [p["trigger_ms"] / 1e3 for p in progress
                      if p["batch_id"] > first_batch and p["input_rows"] > 0],
        "late_s": [(c["sent_ms"] - c["due_ms"]) / 1e3 for c in timed],
    }


def outcome(res):
    """(attempted, failed, failure names) of one JVM: every operation and
    every whole-run check counts once; stream chunks never committed count
    as failed operations."""
    names = [c["name"] for c in res["checks"] if not c["ok"]]
    bad_ops = [o for o in res["ops"] if not o["ok"]]
    names += [f"op_{o['kind']}:{o.get('error') or 'digest ' + o['digest']}" for o in bad_ops]
    attempted = len(res["ops"]) + len(res["checks"])
    failed = len(names)
    if res.get("stream"):
        missing = stream_summary(res["stream"])["missing"]
        attempted += len(res["stream"]["chunks"])
        failed += missing
        if missing:
            names.append(f"stream_chunks_not_committed:{missing}")
    return attempted, failed, names


def outcome_all(raws):
    """outcome() summed over a run's JVMs, plus one check that every JVM's
    first operation produced the same digest."""
    attempted, failed, names = 0, 0, []
    for i, raw in enumerate(raws):
        a, f, n = outcome(raw["result"])
        attempted, failed = attempted + a, failed + f
        names += [f"fork{i}:{x}" for x in n] if len(raws) > 1 else n
    if len(raws) > 1:
        firsts = [o["digest"] for raw in raws for o in raw["result"]["ops"]
                  if o["kind"] == "first"]
        attempted += 1
        if len(set(firsts)) != 1 or len(firsts) != len(raws):
            failed += 1
            names.append("fork_first_digests_differ:" + ",".join(firsts))
    return attempted, failed, names


def memory_summary(raw):
    """Memory metrics from the JVM's samples: each part at its own peak,
    `VmHWM`, and peak_mem_mb = the largest sample of (live heap at the
    latest settle + Spark off-heap pages + direct buffers) plus the
    non-heap pools' peak."""
    mem = raw["memory"]
    total = [h + o + d for h, o, d in zip(mem["heap_live_mb"],
                                          mem["spark_offheap_mb"], mem["direct_mb"])]
    return {"peak_mem_mb": max(total) + mem["nonheap_peak_mb"],
            "rss_hwm_mb": raw["rss_hwm_mb"],
            "heap_live_mb": max(mem["heap_live_mb"]),
            "heap_retained_mb": max(mem["heap_retained_mb"]),
            "spark_offheap_mb": max(mem["spark_offheap_mb"]),
            "nonheap_mb": mem["nonheap_peak_mb"]}


def end_to_end(raws, attempted, failed):
    """End-to-end metrics of a run's JVMs: set-up, first operation and
    memory peak as the median over the JVMs (one sample each), steady
    operations pooled over all of them."""
    ops = [o for raw in raws for o in raw["result"]["ops"]]
    firsts = [o["wall_s"] for o in ops if o["kind"] == "first"]
    steady = [o for o in ops if o["kind"] == "steady" and o["ok"]]
    run_s, n = stats.percentile([o["wall_s"] for o in steady], 50)
    setups = [raw["setup_s"] for raw in raws]
    m = {"setup_s": stats.median(setups),
         "first_run_s": stats.median(firsts),
         "run_s": run_s,
         "rows_per_s": stats.median([o["rows_in"] / o["wall_s"] for o in steady]),
         "out_rows_per_s": stats.median([o["rows_out"] / o["wall_s"] for o in steady]),
         "pass_frac": 1.0 - failed / attempted,
         "peak_mem_mb": stats.median([memory_summary(r)["peak_mem_mb"] for r in raws])}
    return m, {"jvms": len(raws), "run_s_samples": n, "setups_s": setups,
               "first_walls_s": firsts, "steady_walls_s": [o["wall_s"] for o in steady]}


def plans(stages, jobs, wall_ms, n_cores):
    """Executor totals of a set of stages and jobs over `wall_ms`."""
    return {
        "jobs": len(jobs), "stages": len(stages), "tasks": sum(s["tasks"] for s in stages),
        "exec_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "shuffle_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        "idle_frac": stats.idle_frac(sum(s["run_ms"] for s in stages), wall_ms, n_cores),
    }


def by_innermost(records, key, spans):
    """Map span id -> records whose time `key` falls innermost in that span."""
    out = {s["id"]: [] for s in spans}
    for r in records:
        s = stats.innermost_span(r[key], spans)
        if s is not None:
            out[s["id"]].append(r)
    return out


def per_layer(raw, spans, records, n_cores):
    """Per-layer metrics of a traced run (0 where the workload has no such
    layer) and a per-span table for the report."""
    res = raw["result"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    for k, v in res.get("counts", {}).items():
        if k in m:
            m[k] = float(v)
    for k, v in memory_summary(raw).items():
        if f"memory.{k}" in m:
            m[f"memory.{k}"] = float(v)
    stages = [r for r in records if r["kind"] == "stage"]
    jobs = [r for r in records if r["kind"] == "job"]
    selfs = stats.self_times(spans)
    own_stages = by_innermost(stages, "submit_ms", spans)
    own_jobs = by_innermost(jobs, "start_ms", spans)
    table = []
    for s in spans:
        wall = s["end_ms"] - s["start_ms"]
        row = {"id": s["id"], "parent": s["parent"], "name": s["name"],
               "wall_s": wall / 1e3, "self_s": selfs[s["id"]] / 1e3}
        row.update(plans(own_stages[s["id"]], own_jobs[s["id"]], selfs[s["id"]], n_cores))
        table.append(row)
        if f"{s['name']}_s" in m:
            m[f"{s['name']}_s"] += row["self_s"]
        if f"{s['name']}_stages" in m:
            m[f"{s['name']}_stages"] += row["stages"]
    ops = [s for s in spans if s["name"] == "op"]
    if ops:
        op = ops[-1]
        inside = lambda t: op["start_ms"] <= t <= op["end_ms"]
        totals = plans([s for s in stages if inside(s["submit_ms"])],
                       [j for j in jobs if inside(j["start_ms"])],
                       op["end_ms"] - op["start_ms"], n_cores)
        for k, v in totals.items():
            m[f"plans.{k}"] = float(v)
        m["trace.uncovered_frac"] = stats.uncovered_frac(op, spans)
    if res.get("stream"):
        st = stream_summary(res["stream"])
        lat = st["latencies"]
        m["streaming.first_chunk_s"] = st["first_chunk_s"] or 0.0
        m["streaming.latency_p50_s"] = stats.percentile(lat, 50)[0] if lat else 0.0
        m["streaming.latency_p90_s"] = stats.percentile(lat, 90)[0] if lat else 0.0
        if st["trigger_s"]:
            m["streaming.trigger_s"] = stats.median(st["trigger_s"])
        m["streaming.generator_late_s"] = max(st["late_s"] or [0.0])
        last = max(res["stream"]["progress"], key=lambda p: p["batch_id"], default=None)
        if last is not None:
            m["streaming.state_rows"] = float(last["state_rows"])
            m["streaming.state_mb"] = last["state_bytes"] / 1e6
    walls = {o["kind"]: o["wall_s"] for o in res["ops"]}
    if "traced" in walls and "warm" in walls:
        m["trace.overhead_frac"] = walls["traced"] / walls["warm"] - 1.0
    return m, table


# --- one run -------------------------------------------------------------------

def run_once(workload, seed, seconds, trace, size="full"):
    """Build if needed, make the fixture, measure in fresh JVMs; return
    (result line, full report)."""
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError(f"graft sources not found under {ROOT}/src: run from a checkout")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    digest = source_digest()
    classpath = ensure_built(digest)
    deadline = time.time() + RUN_LIMIT_S
    n_cores = cores()
    fx = fixture(workload, seed, size, classpath, n_cores, deadline)

    work = os.path.join(BUILD, "work", workload)
    tag = f"{workload}-{size}-s{seed}-t{trace}"
    res_dir = os.path.join(BUILD, "results")
    spans_path = os.path.join(res_dir, f"{tag}.spans.jsonl")
    stages_path = os.path.join(res_dir, f"{tag}.stages.jsonl")
    log_path = os.path.join(res_dir, f"{tag}.jvm.log")
    for p in (spans_path, stages_path, log_path):
        if os.path.exists(p):
            os.remove(p)
    forks = 1 if trace else FORKS[workload]
    raws = []
    for i in range(forks):
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(res_dir, f"{tag}.raw{i}.json")
        if os.path.exists(out):
            os.remove(out)
        run_java(java_cmd(classpath, work, n_cores,
                          ["run", f"workload={workload}", f"seed={seed}", f"size={size}",
                           f"seconds={seconds / forks}", f"trace={trace}", f"fixture={fx}",
                           f"work={work}", f"cores={n_cores}",
                           f"out={out}", f"spans={spans_path}", f"stages={stages_path}"]),
                 work, log_path, deadline, n_cores)
        with open(out) as f:
            raws.append(json.load(f))
    shutil.rmtree(work, ignore_errors=True)

    raw = raws[0]
    res = raw["result"]
    attempted, failed, failures = outcome_all(raws)
    if trace:
        spans = read_jsonl(spans_path)
        metrics, table = per_layer(raw, spans, read_jsonl(stages_path), n_cores)
        units = dict(PER_LAYER)
        detail = {"spans": table}
    else:
        metrics, detail = end_to_end(raws, attempted, failed)
        units = dict(END_TO_END)
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        failures.append("non_finite:" + ",".join(bad))
        failed += 1
        metrics = {k: (v if math.isfinite(v) else 0.0) for k, v in metrics.items()}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    if "query_walls_s" in res:
        detail["query_walls_s"] = [r["result"]["query_walls_s"] for r in raws]
    report = {
        "line": line, "failures": failures, "detail": detail,
        "checks": [c for r in raws for c in r["result"]["checks"]],
        "counts": res.get("counts", {}),
        "memory": [memory_summary(r) for r in raws],
        "ops": [dict(o, jvm=i) for i, r in enumerate(raws) for o in r["result"]["ops"]],
        "provenance": {
            "workload": workload, "seed": seed, "size": size, "seconds": seconds,
            "trace": trace, "jvms": forks, "nproc": n_cores, "heap_max_mb": raw["heap_max_mb"],
            "spark_conf": raw["spark_conf"], "git_commit": git_commit(),
            "source_sha1": digest,
            "session_env": {k: v for k, v in java_env(work, n_cores).items()
                            if k.startswith("SPARK_")},
            "fixture": res.get("fixture"), "spans_file": spans_path if trace else None,
            "wall_s": time.time() - t_start,
        },
    }
    with open(os.path.join(res_dir, f"{tag}.report.json"), "w") as f:
        json.dump(report, f, indent=1)
    for name in failures:
        log(f"FAILED {name}")
    return line, report


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at tiny size, untraced and traced")
    a = ap.parse_args()
    if not a.smoke and a.workload is None:
        ap.error("--workload is required unless --smoke")
    # a terminated benchmark still kills and waits for the JVM it started
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    os.makedirs(BUILD, exist_ok=True)
    # one benchmark process at a time on this checkout
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            if a.smoke:
                ok = True
                for w in WORKLOADS:
                    for t in (0, 1):
                        line, _ = run_once(w, a.seed, 1, t, size="smoke")
                        print(json.dumps({"workload": w, "trace": t, **line}), flush=True)
                        ok &= line["correct"]
                return 0 if ok else 1
            line, _ = run_once(a.workload, a.seed, a.seconds, a.trace)
        except BenchError as e:
            log(f"error: {e}")
            return 2
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
