#!/usr/bin/env python3
"""The repository's benchmark: one workload, one fresh JVM, one result.

    python3 perfbench/run.py --workload corpus --seed 42 --seconds 1 --trace 0

Run from the repository root. It compiles `src/main/scala` and
`perfbench/scala` with the Scala compiler that ships in the Spark jars
(cached under `.perfbench/build/` by a hash of the sources), generates
the seed's tables (`gen.py`, cached under `.perfbench/data/`), runs
`perfbench.Harness` in a fresh JVM with its own temp and Spark local
dirs, checks every query's output against its DuckDB oracle
(`check.py`), and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the timed session
also writes a Spark event log and the metrics are the per-layer ones
(`layers.py`, `perfbench/scala/Probes.scala`). See `perfbench/README.md`.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
import zipfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = {
    # read-only, executor-CPU-bound text and vector queries
    "corpus": [
        "q_text_topgram", "q_lm_fluency", "q_curation_pipeline",
        "q_bm25_join", "q_tfidf_keywords", "q_dedup_minhash",
        "q_dedup_ngram", "q_gopher_rules", "q_knn_accuracy", "q_semdedup"],
    # versioned-table writes and reads (TableLog, MaterializedAgg)
    "table_mutate": [
        "q_incr_agg", "q_table_cdc", "q_string_merge", "q_merge_delete",
        "q_time_travel", "q_table_restore", "q_upsert_partitioned",
        "q_table_skip"],
    # rendered media through tar shards and fingerprint dedup
    "media_shards": ["q_phash_dedup", "q_audio_dedup", "q_roundtrip_shards"],
}

SPARK_JARS = "/opt/spark/jars"
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170
HEAP = "4g"
YOUNG = "512m"
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _files(top, ext):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(ext)]
    return sorted(out)


def _java(classes, heap, scratch):
    """The JVM command line shared by the harness runs and the class
    archive training run (the archive only maps under the same flags).
    The heap and its young generation have fixed sizes, so collections
    come after every YOUNG of allocation rather than on timing-driven
    resizing, and the after-collection heap peak repeats from run to
    run."""
    return ["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
            f"-Xmn{YOUNG}", *OPENS,
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(scratch, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
            f"-Dderby.system.home={scratch}",
            "-cp", f"{os.path.join(classes, 'graft-bench.jar')}:"
                   f"{SPARK_JARS}/*"]


def _scratch(parent):
    run = os.path.join(parent, f"{os.getpid()}-{time.time_ns()}")
    for d in ("tmp", "local", "out", os.path.join("out", "events")):
        os.makedirs(os.path.join(run, d))
    return run


def build(data, warm):
    """Directory with the compiled jar for the current sources, built
    once per source hash. The build also trains a class-data-sharing
    archive on one set-up, so every run's JVM maps the Spark classes
    instead of loading them (about 6s less start-up per run); without
    the archive the runs are slower to start but measure the same."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    sources = _files(main_src, ".scala") + _files(
        os.path.join(HERE, "scala"), ".scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    res_files = _files(resources, "")
    h = hashlib.sha1()
    for p in sources + res_files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    key = h.hexdigest()[:16]
    done = os.path.join(STATE, "build", key)
    if os.path.isfile(os.path.join(done, ".ok")):
        return done
    t0 = time.time()
    tmp = f"{done}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
         f"-Djava.io.tmpdir={tmp}", "-cp", f"{SPARK_JARS}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
         f"@{argfile}"], cwd=tmp, capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(os.path.join(tmp, "graft-bench.jar"), "w") as jar:
        for p in _files(classes, ""):
            jar.write(p, os.path.relpath(p, classes))
        for p in res_files:
            jar.write(p, os.path.relpath(p, resources))
    shutil.rmtree(classes)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(done, ignore_errors=True)
    os.replace(tmp, done)
    log(f"compiled {len(sources)} sources in {time.time() - t0:.1f}s")
    # the archive records the jar's path, so train it in place
    t0 = time.time()
    archive = os.path.join(done, "classes.jsa")
    train = _scratch(os.path.join(STATE, "runs"))
    with open(os.path.join(train, "jvm.log"), "w") as out:
        subprocess.run(
            _java(done, HEAP, train) + [
                f"-XX:ArchiveClassesAtExit={archive}.{os.getpid()}",
                "perfbench.Harness", data, warm,
                os.path.join(train, "out"), "0", "0", ""],
            cwd=train, stdout=out, stderr=out)
    shutil.rmtree(train, ignore_errors=True)
    if os.path.isfile(f"{archive}.{os.getpid()}"):
        os.replace(f"{archive}.{os.getpid()}", archive)
    log(f"trained the class archive in {time.time() - t0:.1f}s")
    return done


def inputs(seed):
    """The seed's table dir (timed scale) and its sf0.001 sibling."""
    root = os.path.join(STATE, "data", f"seed-{seed}")
    if not os.path.isfile(os.path.join(root, ".ok")):
        tmp = f"{root}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed)
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    return os.path.join(root, "sf0.1"), os.path.join(root, "sf0.001")


def du_mb(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total / 1048576.0


def run_jvm(build_dir, data, warm, queries, seconds, traced, deadline):
    """Run the harness once in its own scratch dir. Returns the parsed
    result, with `setup_s` added (from the process launch to the start
    of the timed window), its output dir, the MB the queries left in
    the temp and Spark local dirs, and the scratch dir, which the caller
    deletes."""
    run = _scratch(os.path.join(STATE, "runs"))
    out = os.path.join(run, "out")
    cmd = _java(build_dir, HEAP, run)
    archive = os.path.join(build_dir, "classes.jsa")
    if os.path.isfile(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    cmd += ["perfbench.Harness", data, warm, out, str(seconds),
            "1" if traced else "0", ",".join(queries)]
    with open(os.path.join(run, "jvm.log"), "w") as err:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=run, stdout=err, stderr=err)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(run, ignore_errors=True)
            raise SystemExit("perfbench: harness timed out")
    if rc != 0:
        with open(os.path.join(run, "jvm.log")) as f:
            lines = [ln for ln in f if " INFO " not in ln
                     and not ln.lstrip().startswith(("at ", "..."))]
        sys.stderr.write("".join(lines[-30:]))
        shutil.rmtree(run, ignore_errors=True)
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    res["setup_s"] = res["window_start_ms"] / 1e3 - launched
    left = du_mb(os.path.join(run, "tmp")) + du_mb(os.path.join(run, "local"))
    return res, out, left, run


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(res):
    passes = res["passes"]
    per_query = {}
    for p in passes:
        for q, r in p["queries"].items():
            per_query.setdefault(q, []).append(r["build_s"] + r["exec_s"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "query_geomean_s": (geomean(
            [statistics.median(v) for v in per_query.values()]), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "live_heap_peak_mb": (statistics.median(
            p["heap_peak_mb"] for p in passes), "MB"),
    }


QUERY_METRICS = [
    ("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("outside_jobs_s", "s"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("input_mb", "MB"), ("shuffle_write_mb", "MB"),
    ("shuffle_read_records", "count"), ("spill_mb", "MB")]

LAYER_UNITS = {
    "queries.tablelog.files_rewritten_per_upsert": "count",
    "queries.tablelog.bytes_written_per_input_byte": "ratio",
    "sources.shard_read_mb_per_s": "MB/s",
}


def per_layer(res, out, untraced_wall):
    jobs = layers.read_event_log(os.path.join(out, "events"))
    labels = layers.by_label(res["spans"], jobs)
    queries = layers.per_query(labels)
    m = {f"queries.{k}": (sum(q[k] for q in queries.values()), u)
         for k, u in QUERY_METRICS}
    for k, v in res["layers"].items():
        unit = LAYER_UNITS.get(k, "ns/row" if k.endswith("_ns_per_row")
                               else "s")
        m[k] = (v, unit)
    m["queries.tablelog.jobs_per_upsert"] = (
        layers.layer_jobs(labels, "tablelog.upsert"), "count")
    m["queries.tablelog.jobs_per_delete"] = (
        layers.layer_jobs(labels, "tablelog.delete"), "count")
    traced_wall = statistics.median(p["wall_s"] for p in res["passes"])
    m["trace.wall_s"] = (traced_wall, "s")
    m["trace.overhead_s"] = (traced_wall - untraced_wall, "s")

    # per-query breakdown and cross-checks: printed, not metrics
    cols = [k for k, _ in QUERY_METRICS]
    print("# per-query (traced pass): " + " ".join(cols))
    for q, row in sorted(queries.items()):
        print(f"# {q:24s} " + " ".join(
            f"{row[k]:.3f}" if isinstance(row[k], float) else str(row[k])
            for k in cols))
    wall = sum(q["build_s"] + q["exec_s"] for q in queries.values())
    outside = sum(q["outside_jobs_s"] for q in queries.values())
    print(f"# outside-jobs share of the pass: {outside / wall:.1%} "
          f"({outside:.2f}s of {wall:.2f}s)")
    if "q_incr_agg" in queries:
        print(f"# q_incr_agg jobs: {queries['q_incr_agg']['jobs']}")
    print(f"# tracing overhead: {traced_wall:.2f}s traced - "
          f"{untraced_wall:.2f}s untraced")
    return m


def history_path(classes, workload):
    return os.path.join(STATE, "history",
                        f"{os.path.basename(classes)}-{workload}.json")


def record_wall(hist, seed, wall):
    """Keep an untraced wall_s for later traced runs to compare with."""
    walls = {}
    if os.path.exists(hist):
        with open(hist) as f:
            walls = json.load(f)
    walls.setdefault(str(seed), []).append(wall)
    os.makedirs(os.path.dirname(hist), exist_ok=True)
    with open(hist, "w") as f:
        json.dump(walls, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    queries = WORKLOADS[args.workload]

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no src/main/scala here; run from the "
                         "repository root")
    data, warm = inputs(args.seed)
    classes = build(data, warm)
    deadline = time.time() + RUN_LIMIT_S
    hist = history_path(classes, args.workload)
    untraced_wall = None
    if args.trace:
        if os.path.exists(hist):
            with open(hist) as f:
                walls = json.load(f)
            untraced_wall = statistics.median(
                walls.get(str(args.seed)) or
                [w for ws in walls.values() for w in ws])
        else:
            res0, _, _, run0 = run_jvm(classes, data, warm, queries,
                                       args.seconds, False, deadline)
            shutil.rmtree(run0, ignore_errors=True)
            untraced_wall = statistics.median(
                p["wall_s"] for p in res0["passes"])
            record_wall(hist, args.seed, untraced_wall)

    res, out, left_mb, run = run_jvm(classes, data, warm, queries,
                                     args.seconds, bool(args.trace),
                                     deadline)
    try:
        verdicts = check.check(
            os.path.join(out, "results"), res["oracle_sql"], queries, data,
            os.path.join(STATE, "oracle", f"seed-{args.seed}"))
        errors = {q: r["error"] for p in res["passes"]
                  for q, r in p["queries"].items() if r["error"]}
        metrics = (per_layer(res, out, untraced_wall)
                   if args.trace else end_to_end(res))
    finally:
        shutil.rmtree(run, ignore_errors=True)

    for q in queries:
        if errors.get(q) or verdicts[q]:
            log(f"{q}: {errors.get(q) or verdicts[q]}")
    attempted = sum(len(p["queries"]) for p in res["passes"])
    failed = sum(1 for p in res["passes"]
                 for r in p["queries"].values() if r["error"])
    failed += sum(1 for q in queries
                  if verdicts[q] and not errors.get(q))
    if not args.trace:
        record_wall(hist, args.seed, metrics["wall_s"][0])
    print(f"# {args.workload} seed={args.seed} passes={len(res['passes'])} "
          f"setup_s={res['setup_s']:.2f} "
          f"failed_frac={failed / attempted:.3f} "
          f"tmp_left_mb={left_mb:.1f}")
    first = res["passes"][0]["queries"]
    print("# first pass, s per query: " + " ".join(
        f"{q}={r['build_s'] + r['exec_s']:.2f}" for q, r in first.items()))
    for k, (v, u) in sorted(metrics.items()):
        print(f"# {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
