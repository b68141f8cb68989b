#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result as JSON.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
``src/main/scala`` and the harness from ``perfbench/scala`` into
``.bench_build`` (reused while the sources are unchanged); every run then
generates its inputs from the seed, starts one JVM for the workload,
checks every operation's output apart from the program, and prints as
its last line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (spans in ``.bench_out/<workload>-s<seed>-trace``). See
README.md for the workloads, metrics and reference figures.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DEADLINE_S = 170

# One pass of each workload: the operations a closed-loop client runs in
# order, again and again. caliper_etl alternates the two ETL entry points.
# batch_queries times at least three passes and reports their medians: one
# pass of nine short queries is too little work to be steady.
WORKLOADS = {
    "caliper_etl": {"warm": 1, "attempts": 100},
    "batch_queries": {"warm": 2, "passes": 3, "queries": [
        "q1_agg", "c2_grouped_attempts", "t3_token_stats",
        "d1_dedup_exact", "s1_ann_bruteforce", "p2_hash_split",
        "m3_frame_sample", "e5_partitioned_roundtrip", "g7_label_propagation"]},
    "stream_queries": {"warm": 1, "queries": [
        "w3_stream_tumbling", "w5_stream_dedup"]},
}

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "pass_s": "s",
    "attempts_per_s": "attempts/s", "microbatch_p50_s": "s",
    "scratch_mb": "MB",
}

# Spark's JavaModuleOptions, as build.sbt passes them to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"no Spark jars under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main or not bench:
        sys.exit("program or harness sources missing: run from a checkout root")
    return main, bench


def build():
    """Compile program and harness into .bench_build; return the classpath.

    The classes go into two jars, and a short training run on small
    inputs records a class-data-sharing archive of every class the
    workloads load, so that a run's JVM maps them instead of loading them
    one by one (on a 4-core VM class loading is most of a cold start).
    A training run that fails or records no archive fails the build, and
    no stamp is written, so the next run builds again.
    """
    main, bench = sources()
    jars = spark_jars()
    digest = hashlib.sha256(json.dumps(WORKLOADS, sort_keys=True).encode())
    for p in main + bench:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    cp = ":".join([os.path.join(BUILD, "program.jar"),
                   os.path.join(BUILD, "bench.jar"), os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    shutil.rmtree(BUILD, ignore_errors=True)
    for name, srcs in (("program", main), ("bench", bench)):
        classes = os.path.join(BUILD, name)
        os.makedirs(classes)
        subprocess.run(
            [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-classpath",
             ":".join([os.path.join(BUILD, "program"), os.path.join(jars, "*")]),
             "-d", classes] + srcs, check=True, stdout=sys.stderr)
        with zipfile.ZipFile(os.path.join(BUILD, name + ".jar"), "w") as z:
            for base, _, files in sorted(os.walk(classes)):
                for f in sorted(files):
                    path = os.path.join(base, f)
                    z.write(path, os.path.relpath(path, classes))
    train = os.path.join(BUILD, "train")
    gen.gen_tables(os.path.join(train, "sf"), 0,
                   rows={k: max(1, v // 50) for k, v in gen.SF01_ROWS.items()})
    gen.gen_caliper(os.path.join(train, "csv"), 0, 20, 20)
    queries = [q for w in WORKLOADS.values() for q in w.get("queries", [])]
    os.makedirs(os.path.join(train, "tmp"))
    rc = run_jvm(jvm_command(cp, os.path.join(train, "tmp"), [
        "--workload", "train", "--input", os.path.join(train, "sf"),
        "--caliper", os.path.join(train, "csv"), "--out", os.path.join(train, "out"),
        "--queries", ",".join(queries), "--seconds", "0", "--warm", "0"],
        archive=("-XX:ArchiveClassesAtExit", ARCHIVE)),
        os.path.join(BUILD, "train.log"), time.time() + 600)
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        sys.exit(f"training run exited with {rc} and recorded "
                 f"{'an' if os.path.exists(ARCHIVE) else 'no'} class-data archive; "
                 f"log in {os.path.join(BUILD, 'train.log')}")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return cp


def jvm_command(cp, tmp, args, archive=("-XX:SharedArchiveFile", None)):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flag, path = archive
    path = path or (ARCHIVE if os.path.exists(ARCHIVE) else None)
    return [java()] + opens + ([f"{flag}={path}"] if path else []) + [
        "-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-XX:+UnlockDiagnosticVMOptions",
        "-XX:GCLockerRetryAllocationCount=64", "-cp", cp,
        "perfbench.Harness"] + args


def run_jvm(cmd, log_path, deadline):
    """Run the harness JVM in its own process group and wait for it.

    At the deadline, or when this process is told to stop, the group gets
    SIGTERM (the JVM's shutdown hooks remove its scratch directories) and,
    five seconds later, SIGKILL.
    """
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(*_):
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(proc.pid, sig)
                    proc.wait(timeout=5)
                    return
                except (ProcessLookupError, subprocess.TimeoutExpired):
                    pass
            proc.wait()

        previous = {s: signal.signal(s, lambda *_: sys.exit(143))
                    for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            sys.exit(f"harness passed the deadline; log in {log_path}")
        finally:
            if proc.poll() is None:
                stop()
            for s, h in previous.items():
                signal.signal(s, h)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def unit_p50(workload, res, ops):
    """Median time of the engine's unit of scheduled work.

    On stream_queries that is one micro-batch (its ``triggerExecution``).
    The other workloads run no micro-batches; there the unit is a Spark
    job, and the figure is the median over operations of the mean length
    of the operation's jobs (the jobs of one operation differ too much in
    kind for a median over single jobs to be steady).
    """
    first = min(o["index"] for o in ops)
    if workload == "stream_queries":
        return median([b["trigger_ms"] / 1000.0 for r in res["stream_runs"]
                       if r["op"] >= first for b in r["batches"]])
    means = []
    for o in ops:
        js = [e - s for s, e in res["jobs"] if o["start_ms"] <= s <= o["end_ms"]]
        if js:
            means.append(sum(js) / len(js) / 1000.0)
    return median(means)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cp = build()
    started = time.time()
    spec = WORKLOADS[a.workload]
    tag = f"{a.workload}-s{a.seed}" + ("-trace" if a.trace else "")
    out = os.path.join(ROOT, ".bench_out", tag)
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    for d in (out, os.path.join(work, "tmp")):
        os.makedirs(d)
    try:
        return measure(a, spec, cp, out, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, spec, cp, out, work, started):
    # ---- set-up: inputs from the seed, then the JVM warms up
    t0 = time.time()
    inputs = os.path.join(work, "input")
    if a.workload == "caliper_etl":
        items, assessments = gen.gen_caliper(
            inputs, a.seed, spec["attempts"], spec["attempts"])
        expected = {"items": gen.expected_item_docs(items),
                    "assessments": gen.expected_assessment_docs(assessments)}
    else:
        gen.gen_tables(inputs, a.seed)
    gen_s = time.time() - t0
    harness_out = os.path.join(work, "harness")
    args = ["--workload", a.workload, "--input", inputs, "--out", harness_out,
            "--seconds", str(a.seconds), "--warm", str(spec["warm"]),
            "--passes", str(spec.get("passes", 1)),
            "--trace", str(a.trace)]
    if "queries" in spec:
        args += ["--queries", ",".join(spec["queries"])]
    launch = time.time()
    rc = run_jvm(jvm_command(cp, os.path.join(work, "tmp"), args),
                 os.path.join(out, "jvm.log"), started + DEADLINE_S)
    if rc != 0:
        sys.exit(f"harness exited with {rc}; log in {out}/jvm.log")
    exited = time.time()
    with open(os.path.join(harness_out, "result.json")) as f:
        res = json.load(f)
    setup_s = gen_s + (res["setup_end_ms"] / 1000.0 - launch)

    # ---- checks, outside the timed region
    timed = [p for p in res["passes"] if p["timed"]]
    ops = [o for p in timed for o in p["ops"]]
    problems = {}
    oracle_error = False
    attempts = 0  # attempt documents of the jobs that passed their check
    files = 0
    if a.workload == "caliper_etl":
        for o in ops:
            exp = expected[o["name"]]
            p = [o["error"]] if o["error"] else check.check_docs(o["out"], exp)
            if p:
                problems[o["index"]] = p[:5]
            else:
                attempts += len(exp)
                files += check.tree_files(o["out"])
        # the documents the first (warm-up) pass wrote
        output_bytes = sum(check.tree_bytes(o["out"])
                           for o in res["warm_passes"][0]["ops"])
    else:
        with open(os.path.join(harness_out, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        con = check.connect(inputs)
        full = {}
        for q in spec["queries"]:
            try:
                full[q] = check.compare_query(
                    con, oracle_sql[q], f"SELECT * FROM '{harness_out}/full/{q}/*.parquet'")
            except Exception as e:  # an oracle that cannot run fails the run
                full[q] = (None, f"oracle or result unreadable: {e}")
                oracle_error = True
        con.close()
        batches = {}
        for r in res["stream_runs"]:
            batches.setdefault(r["op"], []).extend(r["batches"])
        for o in ops:
            n_expect, full_diff = full[o["name"]]
            p = []
            if o["error"]:
                p.append(o["error"])
            elif o["count"] != n_expect:
                p.append(f"count {o['count']} vs oracle {n_expect}")
            if full_diff:
                p.append("full result: " + full_diff)
            if a.workload == "stream_queries" and len(batches.get(o["index"], [])) < 2:
                p.append(f"{len(batches.get(o['index'], []))} micro-batches")
            if p:
                problems[o["index"]] = p
    failed = len(problems)
    correct = failed == 0 and not oracle_error

    # ---- metrics
    op_s = [o["seconds"] for o in ops]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(op_s),
        "pass_s": median([p["seconds"] for p in timed]),
        "attempts_per_s": (attempts if a.workload == "caliper_etl" else len(ops))
        / sum(op_s),
        "microbatch_p50_s": unit_p50(a.workload, res, ops),
        "scratch_mb": (output_bytes / 1e6 if a.workload == "caliper_etl"
                       else res["first_pass_scratch_mb"]),
    }
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "class_archive": os.path.exists(ARCHIVE),
               "passes": len(timed), "attempted": len(ops), "failed": failed,
               "problems": problems, "end_to_end": e2e,
               "wall_s": {"gen": gen_s, "jvm": exited - launch,
                          "after_timed_region": exited - res["timed_end_ms"] / 1000.0,
                          "checks": time.time() - exited}}
    if a.trace:
        per_layer, detail = layers.reduce(
            os.path.join(harness_out, "spans.jsonl"), attempts=attempts, files=files)
        per_layer["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        summary["per_layer"] = per_layer
        summary["self_s_per_pass"] = detail
        shutil.copy(os.path.join(harness_out, "spans.jsonl"), out)
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    shutil.copy(os.path.join(harness_out, "result.json"), out)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
