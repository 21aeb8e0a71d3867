#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload refscale --seed 1 --seconds 6 --trace 0

Builds the harness together with graft's sources (once per source
state), generates the workload's inputs from the seed, runs one JVM
(local[4], one client thread, one op in flight) that does an untimed
pass dumping every result, then timed passes for --seconds (two at
least), and checks every dumped result and every later execution's row
count. Timing samples taken while the hypervisor stole more than
stats.STEAL_MAX of the CPU are left out when clean ones exist. The last
stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones (null where an op never succeeded), with
--trace 1 the per-layer ones (alternate passes traced), and the spans go
to perfbench/.work/traces/<workload>-<seed>.json. A run that fails or
gives a wrong result keeps its files in perfbench/.work/run-*.
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
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

# The paper's reference ops, in pass order: R7 writes the clustered table
# that the others read.
REF_OPS = ["r7_clustered_write", "r1_field_values", "r1_chunked", "r2_values_by_ids",
           "r3_numeric_stats", "r4_stats_by_ids", "r8_point_lookup"]

# Each workload: the SparkEntry entries a pass runs (in a seed-shuffled
# order), the generated tables' scale factor, and the reference ops'
# input: `ref_rows` > 0 replicates the documents table to that many
# permuted-id rows, 0 runs them on the documents table itself.
WORKLOADS = {
    "refscale": dict(sf=0.1, tables=["documents"], ref_rows=500_000, ref_files=32, entries=[]),
    "rounds": dict(sf=0.01, tables=datagen.TABLES, ref_rows=0, ref_files=4,
                   entries=["dedup_clusters", "q_stream_window"]),
}

END_TO_END = ["setup_s", "pass_s", "op_p50_s"] + [f"{r}_s" for r in REF_OPS]
PER_LAYER = sorted(set(layers.UNITS) - set(layers.DEAD))
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "harness", "src"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for root in roots:
        if os.path.isfile(root):
            yield root
        for d, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compiles graft's sources with the harness; returns the classpath.
    Rebuilds only when a source file changed."""
    if not os.path.isfile(os.path.join(REPO, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"graft's sources are not at {REPO}/src/main/scala; run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(HERE, ".work", "build")
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=os.path.join(HERE, "harness"), capture_output=True, text=True,
                          timeout=850)
    cps = [ln for ln in proc.stdout.splitlines() if "classes" + os.pathsep in ln]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("building the harness failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def run_jvm(cp, work, args, w, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
            "--data", f"{work}/data", "--work", work, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--entries", ",".join(w["entries"]), "--ref-files", str(w["ref_files"]),
            "--out", f"{work}/record.json"]
    if w["ref_rows"]:
        cmd += ["--ref-input", f"{work}/ref"]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the run exceeded {RUN_LIMIT_S}s; log in {work}/jvm.log")
    if rc != 0 or not os.path.exists(f"{work}/record.json"):
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"the harness exited with {rc}")
    with open(f"{work}/record.json") as fh:
        return json.load(fh)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat; steal is time
    the hypervisor ran something else while this machine wanted the CPU."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def end_to_end(record, w):
    """The end-to-end metrics of an untraced run, from its clean samples;
    None for a metric of an op that never succeeded in a timed pass.
    Also returns op_p90_s (None under 100 samples)."""
    untraced = [p for p in record["passes"] if not p["traced"]]
    timed = [o for p in untraced for o in p["ops"] if o["ok"]]
    own = set(w["entries"] or REF_OPS)
    per_op = {op: stats.median_or_none([o["wall_s"] for o in
                                        stats.clean([o for o in timed if o["op"] == op])])
              for op in own | set(REF_OPS)}
    # the typical op: the median over the workload's ops of each op's
    # median latency (a pooled median would fall between two ops)
    own_medians = [per_op[op] for op in own]
    m = {"setup_s": record["setup_s"],
         "pass_s": stats.median_or_none([p["wall_s"] for p in stats.clean(untraced)]),
         "op_p50_s": None if None in own_medians else stats.median(own_medians)}
    for r in REF_OPS:
        m[f"{r}_s"] = per_op[r]
    p90 = stats.p90_if_supported([o["wall_s"] for o in stats.clean(timed) if o["op"] in own])
    return m, p90


def main():
    ap = argparse.ArgumentParser(description="Run one workload of graft's benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    w = WORKLOADS[args.workload]
    cp = build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 20)

    work = os.path.join(HERE, ".work", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    passed = False
    try:
        datagen.generate(f"{work}/data", args.seed, w["sf"], w["tables"])
        if w["ref_rows"]:
            datagen.stage_reference(f"{work}/data", f"{work}/ref", w["ref_rows"], args.seed)
        steal0, total0 = cpu_ticks()
        record = run_jvm(cp, work, args, w, deadline)
        steal1, total1 = cpu_ticks()
        steal = (steal1 - steal0) / max(total1 - total0, 1)

        con = checks.connect(f"{work}/data", f"{work}/tmp")
        wrong = checks.check_entries(con, record["oracle"], w["entries"], f"{work}/results")
        wrong.update(checks.check_reference(con, record, f"{work}/results"))
        wrong = {k: v for k, v in wrong.items() if v}
        for op, why in sorted(wrong.items()):
            print(f"perfbench: wrong result from {op}: {why}", file=sys.stderr)
        execs = record["dump"] + [o for p in record["passes"] for o in p["ops"]]
        rows = checks.dump_rows(f"{work}/results", set(w["entries"]) | set(REF_OPS))
        for e in execs:
            if not e["ok"]:
                print(f"perfbench: {e['op']} failed: {e['error']}", file=sys.stderr)
            elif stats.wrong_rows(e, rows):
                print(f"perfbench: {e['op']} returned {e['rows']} rows in a later execution, "
                      f"its checked result has {rows[e['op']]}", file=sys.stderr)
        failed = stats.count_failed(execs, wrong, rows)

        if args.trace:
            lay = layers.run_layers(record)
            traced_ops = [o for p in record["passes"] if p["traced"] for o in p["ops"]]
            per_op = [layers.op_layers(o) for o in traced_ops if o.get("spans")]
            zero = [k for k in PER_LAYER if k not in layers.RUN_LEVEL
                    and all(m.get(k, 0.0) == 0.0 for m in per_op)]
            print(f"# {args.workload} traced: zero on every op of this run: {', '.join(zero)}")
            metrics = {k: {"value": lay.get(k, 0.0), "unit": layers.UNITS[k]} for k in PER_LAYER}
            trace_dir = os.path.join(HERE, ".work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed, "run": lay,
                           "ops": [dict(op=o["op"], layers=m, spans=o["spans"])
                                   for o, m in zip([o for o in traced_ops if o.get("spans")],
                                                   per_op)]}, fh)
        else:
            e2e, p90 = end_to_end(record, w)
            metrics = {k: {"value": e2e[k], "unit": "s"} for k in END_TO_END}
            untraced = [p for p in record["passes"] if not p["traced"]]
            clean = [p for p in untraced if p["steal"] <= stats.STEAL_MAX]
            own = set(w["entries"] or REF_OPS)
            ops = [o for p in untraced for o in p["ops"] if o["op"] in own]
            n_clean = sum(1 for o in ops if o["steal"] <= stats.STEAL_MAX)
            print(f"# {args.workload}: error_ratio={failed / len(execs):.4f} "
                  f"({failed}/{len(execs)} executions), clean passes={len(clean)}/"
                  f"{len(untraced)}, clean op samples={n_clean}/{len(ops)}, "
                  f"op_p90_s={'%.4f' % p90 if p90 is not None else 'n/a (<100 samples)'}, "
                  f"cpu steal={steal:.1%}")
        passed = not wrong and failed == 0
    finally:
        if passed:
            shutil.rmtree(work, ignore_errors=True)
        else:
            print(f"perfbench: the run's files are kept in {work}", file=sys.stderr)
    print(json.dumps({"correct": passed, "attempted": len(execs),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
