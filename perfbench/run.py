#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run it from the root of the repository. The first run in a checkout builds
the program and the harness with sbt (offline). Each run then generates its
inputs from the seed, starts one JVM on local[<nproc>], measures the workload
in a closed loop for about the given seconds, checks the outputs, and prints
one JSON object as the last line of standard output. With ``--trace 1`` the
metrics are the per-layer ones of a traced pass; otherwise the end-to-end
ones. Everything the run writes goes under ``.bench_build/`` in the checkout.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_crossref  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

BUILD = ".bench_build"
JVM_HEAP = "2g"
DEADLINE_S = 160

# Sizes: the ETL workload's base warehouse and batches (works), and the
# graded queries of the query workload: every fourth of q01-q47 from q02,
# which reaches every query module.
INCR_BASE_WORKS = 2000
INCR_BATCH_WORKS = 500
INCR_BATCHES = 1
INCR_REUSE = 50
QUERIES = ["q%02d" % i for i in range(2, 48, 4)]
TABLES_SEED = 42
# Nominal seconds of one pass on a 4-vCPU VM. A run makes
# seconds // NOMINAL_PASS_S passes (at least one), the same number on a
# slow host as on a fast one: later passes are faster as the JIT warms, so a
# pass count that followed the clock would make slow hosts read slower still.
NOMINAL_PASS_S = {"etl_incremental": 20, "query_core": 5}

WORKLOADS = ("etl_incremental", "query_core")

# The JVM flags Spark needs on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    paths = ["build.sbt", "project/build.properties",
             "perfbench/harness/build.sbt",
             "perfbench/harness/project/build.properties"]
    for top in ("src/main", "perfbench/harness/src"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs.sort()
            paths += [os.path.relpath(os.path.join(d, f), root)
                      for f in sorted(files)]
    for p in paths:
        fp = os.path.join(root, p)
        if os.path.isfile(fp):
            h.update(p.encode())
            with open(fp, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, deadline):
    """Builds the program and the harness once per source tree; returns the
    runtime classpath."""
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp_file = os.path.join(root, BUILD, "build.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the program and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    harness = os.path.join(root, "perfbench", "harness")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=harness, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=max(60, deadline - time.time()))
    if proc.returncode != 0:
        raise SystemExit("perfbench: sbt build failed")
    with open(os.path.join(harness, "target", "classpath.txt")) as f:
        cp = f.read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def write_catalog(path):
    """The institutional catalog CSV the catalog stage upserts."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("SedeID,Sede,AreaAcademica,PalabrasClave\n"
                "1,Sede Cuenca,Ciencias de la Vida,cuenca;azuay\n"
                "2,Sede Quito,Ingenierías y Arquitectura,quito;pichincha\n"
                "3,Sede Guayaquil,Ciencias Sociales y Humanas,guayaquil;guayas\n"
                "4,Otra,No definida,\n")


def prepare(workload, seed, inputs):
    """Generates the workload's inputs; returns (harness args, truth)."""
    os.makedirs(inputs)
    if workload == "query_core":
        data = os.path.join(inputs, "data")
        # the tables are the same for every seed, as the graded data is;
        # the seed orders the queries
        gen_tables.write_tables(data, TABLES_SEED)
        order = list(QUERIES)
        random.Random(seed).shuffle(order)
        dump = os.path.join(inputs, "oracle_dump")
        os.makedirs(dump)
        return [data, dump] + order, {}
    csv = os.path.join(inputs, "catalog.csv")
    write_catalog(csv)
    pools = gen_crossref._pools(seed)
    base = os.path.join(inputs, "base")
    seen = gen_crossref.write_batch(
        base, seed, gen_crossref.batch_indices(seed, INCR_BASE_WORKS), pools)
    args, truth = [base, csv], {"base": gen_crossref.summarize(seen)}
    start = INCR_BASE_WORKS
    for k in range(1, INCR_BATCHES + 1):
        b = os.path.join(inputs, "batch-%d" % k)
        idx = gen_crossref.batch_indices(seed, INCR_BATCH_WORKS, base=start,
                                         reuse=INCR_REUSE)
        seen.update(gen_crossref.write_batch(b, seed, idx, pools))
        truth["batch%d" % k] = gen_crossref.summarize(seen)
        start += INCR_BATCH_WORKS
        args.append(b)
    return args, truth


def oracle_failures(root, data, dump, names):
    """Queries whose dumped result differs from the DuckDB oracle, compared
    by tools/oracle_check.py's rules."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    bad = []
    for name in names:
        t = time.time()
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = oc.main(data, dump, (name,))
        if rc != 0 or "== 1 pass, 0 fail ==" not in out.getvalue():
            bad.append(name)
            log(out.getvalue().strip()[:400])
        log("oracle %s %.2fs" % (name, time.time() - t))
    return bad


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.time()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(root, need)):
            log("not a checkout of the program: %s is missing" % need)
            return 2
    cp = build(root, t_start + 700)
    t_run = time.time()

    nproc = len(os.sched_getaffinity(0))
    host = {"nproc": nproc, "loadavg_before": loadavg(), "jvm_heap": JVM_HEAP}
    work = os.path.join(root, BUILD, "run-%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        t_gen = time.time()
        args, truth = prepare(a.workload, a.seed, os.path.join(work, "inputs"))
        gen_s = time.time() - t_gen
        out = os.path.join(work, "result.json")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # no hsperfdata file under /tmp: the run writes only in the checkout
        cmd = (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP,
                "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
                "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                "-Dspark.local.dir=" + tmp]
               + [x for p in ADD_OPENS for x in ("--add-opens",
                                                  p + "=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", a.workload,
                  str(max(1, int(a.seconds // NOMINAL_PASS_S[a.workload]))),
                  str(a.trace), os.path.join(work, "inputs"),
                  os.path.join(work, "wh"), out] + args)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
                   SPARK_LOCAL_DIRS=tmp)
        t_launch = time.time()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                                stderr=sys.stderr, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, t_run + DEADLINE_S - time.time()))
        except subprocess.TimeoutExpired:
            log("the harness ran out of time")
            return 3
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc != 0 or not os.path.exists(out):
            log("the harness failed with exit code %d" % rc)
            return 4
        with open(out) as f:
            result = json.load(f)
        # set-up: generation, JVM start and the harness's own set-up
        result["setup_s"] = gen_s + result["setup_end_ms"] / 1e3 - t_launch
        wall = time.time() - t_run
        oracle_bad = []
        if a.workload == "query_core":
            with contextlib.chdir(work):  # where DuckDB may spill
                oracle_bad = oracle_failures(root, args[0], args[1], args[2:])
        attempted, failed, reasons = metrics.failures(result, truth,
                                                      oracle_bad)
        for r in reasons[:20]:
            log("FAILED " + r)
        if a.trace:
            m = metrics.per_layer(result)
        else:
            m = metrics.end_to_end(result, wall)
            if failed:
                m = metrics.never_fast(m, wall)
        report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "host": host, "generate_s": gen_s, "wall_s": wall,
                  "failures": reasons, "metrics": m, "ops": result["ops"],
                  "spans": result["spans"], "engine": result["engine"]}
        with open(os.path.join(root, BUILD, "last-%s-trace%d.json"
                               % (a.workload, a.trace)), "w") as f:
            json.dump(report, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in sorted(m.items())}}
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
