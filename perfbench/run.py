#!/usr/bin/env python3
"""The repository's benchmark: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the library and the benchmark's JVM program from source
(perfbench/build.py), runs the workload as a closed loop with one
client (one query or pipeline pass at a time, the next one only after
the previous one finished) and prints, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 a separate
run installs Spark listeners and spans and reports the per-layer ones.
A detail record (host block, every pass, every failure) goes to
.bench_build/results/.

Workloads (BENCHMARK.json holds why each was chosen):
  flagship      FeaturePipeline.run over a seeded TokenGen table, at
                nproc cores and at 1 core on the same input
  flagship_hot  the same, with one entity holding a tenth of the points
  curation      text / curation / dedup / embedding queries on sf0.1
  mhealth       signal / sequence / inertial / pipeline / streaming
                queries on sf0.1
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
TABLES = "documents"
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

# Points in a flagship input: the 1-core leg must fit a run.
FLAGSHIP_POINTS = 200_000
# Shuffle partitions. The query workload keeps graft.Bench's 128. The
# flagship uses 8 (2 per core here): at an input one run can hold, 128
# partitions make a pass mostly per-task overhead, the 1-core leg alone
# would take half a run, and the hot entity's task would hide among the
# per-task costs.
FLAGSHIP_PARTITIONS = 8
FAMILY_PARTITIONS = 128
# Timed passes a run makes at least, after the cold one: warm passes at
# nproc cores, flagship passes at 1 core, and warm passes of the query
# workload. A run adds passes while less than --seconds have gone since
# its cold pass began (on flagship the nproc leg gets half of them).
MIN_WARM = 5
MIN_LOW = 1
FAMILY_MIN_WARM = 1
# A traced flagship run makes this many untraced and as many traced warm
# passes, alternating which comes first.
TRACED_MIN_WARM = 2

# The queries of the `families` workload: 2 of the 81 gate queries. A
# full pass of either query family takes 76-88 s at 4 cores, more than a
# run can hold.
FAMILY_QUERIES = [
    # curation: an interpreted higher-order-function text fold
    "q_doc_fingerprint",
    # mhealth: the streaming layer (micro-batches, state store)
    "q_dedup_stream",
]

WORKLOADS = ("flagship", "flagship_hot", "families")

# A run must end within 180 s; one JVM gets at most this long.
JVM_TIMEOUT = 170

# Fixed heap, pre-touched (as build.sbt does, so heap page faults stay
# out of the timed regions).
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def nproc():
    return len(os.sched_getaffinity(0))


def host_block():
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": nproc(), "mem_total_mb": mem, "loadavg": load,
            "heap": HEAP, "aqe": True,
            "shuffle_partitions": {"flagship": FLAGSHIP_PARTITIONS,
                                   "families": FAMILY_PARTITIONS},
            "canChangeCachedPlanOutputPartitioning": False}


def jvm(cp, args):
    """Start the JVM program; return (process, start time)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", WORK]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, cwd=ROOT)
    return p, t0


def drive(cp, args, log):
    """Run one JVM to completion; returns (setup seconds, RESULT
    payload). Setup is from process start until the session is ready and
    the inputs are present. The process is killed if it outlives
    JVM_TIMEOUT seconds or this function fails."""
    p, t0 = jvm(cp, args)
    setup = result = None
    err = []
    reader = threading.Thread(target=lambda: err.extend(p.stderr),
                              daemon=True)
    watchdog = threading.Timer(JVM_TIMEOUT, p.kill)
    try:
        reader.start()
        watchdog.start()
        for line in p.stdout:
            if line.startswith("@@READY"):
                setup = time.monotonic() - t0
            elif line.startswith("@@RESULT "):
                result = json.loads(line[9:])
        p.wait()
    finally:
        watchdog.cancel()
        if p.poll() is None:
            p.kill()
        p.wait()
        reader.join(timeout=5)
        log.write("".join(err))
    if p.returncode != 0 or result is None:
        raise RuntimeError(f"JVM {args['mode']} exited {p.returncode}:\n"
                           + "".join(err[-30:]))
    return setup, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (drive's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("no library sources under src/main/scala: run from the "
                 "root of a checkout")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    cp = build.build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log = open(os.path.join(WORK, "results", tag + ".log"), "w")
    host = host_block()
    n = host["nproc"]
    common = {"seed": a.seed, "trace": a.trace, "workload": a.workload}
    if a.workload.startswith("flagship"):
        out = flagship(cp, a, n, common, log)
    else:
        out = family(cp, a, n, common, log)
    detail = out.pop("detail")
    detail["host"] = host
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(out))


def metric(v, unit):
    return {"value": v, "unit": unit}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def layer_metrics(layers):
    """Every per-layer metric BENCHMARK.json names; a layer the workload
    does not run reads 0."""
    out = {}
    for m in spec()["per_layer"]:
        v = layers.get(m["name"]) if layers else None
        out[m["name"]] = metric(0.0 if v is None else v, m["unit"])
    return out


def flagship(cp, a, n, common, log):
    # The 1-core leg runs on `flagship` only: a run of flagship_hot could
    # not also hold it (see BENCHMARK.json), so there scaling_eff is
    # estimated from busy task time, as for the query families.
    hot = a.workload == "flagship_hot"
    path = os.path.join(WORK, "data", f"docs_s{a.seed}_h{int(hot)}_p"
                                      f"{FLAGSHIP_POINTS}_n{FLAGSHIP_PARTITIONS}")
    docs = gen.docs(a.seed, hot, FLAGSHIP_POINTS, FLAGSHIP_PARTITIONS)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # one-time generation, before and outside the timed process
        t0 = time.monotonic()
        gen.write(path, docs)
        log.write(f"generated {path} in {time.monotonic() - t0:.2f} s\n")
    args = dict(common, mode="flagship", cores=n, table=path,
                points=FLAGSHIP_POINTS, partitions=FLAGSHIP_PARTITIONS,
                low=int(not hot), budget=a.seconds,
                min_warm=TRACED_MIN_WARM if a.trace else MIN_WARM,
                min_low=MIN_LOW)
    if hot:
        args["hot_id"] = gen.doc_id(docs[-1][0])
    setup, r = drive(cp, args, log)
    failed = len(r["failed"])
    ok = (r["cold_s"] is not None and r["warm_s"] and
          (a.trace or hot or r["low_s"]))
    out = {"correct": failed == 0 and bool(ok),
           "attempted": r["attempted"], "failed": failed,
           "detail": dict(r, setup_s=setup)}
    if a.trace:
        out["metrics"] = layer_metrics(r["layers"])
        return out
    warm = statistics.median(r["warm_s"])
    if hot:
        eff = r["busy_warm_s"] / (n * sum(r["warm_s"]))
    else:
        eff = statistics.median(r["low_s"]) / (n * warm)
    out["metrics"] = {
        "setup_s": metric(setup, "s"),
        "cold_s": metric(r["cold_s"], "s"),
        "warm_s": metric(warm, "s"),
        "fvec_per_s": metric(r["rows"] / warm, "1/s"),
        "scaling_eff": metric(eff, "ratio"),
        "ok_frac": metric(1 - failed / r["attempted"], "ratio"),
    }
    return out


def family(cp, a, n, common, log):
    with open(os.path.join(HERE, "digests.json")) as f:
        expect = json.load(f)
    queries = FAMILY_QUERIES
    setup, r = drive(cp, dict(
        common, mode="family", cores=n, queries=",".join(queries),
        partitions=FAMILY_PARTITIONS,
        data=DATA, tables=TABLES, budget=a.seconds,
        min_warm=FAMILY_MIN_WARM),
        log)
    # a run whose output digest differs from the recorded one fails its
    # check: it is counted, never timed
    failed = [[q, "exception " + e] for q, e in r["failed"]]
    cold, warm, rows = {}, {}, {}
    for q, p, sec, digest in r["runs"]:
        if digest != expect.get(q):
            failed.append([q, f"digest {digest} != {expect.get(q)}"])
            continue
        rows[q] = int(digest.split(":")[0])
        if p == 0:
            cold[q] = sec
        else:
            warm.setdefault(q, []).append(sec)
    ok = all(q in cold and q in warm for q in queries)
    out = {"correct": not failed and ok, "attempted": r["attempted"],
           "failed": len(failed),
           "detail": dict(r, setup_s=setup, check_failures=failed)}
    if a.trace:
        out["metrics"] = layer_metrics(r["layers"])
        return out
    warm_s = sum(statistics.median(v) for v in warm.values())
    out["metrics"] = {
        "setup_s": metric(setup, "s"),
        "cold_s": metric(sum(cold.values()), "s"),
        "warm_s": metric(warm_s, "s"),
        "fvec_per_s": metric(sum(rows.values()) / warm_s, "1/s"),
        "scaling_eff": metric(
            r["busy_warm_s"] / (n * sum(r["pass_s"])), "ratio"),
        "ok_frac": metric(1 - len(failed) / r["attempted"], "ratio"),
    }
    return out


if __name__ == "__main__":
    main()
