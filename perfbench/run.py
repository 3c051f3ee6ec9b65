#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (the engine's sources plus ``perfbench/src``) with the
benchmark's own sbt build when the sources changed, makes the seeded inputs,
runs the workload in one JVM on ``local[<cores>]`` with a fixed heap, checks
every output against DuckDB, and prints the metrics. With ``--trace 1`` the
census listeners and span recorder are attached and the per-layer metrics are
printed instead of the end-to-end ones; the span tree and the per-layer
self-time report are written next to the run's work directory.

Everything is written under ``perfbench/.work`` and ``perfbench/target``.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
from workloads import HEAVY, INGEST, TAIL, WORKLOADS  # noqa: E402

SETUP_REPS = 3
HEAP = "3g"
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the harness is compiled from, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            out += [os.path.join(d, f) for f in sorted(fs) if f.endswith((".scala", ".java"))]
    return out


def build():
    """Compile with sbt unless the classes match the current sources."""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(HERE, "target", "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(HERE, "target", "build.log")
    tmp = os.path.join(HERE, "target", "tmp")  # sbt's socket dirs, kept in the checkout
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false",
                            f"-Djava.io.tmpdir={tmp}", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 3)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch", *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Harness"]
           + [str(x) for kv in args.items() for x in (f"--{kv[0]}", kv[1])])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {timeout:.0f} s; see {log}", 4)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited with {rc}", 4)


def host_cpu():
    """(steal, idle) seconds of the whole machine so far, from /proc/stat."""
    f = open("/proc/stat").readline().split()
    hz = os.sysconf("SC_CLK_TCK")
    return int(f[8]) / hz, int(f[4]) / hz


def median(xs):
    return statistics.median(xs)


def query_metrics(res, problems, window):
    names = res["queries"]
    failed_q = set(res["failures"]) | set(problems)
    ok = [n for n in names if n not in failed_q]
    steady = {n: res["samples"][n][1:1 + window] for n in ok}
    all_steady = [t for n in ok for t in res["samples"][n][1:]]
    e2e = {
        "setup_s": (median(a + b for a, b in zip(res["session_s"], res["warm_up_s"]))
                    + res["warehouse_build_s"], "s"),
        "board_s": (sum(median(steady[n]) for n in ok), "s"),
    }
    per_mod = {}
    for n in ok:
        m = res["modules"][n]
        per_mod[m] = per_mod.get(m, 0.0) + median(steady[n])
    detail = {"rounds": res["rounds"], "query_p50_s": median(all_steady),
              "cold_board_s": sum(res["samples"][n][0] for n in ok),
              "round_board_s": [sum(res["samples"][n][r] for n in ok)
                                for r in range(res["rounds"])],
              "heavy_board_s": sum(median(steady[n]) for n in ok if n in HEAVY),
              "tail_board_s": sum(median(steady[n]) for n in ok if n in TAIL),
              "per_query_median_s": {n: median(steady[n]) for n in ok},
              "per_module_s": per_mod, "failed_queries": sorted(failed_q),
              "warehouse_build_s": res["warehouse_build_s"],
              "builds_in_samples": res["builds_in_samples"]}
    # Every query runs once per round, the cold round included; a query
    # that failed or disagreed with its twin counts on every execution.
    attempted = len(names) * res["rounds"]
    failed = len(failed_q) * res["rounds"]
    return e2e, detail, attempted, failed


OP_KINDS = ("drain", "quarantine", "publish", "compact", "upsert", "read_store", "read_snapshot")


def ingest_metrics(res, plan):
    s = res["samples"]
    steady = {k: [t for r, t in s[k] if r > 0] for k in OP_KINDS if k in s}
    cold = {k: [t for r, t in s[k] if r == 0] for k in OP_KINDS if k in s}
    all_steady = [t for v in steady.values() for t in v]
    backlog = res["backlog_files"]
    backlog_rows = sum(plan[i]["rows"] for i in backlog if not plan[i]["dirty"])
    drain0 = cold["drain"][0]
    live = [t for i, t in res["freshness"] if i not in set(backlog)]
    arrived = res["arrived_files"]
    csv_bytes = sum(plan[i]["bytes"] for i in arrived)
    pub = {r: 0.0 for r, _ in s["publish"] if r > 0}
    for k in ("publish", "upsert"):
        for r, t in s.get(k, []):
            if r > 0:
                pub[r] += t
    e2e = {
        "setup_s": (median(res["setup_s"]), "s"),
        "board_s": (sum(median(v) for v in steady.values() if v), "s"),
    }
    detail = {
        "rounds": res["rounds"], "op_p50_s": median(all_steady),
        "cold_board_s": sum(sum(v) for v in cold.values()),
        "ingest_rows_per_s": backlog_rows / drain0,
        "freshness_p50_s": median(live),
        "publish_p50_s": median(list(pub.values())),
        "read_p50_s": median([t for k in ("read_store", "read_snapshot") for t in steady[k]]),
        "store_bytes_per_input_byte": res["store_bytes"] / csv_bytes,
        "store_files": res["store_files"], "store_versions": res["store_versions"],
        "generator_late_max_s": max(res["generator_late_s"]),
        "per_op_median_s": {k: median(v) for k, v in steady.items() if v},
    }
    return e2e, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + [INGEST["name"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    build()
    t_start = time.time()  # a first run may spend its first minutes building

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    args = {"seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "work": work, "data": data, "cpus": cores(),
            "reps": SETUP_REPS, "out": os.path.join(work, "result.json")}
    if a.workload == INGEST["name"]:
        w = INGEST
        gen.make_tables(os.path.join(data, "tables"), a.seed, w["sf"], only=("orders",))
        n_arrive = int(a.seconds * w["rate"]) + 3 * w["compact_every"] + 2
        plan = gen.make_arrivals(os.path.join(data, "tables", "orders.parquet"),
                                 os.path.join(data, "arrivals"), a.seed, w["backlog"],
                                 n_arrive, w["rows_per_file"], w["dirty_every"],
                                 w["bad_per_dirty"], w["dup_every"])
        args.update(kind="ingest", plan=os.path.join(data, "arrivals", "plan.json"),
                    rate=w["rate"], compact_every=w["compact_every"])
    else:
        w = WORKLOADS[a.workload]
        gen.make_tables(data, a.seed, w["sf"])
        args.update(kind="query", queries=",".join(w["queries"]),
                    prebuilds=",".join(w["prebuilds"]) or ",",
                    min_rounds=1 + w["steady_rounds"])

    steal0, idle0 = host_cpu()
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    j0 = time.time()
    run_jvm(args, work, timeout=170 - (time.time() - t_start))
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    steal1, idle1 = host_cpu()
    machine = {"jvm_wall_s": time.time() - j0, "t_jvm_start": j0 - t_start,
               "jvm_cpu_s": ru1.ru_utime + ru1.ru_stime - ru0.ru_utime - ru0.ru_stime,
               "host_steal_s": steal1 - steal0, "host_idle_s": idle1 - idle0}
    res = json.load(open(args["out"]))

    if a.workload == INGEST["name"]:
        problems = oracle.check_ingest(plan, res["arrived_files"], res["cycles"],
                                       os.path.join(work, "out"), res["released"])
        problems += [f"{k}: {v}" for k, v in res["failures"].items()]
        e2e, detail = ingest_metrics(res, plan)
        correct, attempted, failed = not problems, res["attempted"], len(res["failures"])
    else:
        problems = oracle.check_queries(data,
                                        os.path.join(work, "out"), res["oracle_sql"],
                                        res["queries"])
        e2e, detail, attempted, failed = query_metrics(res, problems, w["steady_rounds"])
        problems = {**res["failures"], **problems}
        correct = True
    for k, v in (problems.items() if isinstance(problems, dict) else enumerate(problems)):
        print(f"perfbench: check: {k}: {v}", file=sys.stderr)

    detail["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    if a.trace:
        metrics = report.per_layer(res)
        detail["layers"] = report.workload_layers(res, plan if a.workload == INGEST["name"] else None)
        report.write(res, work, detail["layers"])
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    machine["t_end"] = time.time() - t_start
    machine.update({k: res[k] for k in ("setup_end_s", "harness_s")})
    detail["machine"] = machine
    detail["peak_rss_mb"] = res["rss_hwm_kb"] / 1024.0
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
