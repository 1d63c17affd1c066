#!/usr/bin/env python3
"""Benchmark of the graft engine: dashboard serving and the query registry.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --expect            # regenerate expected.json

Run from the root of a checkout. The first run builds the program and the
benchmark client from source with sbt; later runs reuse the build while
the sources are unchanged. See perfbench/README.md.
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
from pathlib import Path

import bench_stats as bs

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
# the read-only test data the program's own suites use (TESTDATA.md)
DATA = Path.home() / "testdata"
SOURCE = DATA / "sf0.1"
EXPECTED = BENCH / "expected.json"
OUT = BENCH / "out"
WORK = BENCH / "work"
TARGET = BENCH / "target"
XMX = "4g"
# A fixed heap and a stop-the-world collector: G1's concurrent threads and
# heap resizing compete with the task threads on a small box, and moved the
# median serve time of whole runs by up to 25 % in trial runs.
JVM_OPTS = ["-Xms" + XMX, "-Xmx" + XMX, "-XX:+UseParallelGC"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
WORKLOADS = ("serve", "queries")
BUILD_INPUTS = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
                ROOT / "src" / "main", BENCH / "build.sbt",
                BENCH / "project" / "build.properties", BENCH / "src"]
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]

PASSES = 3  # --expect runs every query this many times
END_TO_END = {"setup_s": "s", "work_s": "s"}
MODULES = sorted(set(bs.PANEL.values()))
# cache relations refreshCache writes, in its write order
RELATIONS = ["miner_info", "mining_info", "block_info", "burn_fee_area",
             "miner_info_rr", "miner_info_rr_1000", "miner_info_rr_100",
             "btc_total", "chain_tip"]
PER_LAYER = dict(
    [("sessions.build_s", "s"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.driver_gap_s", "s"), ("spark.executor_run_s", "s"),
     ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
     ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
     ("spark.spill_mb", "MB"), ("spark.cores_busy", "cores"),
     ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
     ("catalyst.planning_s", "s"),
     ("tables.scan_rows", "count"), ("tables.scan_mb", "MB"),
     ("memo.builds", "count"), ("memo.build_s", "s")]
    + [(f"{m}.{k}", u) for m in MODULES
       for k, u in (("construct_s", "s"), ("exec_s", "s"), ("jobs", "count"))]
    + [("queries.sample_s", "s"), ("queries.residual_s", "s")]
    + [(f"pipelines.write.{r}_{k}", u) for r in RELATIONS
       for k, u in (("s", "s"), ("bytes", "bytes"))]
    + [("pipelines.refresh_full_s", "s"), ("pipelines.refresh_incr_s", "s"),
       ("pipelines.refresh.jobs", "count"), ("pipelines.refresh.tasks", "count"),
       ("pipelines.refresh.driver_gap_s", "s"), ("pipelines.refresh.executor_run_s", "s"),
       ("pipelines.refresh.executor_cpu_s", "s"), ("pipelines.refresh.shuffle_write_mb", "MB"),
       ("pipelines.cache_bytes", "bytes"),
       ("pipelines.dashboard.jobs", "count"), ("pipelines.page.jobs", "count"),
       ("pipelines.read_mb", "MB"),
       ("pipelines.dashboard_p50_ms", "ms"), ("pipelines.dashboard_tail_ms", "ms"),
       ("pipelines.page_p50_ms", "ms"), ("pipelines.page_tail_ms", "ms"),
       ("trace.ops", "count"), ("trace.overhead_pct", "%")])

MB = 1e6


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def tree_bytes(p):
    total = 0
    for d, _, fs in os.walk(p):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def source_digest():
    h = hashlib.sha256()
    for base in BUILD_INPUTS:
        files = sorted(base.rglob("*")) if base.is_dir() else [base]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def git_sha():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], env=env,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build(digest, deadline):
    """Compile the program and the client; return the runtime classpath."""
    stamp, cp_file = TARGET / "perfbench-stamp.txt", TARGET / "perfbench-classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), False
    log("building the program and the benchmark client with sbt")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    TARGET.mkdir(parents=True, exist_ok=True)
    with open(TARGET / "perfbench-build.log", "w") as out:
        rc = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True), deadline - time.time())
    lines = (TARGET / "perfbench-build.log").read_text().splitlines()
    cps = [l for l in lines if "perfbench" in l and l.startswith("/") and ":" in l]
    if rc != 0 or not cps:
        fail("build failed; see %s" % (TARGET / "perfbench-build.log"))
    cp_file.write_text(cps[-1])
    stamp.write_text(digest)
    return cps[-1], True


CHILD = []


def wait_group(proc, timeout):
    """Wait for `proc`; past `timeout` kill its whole process group."""
    CHILD.append(proc)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        kill_children()
        fail("timed out after %.0f s" % timeout)
    finally:
        if proc in CHILD:
            CHILD.remove(proc)


def kill_children():
    for p in list(CHILD):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        CHILD.remove(p)


def on_signal(signum, _frame):
    kill_children()
    sys.exit(128 + signum)


def run_jvm(cp, mode, keys, ops, work, deadline, trace=0):
    """Write the plan, run the client JVM on it, return its result."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    out, plan = work / "result.json", work / "plan.txt"
    lines = ["mode %s" % mode, "source %s" % SOURCE,
             "work %s" % work, "cores %d" % cores(), "trace %d" % trace,
             "relations %s" % " ".join(RELATIONS),
             "out %s" % out]
    lines += ["%s %s" % kv for kv in keys.items()] + [" ".join(map(str, o)) for o in ops]
    plan.write_text("\n".join(lines) + "\n")
    cmd = (["java"] + JVM_OPTS + ["-XX:-UsePerfData", "-Djava.io.tmpdir=%s" % tmp,
            "-Dspark.sql.warehouse.dir=%s" % (work / "warehouse"),
            "-Dio.netty.tryReflectionSetAccessible=true"]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JAVA_OPENS]
           + ["-cp", cp, "perfbench.Main", str(plan)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    with open(work / "jvm.log", "w") as logf:
        rc = wait_group(subprocess.Popen(
            cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True), deadline - time.time())
    if rc != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        fail("client exited with %d:\n%s" % (rc, "\n".join(tail)))
    return json.loads(out.read_text())


def cleanup(work):
    """Delete the run's source copies, cache, Spark scratch and the
    graft-memo-<appId> dirs (java.io.tmpdir points inside `work`)."""
    if (work / "jvm.log").exists():
        shutil.copy(work / "jvm.log", OUT / (work.name + ".log"))
    left = tree_bytes(work)
    memo = sum(tree_bytes(p) for p in (work / "tmp").glob("graft-memo-*"))
    shutil.rmtree(work, ignore_errors=True)
    return {"left_behind_bytes": left, "memo_scratch_bytes": memo,
            "residual_bytes": tree_bytes(work) if work.exists() else 0}


def counters_sum(phases, key):
    return sum(ph["counters"][key] for ph in phases if "counters" in ph)


def serve_stats(ok):
    out = {}
    for kind in ("dashboard", "page"):
        xs = [1000 * op["wall_s"] for op in ok if op["kind"] == kind]
        if len(xs) >= 2:
            v, label, beyond = bs.tail(xs)
            q1, _, q3 = bs.quartiles(xs)
            out.update({kind + "_p50_ms": bs.median(xs), kind + "_q1_ms": q1,
                        kind + "_q3_ms": q3, kind + "_tail_ms": v,
                        kind + "_tail_pct": label, kind + "_samples": len(xs)})
    return out


def end_to_end(workload, res, ok):
    key = "kind" if workload == "serve" else "name"
    return {"setup_s": res["setup_s"], "work_s": bs.sum_of_medians(ok, key)}


def per_layer(workload, res, ok):
    """Figures of the traced operations per unit of work_s: per pass over
    the panel (queries), or per dashboard read plus page read (serve).
    Set-up figures are per run."""
    m = {k: 0.0 for k in PER_LAYER}
    traced = [op for op in ok if op["traced"]]
    untraced = [op for op in ok if not op["traced"]]
    phases = [ph for op in traced for ph in op["phases"]]
    wall = sum(op["wall_s"] for op in traced)
    units = len(traced) / (len(bs.PANEL) if workload == "queries" else 2) or 1.0
    c = lambda k, ps=phases: counters_sum(ps, k) / units
    m.update({
        "sessions.build_s": res["session_s"],
        "spark.jobs": c("jobs"), "spark.stages": c("stages"), "spark.tasks": c("tasks"),
        "spark.driver_gap_s": c("driver_gap_ms") / 1e3,
        "spark.executor_run_s": c("executor_run_ms") / 1e3,
        "spark.executor_cpu_s": c("executor_cpu_ns") / 1e9,
        "spark.gc_s": c("gc_ms") / 1e3,
        "spark.shuffle_read_mb": c("shuffle_read_bytes") / MB,
        "spark.shuffle_write_mb": c("shuffle_write_bytes") / MB,
        "spark.spill_mb": c("spill_bytes") / MB,
        "spark.cores_busy": c("executor_run_ms") / 1e3 / (wall / units * cores()) if wall else 0.0,
        "catalyst.analysis_s": c("analysis_ms") / 1e3,
        "catalyst.optimization_s": c("optimization_ms") / 1e3,
        "catalyst.planning_s": c("planning_ms") / 1e3,
        "trace.ops": len(traced)})
    if workload == "queries":
        m["tables.scan_rows"] = c("input_records")
        m["tables.scan_mb"] = c("input_bytes") / MB
        m["memo.builds"] = sum(ph["memo_builds"] for ph in phases) / units
        m["memo.build_s"] = sum(ph["memo_s"] for ph in phases) / units
        for op in traced:
            for ph in op["phases"]:
                m["%s.%s_s" % (op["module"], ph["layer"])] += (ph["wall_s"] - ph["memo_s"]) / units
                m["%s.jobs" % op["module"]] += ph["counters"]["jobs"] / units
        m["queries.sample_s"] = wall / units
        m["queries.residual_s"] = (wall - sum(ph["wall_s"] for ph in phases)) / units
        if traced and untraced:
            m["trace.overhead_pct"] = 100 * (bs.paired_ratio(traced, untraced) - 1)
    else:
        s = res["setup"]
        # the refresh in set-up is serve's only source scan and Memo build
        refresh = [{"counters": s[k]} for k in ("refresh_counters", "incr_counters") if k in s]
        r = lambda k: counters_sum(refresh, k)
        m["tables.scan_rows"] = r("input_records")
        m["tables.scan_mb"] = r("input_bytes") / MB
        m["memo.builds"] = s["memo_builds"]
        m["memo.build_s"] = s["memo_build_s"]
        m.update({"pipelines.refresh.jobs": r("jobs"), "pipelines.refresh.tasks": r("tasks"),
                  "pipelines.refresh.driver_gap_s": r("driver_gap_ms") / 1e3,
                  "pipelines.refresh.executor_run_s": r("executor_run_ms") / 1e3,
                  "pipelines.refresh.executor_cpu_s": r("executor_cpu_ns") / 1e9,
                  "pipelines.refresh.shuffle_write_mb": r("shuffle_write_bytes") / MB})
        for rel in RELATIONS:
            m["pipelines.write.%s_s" % rel] = s.get("relation_write_ms", {}).get(rel, 0) / 1e3
            m["pipelines.write.%s_bytes" % rel] = s["relation_bytes"][rel]
        m["pipelines.refresh_full_s"] = s["refresh_full_s"]
        m["pipelines.refresh_incr_s"] = s["refresh_incr_s"]
        m["pipelines.cache_bytes"] = s["cache_bytes"]
        for kind in ("dashboard", "page"):
            ps = [ph for ph in phases if ph["layer"] == kind]
            m["pipelines.%s.jobs" % kind] = counters_sum(ps, "jobs") / max(1, len(ps))
        m["pipelines.read_mb"] = c("input_bytes") / MB
        st = serve_stats(ok)
        for k in ("dashboard_p50_ms", "dashboard_tail_ms", "page_p50_ms", "page_tail_ms"):
            m["pipelines." + k] = st.get(k, 0.0)
        if traced and untraced:
            m["trace.overhead_pct"] = 100 * (bs.sum_of_medians(traced, "kind")
                                             / bs.sum_of_medians(untraced, "kind") - 1)
    return m


def stamp(args, res, digest):
    env = res["env"]
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cores(), "master": env["master"],
            "jvm_opts": JVM_OPTS, "xmx_mb_seen": env["xmx_mb"], "spark": env["spark"],
            "jdk": env["jdk"], "git_sha": git_sha(), "source_digest": digest,
            "source_dir": str(SOURCE)}


def expect(cp, deadline_s):
    """Untimed mode: record every fingerprint in expected.json, once each
    query's PASSES isolated runs agree."""
    work = WORK / ("expect-%d" % os.getpid())
    try:
        res = run_jvm(cp, "expect", {"passes": PASSES}, [], work, time.time() + deadline_s)
    finally:
        cleanup(work)
    by = {}
    for op in res["ops"]:
        by.setdefault(op["name"], []).append(op)
    entries, problems = {}, []
    for name, ops in sorted(by.items()):
        checks = [op["checks"][0] for op in ops]
        if any("error" in ch for ch in checks):
            problems.append("%s: %s" % (name, [ch.get("error") for ch in checks]))
            continue
        if any(not bs.sums_equal(ch["got"], checks[0]["got"]) for ch in checks):
            problems.append("%s: fingerprint differs between passes" % name)
            continue
        entries["query:" + name] = checks[0]["got"]
    for ch in res["setup_checks"]:
        if "error" in ch:
            problems.append("%s: %s" % (ch["name"], ch["error"]))
        elif "want" in ch:
            if not bs.sums_equal(ch["got"], ch["want"]):
                problems.append("%s: %s != %s" % (ch["name"], ch["got"], ch["want"]))
        else:
            entries[ch["name"]] = ch["got"]
    if problems:
        fail("expected results not written:\n" + "\n".join(problems), 1)
    doc = {"source_dir": "~/" + str(SOURCE.relative_to(Path.home())), "nproc": cores(),
           "passes": PASSES,
           "spark": res["env"]["spark"], "entries": entries}
    EXPECTED.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    log("wrote %d entries to %s" % (len(entries), EXPECTED))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expect", action="store_true",
                    help="regenerate expected.json (untimed, ~15 min)")
    args = ap.parse_args()
    t0 = time.time()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources at %s (expected build.sbt and src/main/scala)" % ROOT)
    if not (SOURCE / "orders.parquet").exists():
        fail("source data missing: %s" % SOURCE)
    if not args.expect and not args.workload:
        fail("--workload is required")
    if not args.expect and not EXPECTED.exists():
        fail("missing %s; generate it with --expect" % EXPECTED)
    digest = source_digest()
    cp, built = build(digest, t0 + BUILD_LIMIT_S)
    OUT.mkdir(exist_ok=True)
    if args.expect:
        return expect(cp, 3 * 3600)
    expected = json.loads(EXPECTED.read_text())["entries"]
    keys, ops = bs.make_plan(args.workload, args.seed, args.trace)
    keys["seconds"] = args.seconds
    keys["spans"] = OUT / ("spans-%s-seed%d.jsonl" % (args.workload, args.seed))
    work = WORK / ("%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid()))
    deadline = (t0 + BUILD_LIMIT_S) if built else (time.time() + RUN_LIMIT_S)
    try:
        res = run_jvm(cp, args.workload, keys, ops, work, deadline - 5, args.trace)
    finally:
        disk = cleanup(work)
    setup_op = {"name": "setup", "checks": res["setup_checks"]}
    ok, failed = bs.account([setup_op] + res["ops"], expected)
    ok = [op for op in ok if op is not setup_op]
    attempted = 1 + len(res["ops"])
    if not ok:
        fail("no operation succeeded: %s" % failed[:3], 1)
    if args.trace:
        values, units = per_layer(args.workload, res, ok), PER_LAYER
    else:
        values, units = end_to_end(args.workload, res, ok), END_TO_END
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    record = {"stamp": stamp(args, res, digest), "metrics": metrics,
              "attempted": attempted, "failed": failed,
              "error_rate": len(failed) / attempted, "ops_ok": len(ok),
              "measured_s": res["measured_s"], "disk": disk, "spans": res["spans"],
              "serve": serve_stats(ok) if args.workload == "serve" else None,
              "setup": res["setup"],
              "queries_sample_s": sum(op["wall_s"] for op in ok)
              if args.workload == "queries" else None,
              "ops": [{"name": op["name"], "kind": op["kind"], "wall_s": op["wall_s"],
                       "traced": op["traced"]}
                      for op in res["ops"]]}
    name = "%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace)
    (OUT / name).write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    for f in failed:
        log("FAILED %s: %s" % (f["name"], f["cause"]))
    for k in sorted(metrics):
        print("%-40s %14.6g %s" % (k, metrics[k]["value"], metrics[k]["unit"]))
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
