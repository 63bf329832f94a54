#!/usr/bin/env python3
"""graft benchmark: ticket_scan, catalog_mix and live_tail.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness with sbt (offline) and, for catalog_mix, generates its parquet
inputs; both are cached under .perfbench/ and rebuilt when a source changes.
Each run starts one JVM (Spark local[nproc]), measures for --seconds, checks
the outputs, and prints one JSON object as the last line of stdout. The
human-readable report (every metric by name, with unit and sample count,
the recorded context, and with --trace 1 the self-time table) goes to
stderr. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import datagen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("ticket_scan", "catalog_mix", "live_tail")
RUN_DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"[perfbench] {msg}")
    sys.exit(code)


def host():
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    return cores, mem_kb


def heap_mb(mem_kb):
    """A fifth of the host's memory, between 1 and 3 GiB."""
    return max(1024, min(3072, mem_kb // 1024 // 5)) if mem_kb else 2048


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_child(cmd, cwd, env, timeout, out_path):
    """Run a child process to completion (killing it at the timeout), with
    its output in a file. Returns the exit code, or None on timeout."""
    with open(out_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, 9)
            p.wait()
            raise


def build():
    """Compile graft and the harness; returns the run-time classpath."""
    digest = source_digest()
    stamp = os.path.join(STATE, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("digest") == digest and all(os.path.exists(p) for p in b["classpath"].split(os.pathsep)):
            return b["classpath"]
    os.makedirs(STATE, exist_ok=True)
    log_path = os.path.join(STATE, "build.log")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], HERE, sbt_env(), 850, log_path)
    with open(log_path, errors="replace") as f:
        lines = f.read().splitlines()
    if rc != 0:
        log("\n".join(lines[-40:]))
        die(f"build failed (exit {rc}); log in {log_path}")
    cp = next((l.strip() for l in reversed(lines) if ".jar" in l and os.pathsep in l), None)
    if not cp:
        die(f"build printed no classpath; log in {log_path}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp, "build_s": time.time() - t0}, f)
    log(f"[perfbench] built in {time.time() - t0:.0f}s")
    return cp


def catalog_data():
    """The catalog_mix parquet inputs, generated once per datagen.py version."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        d = os.path.join(STATE, "data", hashlib.sha256(f.read()).hexdigest()[:16])
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(workload, seed, seconds, trace, cp, root, data, deadline):
    """One benchmark JVM with `root` as its private directory; returns the
    path of its result file."""
    cores, mem_kb = host()
    shutil.rmtree(root, ignore_errors=True)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    out = os.path.join(root, "result.json")
    env = dict(os.environ)
    env["GRAFT_SIG_DUMP_DIR"] = os.path.join(root, "sig")
    env["GRAFT_CHAIN_DUMP_DIR"] = os.path.join(root, "chain")
    cmd = (["java", f"-Xmx{heap_mb(mem_kb)}m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dsun.net.httpserver.nodelay=true",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
              "--root", root, "--data", data, "--out", out])
    jvm_log = os.path.join(root, "jvm.log")
    rc = run_child(cmd, REPO, env, max(10, deadline - time.time()), jvm_log)
    shutil.copy(jvm_log, os.path.join(STATE, f"{workload}.jvm.log"))  # the last run's log
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as f:
            log(f.read()[-6000:])
        die(f"{workload}: JVM {'timed out' if rc is None else f'exited {rc}'}")
    return out


def run_one(workload, seed, seconds, trace, cp, deadline):
    cores, mem_kb = host()
    root = os.path.join(STATE, f"run-{os.getpid()}-{workload}")
    try:
        data = catalog_data() if workload == "catalog_mix" else ""
        out = run_jvm(workload, seed, seconds, trace, cp, root, data, deadline)
        with open(out) as f:
            raw = json.load(f)
        # whatever the program left in its (private) java.io.tmpdir
        raw["values"]["tmp.entries_leaked"] = float(len(os.listdir(os.path.join(root, "tmp"))))
        if workload == "catalog_mix":
            import oracle
            oracle.check(raw, data, os.path.join(root, "results"))
            raw["info"]["catalog_data"] = f"generated parquet, scale {datagen.SCALE}, data seed {datagen.SEED}"
        spans = None
        if trace and os.path.exists(out + ".spans"):
            with open(out + ".spans") as f:
                spans = json.load(f)
        raw["info"].update({
            "workload": workload, "seed": str(seed), "nproc": str(cores),
            "mem_total_kb": str(mem_kb), "git_commit": git_commit(),
            "source_digest": source_digest()[:16],
        })
        return raw, spans
    finally:
        shutil.rmtree(root, ignore_errors=True)


def tracing_overhead(workload, seed, raw, trace):
    """Untraced runs of this build record their p50 latency; a traced run
    compares its own p50 with theirs (same seed if recorded, else all
    seeds). The difference is the tracing overhead."""
    hist_path = os.path.join(STATE, "history", f"{workload}-{raw['info']['source_digest']}.json")
    hist = []
    if os.path.exists(hist_path):
        with open(hist_path) as f:
            hist = json.load(f)
    p50 = report.median(raw["samples"].get("latency_ms", []))
    if not trace:
        os.makedirs(os.path.dirname(hist_path), exist_ok=True)
        with open(hist_path, "w") as f:
            json.dump((hist + [{"seed": seed, "p50": p50}])[-50:], f)
        return
    same = [h["p50"] for h in hist if h["seed"] == seed]
    base = same or [h["p50"] for h in hist]
    if base and p50 == p50:
        b = report.median(base)
        raw["values"]["trace.overhead_ms"] = p50 - b
        raw["values"]["trace.overhead_pct"] = 100.0 * (p50 - b) / b
        raw["info"]["trace_overhead_basis"] = f"p50 latency vs {len(base)} untraced run(s)"
    else:
        raw["info"]["trace_overhead_basis"] = "no untraced run of this build recorded; overhead reads 0"


def summarize(workload, raw, spans, trace):
    """Human-readable report on stderr; returns the contract's JSON object."""
    log(f"== {workload} (seed {raw['info']['seed']}, trace {trace}) ==")
    for k, v in raw["info"].items():
        log(f"  context.{k}: {v}")
    if not trace:
        m = report.end_to_end(workload, raw)
        for name, (val, unit, n) in m.items():
            alias = report.WHAT_IT_IS[workload].get(name, name)
            log(f"  {name:<18} = {val:12.4f} {unit:<6} n={n:<5} [{alias}]")
        name, val, n = report.tail(workload, raw)
        log(f"  {name:<18} = {val:12.4f} ms     n={n:<5} [stderr only]")
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in m.items()}
    else:
        m = report.per_layer(raw)
        for name, (val, unit) in m.items():
            log(f"  {name:<28} = {val:14.4f} {unit}")
        if spans is not None:
            log(f"  self time per span ({len(spans)} spans):")
            log(f"    {'span':<28} {'count':>7} {'total_ms':>12} {'self_ms':>12}")
            for name, c, tot, slf in report.self_time_report(spans):
                log(f"    {name:<28} {c:>7} {tot:>12.1f} {slf:>12.1f}")
        v = raw["values"]
        log(f"  tracing overhead: {v.get('trace.overhead_ms', 0.0):+.2f} ms on the p50 operation "
            f"({v.get('trace.overhead_pct', 0.0):+.1f}%; {raw['info'].get('trace_overhead_basis')})")
        metrics = {k: {"value": val, "unit": unit} for k, (val, unit) in m.items()}
    bad = [k for k, x in metrics.items() if not isinstance(x["value"], (int, float)) or x["value"] != x["value"]]
    correct = raw["failed"] == 0 and raw["attempted"] > 0 and not bad
    if bad:
        log(f"  missing metrics: {bad}")
    for x in metrics.values():
        if x["value"] != x["value"]:
            x["value"] = None
    return {"correct": correct, "attempted": int(raw["attempted"]), "failed": int(raw["failed"]),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        die("no graft sources next to perfbench/ (run from the root of a graft checkout)")
    cp = build()
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in workloads:
        # a build just made counts against its own allowance, not the run's
        deadline = time.time() + RUN_DEADLINE_S - min(time.time() - start, 10)
        raw, spans = run_one(w, a.seed, a.seconds, a.trace, cp, deadline)
        tracing_overhead(w, a.seed, raw, a.trace)
        results[w] = summarize(w, raw, spans, a.trace)
    print(json.dumps(results[a.workload] if a.workload != "all" else results), flush=True)


if __name__ == "__main__":
    main()
