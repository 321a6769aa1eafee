#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Steps: build the engine and the harness if the sources changed
(`build.py`), generate the seeded fixture tables (`gen_data.py`), run the
harness JVM (`perfbench.Main`: set-up, warm-up, timed closed loop), check
correctness (DuckDB oracle for registry rows, store invariants for the
portal), then print the environment stamp, the per-layer self-time table
(traced runs) and, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The full result, with raw
samples, goes to `.bench_build/results/<workload>/`.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from gen_data import ALL_TABLES, generate  # noqa: E402

# fixture tables each workload reads: the registry rows get all of them
TABLES = {
    "analytic_full": ALL_TABLES,
    "stream_replay": ALL_TABLES,
    "portal_mixed": [],
}
RUN_LIMIT_S = 170.0  # a run ends within 180 s after its build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
             "-XX:-UsePerfData"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def run_jvm(classpath, args, work, deadline) -> dict:
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}",
                          "-Dspark.ui.enabled=false",
                          "-cp", os.pathsep.join(classpath), "perfbench.Main",
                          "--workload", args.workload,
                          "--seed", str(args.seed),
                          "--seconds", str(args.seconds),
                          "--trace", str(args.trace),
                          "--data", args.data_dir, "--work", work,
                          "--out", out, "--cores", str(nproc())])
    # class-data sharing: the first run of a workload after a build
    # archives the classes it loaded; later runs map that archive, which
    # roughly halves JVM and session start
    jsa = os.path.join(os.path.dirname(classpath[0]),
                       f"cds-{args.workload}.jsa")
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd.insert(1, cds)
    errlog = os.path.join(work, "jvm.log")
    with open(errlog, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err, cwd=work)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness JVM exceeded the run time limit")
    if p.returncode != 0 or not os.path.exists(out):
        with open(errlog) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"harness JVM failed ({p.returncode})")
    with open(out) as fh:
        return json.load(fh)


def end_to_end(res: dict) -> dict:
    n = res["nums"]
    ms = [s[3] for s in res["samples"]]
    by_op = {}
    for s in res["samples"]:
        by_op.setdefault(s[0], []).append(s[3] / 1e3)
    return {
        "setup_s": (n["core.session_start_ms"] + n["core.schema_load_ms"]
                    + n["setup_repeat_median_ms"] + n["warmup_ms"]
                    + n["warm_pass_ms"]) / 1e3,
        "wall_s": n["pass_wall_median_s"],
        "ops_per_s": len(ms) / n["timed_s"],
        "query_geomean_s": geomean([statistics.median(v)
                                    for v in by_op.values()]),
        "cpu_s": n["cpu_ms_per_pass"] / 1e3,
        "peak_rss_mb": n["peak_rss_mb"],
    }


def latency_detail(res: dict) -> dict:
    """Per-kind percentiles with sample counts (informational: a p90 is
    valid only with at least ten samples beyond it)."""
    d = {}
    for kind in sorted({s[1] for s in res["samples"]}):
        ms = [s[3] for s in res["samples"] if s[1] == kind]
        d[f"{kind}_p50_ms"] = quantile(ms, 0.5)
        d[f"{kind}_p90_ms"] = quantile(ms, 0.9)
        d[f"{kind}_n"] = len(ms)
    return d


def per_layer(res: dict, spec: list, cores: int) -> dict:
    n = dict(res["nums"])
    lat = latency_detail(res)
    for k in ("read", "write"):
        for p in ("p50", "p90"):
            if f"{k}_{p}_ms" in lat:
                n[f"service.{k}_{p}_ms"] = lat[f"{k}_{p}_ms"]
    if n.get("timed_s"):
        n["spark.core_util"] = n.get("spark.task_run_ms", 0.0) / (
            n["timed_s"] * 1e3 * cores)
    if n.get("streaming.trigger_ms"):
        n["streaming.rows_per_s"] = n.get("streaming.input_rows", 0.0) / (
            n["streaming.trigger_ms"] / 1e3)
    if "store_bytes_per_user_byte" in n:
        n["store.bytes_per_user_byte"] = n["store_bytes_per_user_byte"]
    if "untraced_pass_wall_s" in n:
        n["trace.overhead_s"] = (n["pass_wall_median_s"]
                                 - n["untraced_pass_wall_s"])
    # a layer the workload does not exercise reads 0
    return {m["name"]: n.get(m["name"], 0.0) for m in spec}


def print_trace_table(res: dict) -> None:
    self_ms = res.get("layer_self_ms", {})
    total = sum(self_ms.values()) or 1.0
    print(f"# self time per layer, workload {res['workload']} "
          f"(run {res['run_id']})")
    print(f"#   {'layer':<12} {'self_ms':>12} {'share':>7}")
    for layer, v in sorted(self_ms.items(), key=lambda kv: -kv[1]):
        print(f"#   {layer:<12} {v:12.1f} {v / total:7.1%}")
    n = res["nums"]
    if "untraced_pass_wall_s" in n:
        over = n["pass_wall_median_s"] - n["untraced_pass_wall_s"]
        print(f"# tracing overhead: wall_s traced {n['pass_wall_median_s']:.3f}"
              f" - untraced {n['untraced_pass_wall_s']:.3f} = {over:+.3f} s")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import build
    classpath = build.build()
    deadline = time.time() + RUN_LIMIT_S

    bb = os.path.join(ROOT, ".bench_build")
    args.data_dir = os.path.join(bb, "data", f"seed{args.seed}")
    generate(args.seed, args.data_dir, TABLES[args.workload])

    work = os.path.join(bb, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, args, work, deadline)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if res["outputs"]:
            import oracle
            checks += oracle.check_rows(args.data_dir, res["outputs"],
                                        os.path.join(work, "duckdb"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res["error"]:
        log(f"harness error: {res['error']}")
        return 1
    for name, ok, detail in checks:
        if not ok:
            log(f"check FAILED {name}: {detail}")
    failed_ops = sum(1 for s in res["samples"] if not s[4])
    attempted = len(res["samples"]) + len(checks)
    failed = failed_ops + sum(1 for c in checks if not c[1])

    env = dict(res["env"], git_commit=git_commit(), seed=args.seed,
               fixture_dir=os.path.relpath(args.data_dir, ROOT),
               source_hash=open(os.path.join(build.OUT, "STAMP")).read()[:16],
               workload=args.workload, trace=args.trace,
               seconds=args.seconds)
    e2e = end_to_end(res)
    detail = dict(e2e, **latency_detail(res),
                  op_p50_ms=quantile([s[3] for s in res["samples"]], 0.5),
                  fail_frac=failed / attempted,
                  passes=res["nums"]["passes"],
                  store_bytes_per_user_byte=res["nums"].get(
                      "store_bytes_per_user_byte"))
    if args.trace:
        metrics = per_layer(res, spec["per_layer"], nproc())
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}

    rdir = os.path.join(bb, "results", args.workload)
    os.makedirs(rdir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(os.path.join(rdir, f"seed{args.seed}-trace{args.trace}-"
                                 f"{stamp}-{os.getpid()}.json"), "w") as fh:
        json.dump({"env": env, "metrics": metrics, "detail": detail,
                   "checks": checks, "samples": res["samples"],
                   "nums": res["nums"], "spans": res["spans"],
                   "oracles": {k: o["oracle"]
                               for k, o in res["outputs"].items()},
                   "layer_self_ms": res["layer_self_ms"]}, fh)

    print("# env " + json.dumps(env, sort_keys=True))
    if args.trace:
        print_trace_table(res)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
