"""Run one benchmark workload and print its result.

  python3 perfbench/run.py --workload <sweep|live_ingest> --seed N \
      --seconds S --trace <0|1>

builds graft and the harness if needed (see build.py), runs the workload in
one JVM on local[nproc], and prints two lines: a detail object (run metadata,
workload-specific figures, failures) and, last, the result object with
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are BENCHMARK.json's end-to-end metrics; with `--trace 1` its per-layer
metrics, and the run's spans are appended to
`<build dir>/traces/<commit>.jsonl`.

Other modes (not timed runs):
  --selftest        the benchmark's own self-tests
  --full-registry   one traced pass over every registry query (job totals)
  --record DIR      expected outputs and reference times, written to DIR
                    (see record.py, which turns them into expected/)
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
HEAP = "2g"
# C1 only for the closed-loop query passes (sweep, full registry): code is
# compiled quickly and then stays as it is. With the C2 tier the sweep's
# window falls inside C2's warm-up, and query times fell by a third over its
# first 30 seconds, at a point that moved from run to run. live_ingest keeps
# the default tiers: with C1 only, 4 of ~45 of its runs lost the stream or
# the whole SparkContext (a broadcast block missing, then the scheduler
# stopped the context); see perfbench/README.md.
C1_ONLY = "-XX:TieredStopAtLevel=1"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks():
    """(steal, total) jiffies of the whole box from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def commit_id():
    """git HEAD when the checkout is a repository, else a hash of graft's
    sources (the same tree always gets the same id)."""
    try:
        p = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode == 0 and os.path.isdir(os.path.join(build.ROOT, ".git")):
            return p.stdout.strip()
    except OSError:
        pass
    return "tree-" + build.program_hash()[:16]


def run_jvm(mode, kv, work, timeout):
    classes, fixture = build.build()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    kv = dict(kv, fixture=fixture, work=work,
              expected=os.path.join(build.HERE, "expected"), commit=commit_id())
    cmd = build.java_base() + [
        f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    ] + ([C1_ONLY] if mode == "fullreg" or kv.get("workload") == "sweep" else []) + [
        "-cp", build.classpath(classes), "perfbench.Main", mode,
    ] + [f"{k}={v}" for k, v in kv.items()]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise RuntimeError(f"{mode} did not finish within {timeout} s")
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{mode} exited {proc.returncode}:\n{err[-4000:]}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(res, trace):
    """The last stdout line: declared metrics only, each with its unit."""
    declared = spec()["per_layer" if trace else "end_to_end"]
    source = res["layers"] if trace else res["e2e"]
    metrics = {}
    for m in declared:
        v = source.get(m["name"])
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["sweep", "live_ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--full-registry", action="store_true")
    ap.add_argument("--record", metavar="DIR")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.full_registry or a.record):
        ap.error("one of --workload, --selftest, --full-registry, --record is required")

    name = "selftest" if a.selftest else "fullreg" if a.full_registry else \
        "record" if a.record else f"{a.workload}-{a.seed}"
    work = os.path.join(build.OUT, "runs", f"{name}-{os.getpid()}")
    traces = os.path.join(build.OUT, "traces")
    try:
        if a.selftest:
            res = run_jvm("selftest", {}, work, RUN_TIMEOUT_S)
            print(json.dumps(res))
            return 0 if not res["failed"] else 1
        if a.full_registry:
            res = run_jvm("fullreg", {"spans": os.path.join(traces, f"{commit_id()}-fullreg.jsonl")},
                          work, 1800)
            print(json.dumps(res))
            return 0 if not res["failed"] else 1
        if a.record:
            res = run_jvm("record", {"out": os.path.abspath(a.record)}, work, 3600)
            print(json.dumps(res))
            return 0 if not res["failures"] else 1
        with open("/proc/loadavg") as f:
            load_before = " ".join(f.read().split()[:3])
        steal0, total0 = cpu_ticks()
        res = run_jvm("run", {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "spans": os.path.join(traces, f"{commit_id()}.jsonl")},
            work, RUN_TIMEOUT_S)
        with open("/proc/loadavg") as f:
            load_after = " ".join(f.read().split()[:3])
        line = result_line(res, a.trace == 1)
        res["meta"]["loadavg_process_before"] = load_before
        res["meta"]["loadavg_process_after"] = load_after
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests during the run: high
        # values mark a run measured on a contended host
        res["meta"]["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        print(json.dumps({"meta": res["meta"], "detail": res["detail"],
                          "failures": res["failures"], "error_rate": res["error_rate"],
                          "e2e": res["e2e"], "layers": res["layers"]}))
        print(json.dumps(line))
        return 0
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
