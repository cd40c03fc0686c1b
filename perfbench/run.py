"""Pipeline benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {crawl_build,embed_fusion} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated once per (workload, seed)
under ``.perfbench_work/inputs`` by ``perfbench/gen.py``; every job then runs
in a fresh driver process (``perfbench/job.py``), as a spark-submit job would,
with fresh output, checkpoint and Spark local directories.

``--trace 0`` runs untraced jobs until ``--seconds`` have passed (at least
one) and reports the medians of the end-to-end metrics. ``--trace 1`` runs
one traced and one untraced job and reports the per-layer metrics of the
traced one (``perfbench/layertrace.py``), with ``trace.overhead_s`` taken
against the untraced one. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. A job that raises,
times out or fails an output check counts as failed; the set goes on.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_BUDGET_S = 155.0  # a run must end within 180 s, reaping a timed-out job included
JOB_ENV_DROP = ("PRASE_", "SPARK_GRAFT_", "PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS")


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _job_env(job_dir: str, traced: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith(JOB_ENV_DROP)}
    n = _cores()
    tmp = os.path.join(job_dir, "tmp")
    env.update(
        {
            # executors' Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PRASE_SPARK_MASTER": f"local[{n}]",
            "SPARK_GRAFT_CPUS": str(n),
            "SPARK_LOCAL_DIRS": os.path.join(job_dir, "local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    conf = ["spark.ui.showConsoleProgress=false"]
    if traced:
        log = os.path.join(job_dir, "eventlog")
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"
    return env


def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``: the job, its JVM, and the Python
    worker daemons, which put themselves in process groups of their own."""
    alive = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="utf8") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[3]) == sid and fields[0] != "Z":
                    alive.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return alive


def _reap_session(sid: int) -> None:
    """Stop every process the job started and wait until all have ended
    (the JVM and its workers exit on their own once the driver closes)."""
    deadline = time.time() + 10
    while _session_members(sid) and time.time() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        members = _session_members(sid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 5
        while _session_members(sid) and time.time() < end:
            time.sleep(0.2)


def run_job(workload: str, inputs: str, traced: bool, timeout: float, n: int) -> dict:
    """One fresh-process job. Returns its result dict, or one with
    ``ok: False`` and an ``error`` when it failed."""
    job_dir = os.path.join(WORK, "jobs", f"{workload}-{os.getpid()}-{n}")
    shutil.rmtree(job_dir, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(job_dir, sub))
    cmd = [sys.executable, os.path.join(HERE, "job.py"), "--workload", workload,
           "--inputs", inputs, "--work", job_dir]
    if traced:
        cmd.append("--trace")
    with open(os.path.join(job_dir, "stdout.txt"), "w") as out, \
            open(os.path.join(job_dir, "stderr.txt"), "w") as err:
        spawn = time.time()
        proc = subprocess.Popen(
            cmd + ["--spawn-time", repr(spawn)], stdout=out, stderr=err,
            env=_job_env(job_dir, traced), cwd=ROOT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        _reap_session(proc.pid)
        proc.wait()
    result = {"ok": False}
    path = os.path.join(job_dir, "result.json")
    if code == 0 and os.path.exists(path):
        with open(path, encoding="utf8") as f:
            result = json.load(f)
    else:
        with open(os.path.join(job_dir, "stderr.txt"), encoding="utf8", errors="replace") as f:
            tail = f.read()[-2000:]
        result["error"] = "timeout" if code is None else f"exit {code}: {tail}"
    result["wall_s"] = time.time() - spawn
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    spans = os.path.join(job_dir, "spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(reports, f"{workload}-spans.json"))
    shutil.rmtree(job_dir, ignore_errors=True)
    return result


def _program_hash() -> str:
    """Content hash of the code under test: the Python sources of the
    ``prase_spark`` package and of the benchmark."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "prase_spark"), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode("utf-8") + b"\0")
                with open(path, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _check_determinism(inputs: str, results: list[dict]) -> None:
    """Every job of one seed on the same code must end in the same match
    state (the Jacobi updates are deterministic): compare within this run and
    against the first recorded run of the seed on this code. A mismatch
    fails the job. Another program keeps a reference of its own, so a change
    that moves the match state is measured, not failed."""
    ok = [r for r in results if r.get("ok")]
    if not ok:
        return
    ref_path = os.path.join(inputs, f"match_digest-{_program_hash()}.json")
    ref = _load(ref_path, None)
    if ref is None:
        ref = ok[0]["match_digest"]
        _dump(ref_path, ref)
    for r in ok:
        if r["match_digest"] != ref:
            r["ok"] = False
            r["error"] = f"match state {r['match_digest']} differs from {ref}"


def _load(path: str, default):
    try:
        with open(path, encoding="utf8") as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def _dump(path: str, value) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf8") as f:
        json.dump(value, f, indent=1)


def _print_trace_report(workload: str, layers: dict, untraced_e2e: float) -> None:
    e2e = layers["e2e_traced_s"]
    print(f"# traced run: {workload}  e2e_s(traced)={e2e:.2f}  "
          f"e2e_s(untraced job of this run)={untraced_e2e:.2f}")
    print(f"# {'layer':<12}{'self_s':>9}{'share':>8}{'task_s':>9}{'slot_util':>10}  (share base: traced e2e_s; slot_util base: self_s x cores)")
    for layer in ("extract", "kgbuild", "seed", "embed", "paris", "checkpoint", "matching", "io"):
        print(f"# {layer:<12}{layers[layer + '.s']:>9.2f}{layers[layer + '.share']:>8.1%}"
              f"{layers[layer + '.task_s']:>9.2f}{layers[layer + '.slot_util']:>10.2f}")
    print(f"# {'unattributed':<12}{layers['unattributed.s']:>9.2f}{layers['unattributed.s'] / e2e:>8.1%}")
    print(f"# config.s={layers['config.s']:.2f} (inside setup_s)  "
          f"trace.overhead_s={layers['trace.overhead_s']:.2f} (traced minus untraced e2e_s)")


def main() -> int:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, "prase_spark", "pipeline.py")):
        print("perfbench: run from the repository root (prase_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf8") as f:
        spec = json.load(f)
    started = time.time()
    inputs = gen.ensure_inputs(args.workload, args.seed, os.path.join(WORK, "inputs"))

    results: list[dict] = []

    def remaining() -> float:
        return RUN_BUDGET_S - (time.time() - started)

    measure_start = time.time()
    if args.trace:
        results.append(run_job(args.workload, inputs, True, remaining(), 0))
        results.append(run_job(args.workload, inputs, False, remaining(), 1))
    else:
        results.append(run_job(args.workload, inputs, False, remaining(), 0))
        while (time.time() - measure_start < args.seconds
               and remaining() > 1.3 * results[-1]["wall_s"]):
            results.append(run_job(args.workload, inputs, False, remaining(), len(results)))
    _check_determinism(inputs, results)

    failed = [r for r in results if not r.get("ok")]
    for r in failed:
        print(f"perfbench: job failed: {r.get('error') or r.get('checks')}", file=sys.stderr)
    good = [r for r in results if r.get("ok") and "trace" not in r]
    metrics = {}
    if args.trace == 0:
        for m in spec["end_to_end"]:
            name = m["name"]
            if name == "completed_run_share":
                value = (len(results) - len(failed)) / len(results)
            elif good:
                value = statistics.median(r["metrics"][name] for r in good)
            else:
                continue
            metrics[name] = {"value": value, "unit": m["unit"]}
    else:
        traced = [r for r in results if r.get("ok") and "trace" in r]
        if traced and good:
            base = good[0]["metrics"]["e2e_s"]
            layers = dict(traced[0]["trace"])
            layers["trace.overhead_s"] = layers["e2e_traced_s"] - base
            _print_trace_report(args.workload, layers, base)
            _dump(os.path.join(WORK, "reports", f"{args.workload}-{args.seed}-trace.json"), layers)
            for m in spec["per_layer"]:
                metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
    for r in results:
        if r.get("ok"):
            print(f"# job: trace={'trace' in r} wall_s={r['wall_s']:.1f} "
                  + " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items())
                  + f" rss_by_process={r.get('rss_by_process')}")
    print(json.dumps({
        "correct": not failed and bool(metrics),
        "attempted": len(results),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
