"""End-to-end and per-layer benchmark of the ``blink`` pipeline
(``python -m dblink_spark <conf>``: sample, summarize, evaluate).

    python3 perfbench/run.py --workload demo500 [--seed 319] [--seconds 50] [--trace 0|1]

Run from the repository root. The load is a closed loop with one client:
each pipeline is a fresh Python process on ``local[nproc/2]`` that pays the
session start-up as a CLI user does, and the next starts only after the
previous one has exited. Pipelines are started until ``--seconds`` would
be exceeded (at least one); each metric is the median over them.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs an
untraced pipeline and then a traced one, and reports the per-layer
metrics of the traced run plus ``trace.overhead_ratio``.

Every output of every pipeline is checked (``quality.check_invariants``,
the prefix-scan F1 against ``evaluate``, and at the default seed the
pinned F1/ARI). The last stdout line is the result object; the line
before it carries per-pipeline details and the host fingerprint. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import csv
import ctypes
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 319  # make_demo_data's default: the seed the demo500 pins hold at
RUN_LIMIT_S = 170.0  # one invocation must exit well within 180 s
PR_SET_CHILD_SUBREAPER = 36
F1_SHARE = 0.99  # time_to_f1_s: first sample whose prefix sMPC F1 >= this x full-chain F1

#: the reported end-to-end metrics. Each pipeline's details also carry
#: the wall-clock ``total_s``, ``time_to_f1_s``, ``iters_per_s``,
#: ``analyze_s``, ``ess_per_s`` and ``peak_rss_mb``, which are not
#: reported: on a shared 4-vCPU host their IQR/median over ten seeds moved
#: with the load other tenants put on the host, up to 0.45 (see README.md).
#: CPU seconds do not count the time the host gives to others.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "f1": "ratio",
    "ari": "ratio",
}


@dataclass
class Workload:
    name: str
    #: records in the generated CSV
    records: int
    #: KD-tree levels (partitions = 2**levels)
    levels: int
    burnin: int
    samples: int
    thinning: int
    #: exact quality at DEFAULT_SEED (precision, recall, f1, ari)
    pins: dict[str, float]


#: ``demo500`` runs the shipped config unchanged
DEMO_CONF = "examples/demo500.conf"

WORKLOADS = {
    "demo500": Workload(
        "demo500", 500, 0, 400, 60, 10,
        {"precision": 1.0, "recall": 0.8148148148148148,
         "f1": 0.8979591836734693, "ari": 0.8979195054181626},
    ),
    "synth10k_dist": Workload(
        "synth10k_dist", 10000, 2, 1, 4, 1,
        {"f1": 0.23289902280130292, "ari": 0.23289457264506572},
    ),
}


def _rldata_conf(w: Workload, seed: int) -> dict:
    """RLdata10000-shape config: Levenshtein names, constant dates,
    Beta(10, 1000) distortion priors, PCG-I, KD-tree on the names."""
    def attr(name: str) -> dict:
        sim = ({"name": "LevenshteinSimilarityFn", "parameters": {"threshold": 7.0, "maxSimilarity": 10.0}}
               if name in ("fname", "lname") else {"name": "ConstantSimilarityFn"})
        return {"name": name, "similarityFunction": sim, "distortionPrior": {"alpha": 10.0, "beta": 1000.0}}

    cutoff = {"lowerIterationCutoff": w.burnin}
    return {"dblink": {
        "data": {"recordIdentifier": "rec_id", "entityIdentifier": "ent_id", "nullValue": "NA",
                 "matchingAttributes": [attr(a) for a in ("fname", "lname", "by", "bm", "bd")]},
        "randomSeed": seed,
        "expectedMaxClusterSize": 10,
        "partitioner": {"name": "KDTreePartitioner",
                        "parameters": {"numLevels": w.levels, "matchingAttributes": ["fname", "lname"]}},
        "steps": [
            {"name": "sample", "parameters": {
                "sampleSize": w.samples, "burninInterval": w.burnin,
                "thinningInterval": w.thinning, "sampler": "PCG-I",
                # route the chain to the distributed applyInArrow path
                "localExecMaxRecords": 0}},
            {"name": "summarize", "parameters": {**cutoff, "quantities": [
                "cluster-size-distribution", "partition-sizes", "shared-most-probable-clusters"]}},
            {"name": "evaluate", "parameters": {
                **cutoff, "metrics": ["pairwise", "cluster"], "useExistingSMPC": True}},
        ],
    }}


def make_inputs(w: Workload, seed: int, work: str) -> tuple[str, str]:
    """Write the workload's CSV and config under ``work``; returns their
    paths. The program sees nothing else."""
    csv_path = os.path.join(work, f"{w.name}.csv")
    if w.name == "demo500":
        sys.path.insert(0, os.path.join(ROOT, "examples"))
        from make_demo_data import make_demo
        from dblink_spark.config import load_config

        data = make_demo(w.records, w.records // 10, seed=seed)
        cfg = load_config(os.path.join(ROOT, DEMO_CONF))
    else:
        from dblink_spark.er.datagen import make_rldata

        data = make_rldata(w.records, 0.1, 0.02, seed=seed)
        cfg = _rldata_conf(w, seed)
    data.to_csv(csv_path, index=False, na_rep="NA")
    d = cfg["dblink"]
    d["data"]["path"] = csv_path
    # relative: each pipeline runs in its own directory
    d["outputPath"] = "out/"
    d["checkpointPath"] = "out/ckpt"
    sample = next(s["parameters"] for s in d["steps"] if s["name"] == "sample")
    shape = (sample["burninInterval"], sample["sampleSize"], sample["thinningInterval"])
    if shape != (w.burnin, w.samples, w.thinning):
        raise ValueError(f"{DEMO_CONF} no longer has the chain shape {w.name} expects")
    conf = os.path.join(work, f"{w.name}.conf")
    with open(conf, "w") as f:
        json.dump(cfg, f, indent=1)
    return csv_path, conf


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pipeline_cpus() -> int:
    """Cores a pipeline's Spark uses: half of those available. The JVM's
    own threads (JIT compilers, GC), the Python driver and the Python
    workers run beside the task threads; ``local[nproc]`` oversubscribed
    the host and measured its scheduler (README.md, "Load")."""
    return max(1, cpus() // 2)


def fingerprint() -> dict:
    import numpy
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_available": cpus(),
        "SPARK_GRAFT_CPUS": str(pipeline_cpus()),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
    }


def _become_subreaper() -> None:
    """Adopt orphaned descendants, so that processes a pipeline leaves
    behind (the JVM, Spark's Python daemons, which start their own
    sessions) become our children and can be killed and reaped."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            if ppid == me:
                kids.append(int(pid))
    return kids


def _reap_children() -> None:
    """Kill every remaining child and wait until each has ended. Killing
    one re-parents its own children to us, so repeat until none remain."""
    while kids := _children():
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def _host_steal_s() -> float:
    """Seconds the hypervisor ran other tenants on this host's vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


@dataclass
class Pipeline:
    #: what the worker recorded, or None if it failed
    record: dict | None
    #: wall-clock time the process was spawned
    t0: float
    #: CPU seconds of every process of the pipeline, from spawn to exit
    cpu_s: float
    #: host-wide steal seconds while it ran (details only)
    steal_s: float
    error: str = ""


def run_pipeline(conf: str, work: str, timeout: float, eventlog: str | None) -> Pipeline:
    """Spawn one pipeline process and wait until it and every process it
    started have ended."""
    record = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "SPARK_GRAFT_CPUS": str(pipeline_cpus()),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # the JVM sizes its GC and JIT thread pools to the same cores
        "SPARK_SUBMIT_OPTS": (f"{env.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                              f" -XX:ActiveProcessorCount={pipeline_cpus()}").strip(),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), conf, record]
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        cmd += ["--trace", eventlog]
    with open(os.path.join(work, "stdout.log"), "w") as out, open(os.path.join(work, "stderr.log"), "w") as err:
        c0, steal0 = os.times(), _host_steal_s()
        t0 = time.time()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=err,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap_children()
        # every descendant has been reaped by us (we are their subreaper),
        # so the children's CPU times now hold the whole pipeline
        c1 = os.times()
        p = Pipeline(None, t0, c1.children_user + c1.children_system - c0.children_user - c0.children_system,
                     _host_steal_s() - steal0)
    if rc is None:
        p.error = f"timed out after {timeout:.0f} s"
    elif rc != 0 or not os.path.exists(record):
        with open(os.path.join(work, "stderr.log")) as f:
            tail = f.read()[-400:].replace("\n", " | ")
        p.error = f"exit code {rc}: {tail}"
    else:
        with open(record) as f:
            p.record = json.load(f)
    return p


def evaluate_run(w: Workload, seed: int, p: Pipeline, csv_path: str, out: str) -> tuple[dict, list[str]]:
    """End-to-end metrics of one pipeline run, and every failed check."""
    rec, t0 = p.record, p.t0
    from quality import check_invariants, ess, first_reaching, prefix_smpc_f1, read_chain, read_truth

    res = rec["results"]
    truth = read_truth(csv_path)
    samples = read_chain(out, cutoff=w.burnin)
    with open(os.path.join(out, "diagnostics.csv"), newline="") as f:
        diag = [r for r in csv.DictReader(f) if int(r["iteration"]) >= w.burnin]
    problems = check_invariants(
        samples, set(truth), diag,
        {"burnin": w.burnin, "samples": w.samples, "thinning": w.thinning, "partitions": 2 ** w.levels},
        res["sample"]["iteration"], res["sample"]["num_partitions"],
    )
    ev = res["evaluate"]
    quality = {**ev["pairwise"], "ari": ev["cluster"]["adjusted_rand_index"]}
    f1s = prefix_smpc_f1(samples, truth)
    if not f1s or not (f1s[-1] == quality["f1"] or math.isnan(f1s[-1]) and math.isnan(quality["f1"])):
        problems.append(f"prefix-scan F1 {f1s[-1] if f1s else None} != evaluate F1 {quality['f1']}")
    if seed == DEFAULT_SEED:
        for k, v in w.pins.items():
            if quality[k] != v:
                problems.append(f"{k} {quality[k]} != pinned {v}")
    if rec["first_transition"] is None or rec["sample_end"] is None:
        problems.append("no transition or sample() return was observed")
        return {}, problems
    loop_s = rec["sample_end"] - rec["first_transition"]
    times = dict((it, t) for it, t in rec["sample_times"])
    k = first_reaching(f1s, F1_SHARE * f1s[-1]) if f1s else None
    if k is None or samples[k][0] not in times:
        problems.append("no saved sample reached the F1 target")
        time_to_f1 = float("nan")
    else:
        time_to_f1 = times[samples[k][0]] - t0
    chain_ess = min(ess([float(r["logLikelihood"]) for r in diag]), ess([float(r["numIsolates"]) for r in diag]))
    timings = res["timings"]
    metrics = {
        "setup_s": rec["setup_cpu_s"],
        "setup_wall_s": rec["first_transition"] - t0,
        "iters_per_s": res["sample"]["iteration"] / loop_s,
        "analyze_s": timings["summarize"] + timings["evaluate"],
        "total_s": rec["run_end"] - t0,
        "cpu_s": p.cpu_s,
        "time_to_f1_s": time_to_f1,
        "ess_per_s": chain_ess / loop_s,
        "f1": quality["f1"],
        "ari": quality["ari"],
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    return metrics, problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=50.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "dblink_spark")):
        print(f"perfbench: no dblink_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    w = WORKLOADS[args.workload]
    if not os.path.exists(os.path.join(ROOT, DEMO_CONF)):
        print(f"perfbench: {DEMO_CONF} is missing; run from a full checkout", file=sys.stderr)
        return 2

    from layers import PER_LAYER_UNITS, per_layer, read_eventlog

    _become_subreaper()
    scratch_parent = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(scratch_parent, exist_ok=True)
    runs: list[dict] = []
    try:
        with tempfile.TemporaryDirectory(dir=scratch_parent) as work:
            csv_path, conf = make_inputs(w, args.seed, work)
            # closed loop, one client: untraced pipelines, or (untraced,
            # traced) pairs, while another round fits in --seconds
            plan = [False, True] if args.trace else [False]
            longest = 0.0
            while not runs or time.time() - start + len(plan) * longest <= min(args.seconds, RUN_LIMIT_S):
                for traced in plan:
                    remaining = RUN_LIMIT_S - (time.time() - start)
                    if remaining < 1:
                        runs.append({"traced": traced, "problems": ["no time left in this invocation"]})
                        continue
                    pdir = tempfile.mkdtemp(dir=work)
                    eventlog = os.path.join(pdir, "eventlog") if traced else None
                    p = run_pipeline(conf, pdir, remaining, eventlog)
                    longest = max(longest, time.time() - p.t0)
                    entry = {"traced": traced, "problems": [p.error] if p.error else [],
                             "host_steal_s": p.steal_s}
                    if p.record is not None:
                        out = os.path.join(pdir, "out")
                        try:
                            entry["metrics"], entry["problems"] = evaluate_run(w, args.seed, p, csv_path, out)
                            if traced:
                                entry["layers"] = per_layer(p.record, read_eventlog(eventlog), out)
                        except Exception:  # noqa: BLE001 — a broken output fails this run, not the benchmark
                            entry["problems"].append(f"checking outputs failed: {traceback.format_exc(limit=3)}")
                    runs.append(entry)
                    shutil.rmtree(pdir, ignore_errors=True)
    finally:
        try:
            os.rmdir(scratch_parent)
        except OSError:
            pass

    # tracing must not change the chain
    plain_quality = {(r["metrics"]["f1"], r["metrics"]["ari"]) for r in runs if not r["traced"] and r.get("metrics")}
    for r in runs:
        if r["traced"] and r.get("metrics") and (r["metrics"]["f1"], r["metrics"]["ari"]) not in plain_quality:
            r["problems"].append("traced pipeline's F1/ARI differ from the untraced pipeline's")
    ok = [r for r in runs if not r["problems"]]
    plain = [r for r in ok if not r["traced"]]
    traced = [r for r in ok if r["traced"]]
    metrics = {}
    if args.trace and plain and traced:
        layer = {k: statistics.median(r["layers"][k] for r in traced) for k in PER_LAYER_UNITS if k in traced[0]["layers"]}
        layer["trace.overhead_ratio"] = (
            statistics.median(r["metrics"]["total_s"] for r in traced)
            / statistics.median(r["metrics"]["total_s"] for r in plain)
        )
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layer.items()}
    elif not args.trace and plain:
        metrics = {k: {"value": statistics.median(r["metrics"][k] for r in plain), "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    detail = {
        "workload": w.name, "seed": args.seed, "fingerprint": fingerprint(),
        "elapsed_s": time.time() - start, "pipelines": runs,
    }
    if not metrics:
        detail[f"{w.name}_skipped"] = "; ".join(p for r in runs for p in r["problems"]) or "no pipeline ran"
    print(json.dumps(detail, default=str))
    failed = len(runs) - len(ok)
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": len(runs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
