"""Hooks around the program's public entry points, and the per-layer
metrics computed from what they record.

Two hook sets, both installed from outside the program by rebinding module
attributes (the program itself is not modified):

- ``install_timing`` (every run): timestamps only — first transition,
  each saved sample, ``sample()`` return, ``Project.run`` return — plus
  the CPU seconds of the process tree at the first transition, and the
  peak RSS read once the results are written.
- ``install_tracing`` (traced runs): a span around each public entry
  point of the layers in ``SPANS``, a py4j call counter, accumulated
  kernel-phase seconds for ``er.model``, and a Spark event log. Spark job,
  stage, task and shuffle counts are read afterwards from the event log
  and attributed to the innermost span whose window holds them, so the
  traced run adds no py4j round trip of its own.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

#: span name -> (module, attribute) entry points it wraps. A dotted
#: attribute is a method on a class.
SPANS: dict[str, list[tuple[str, str]]] = {
    "session.start": [("dblink_spark.session", "get_spark")],
    "sources.records_csv.read": [("dblink_spark.sources.records_csv", "read_records_csv")],
    "er.cache.build": [("dblink_spark.er.cache", "build_records_cache")],
    "er.state.init": [("dblink_spark.er.state", "init_state")],
    "er.state.assign": [("dblink_spark.er.state", "assign_partitions")],
    "er.partition.fit": [("dblink_spark.er.partition", "KDTreePartitioner.fit")],
    "er.sampler.sample": [("dblink_spark.er.sampler", "sample")],
    "er.state.transition": [
        ("dblink_spark.er.state", "transition"),
        ("dblink_spark.er.state", "transition_fused"),
        ("dblink_spark.er.state", "transition_local"),
        ("dblink_spark.er.state", "transition_multisweep"),
    ],
    "er.sampler.sample_build": [
        ("dblink_spark.er.sampler", "linkage_sample"),
        ("dblink_spark.er.sampler", "linkage_sample_local"),
    ],
    "er.sampler.diag_write": [("dblink_spark.er.sampler", "DiagnosticsWriter.write")],
    "sources.chain.append": [("dblink_spark.sources.chain", "BufferedChainWriter.append")],
    "sources.chain.flush": [("dblink_spark.sources.chain", "BufferedChainWriter.flush")],
    "sources.state_io.save": [("dblink_spark.sources.state_io", "save_state")],
    "er.chain.read": [("dblink_spark.sources.chain", "read_linkage_chain")],
    "er.chain.mpc": [("dblink_spark.er.chain", "most_probable_clusters")],
    "er.chain.smpc": [("dblink_spark.er.chain", "shared_most_probable_clusters")],
    "er.chain.summaries": [
        ("dblink_spark.er.chain", "cluster_size_distribution"),
        ("dblink_spark.er.chain", "partition_sizes"),
        ("dblink_spark.er.chain", "save_cluster_size_distribution"),
        ("dblink_spark.er.chain", "save_partition_sizes"),
    ],
    "er.metrics.pairwise": [("dblink_spark.er.metrics", "evaluate_pairwise")],
    "er.metrics.ari": [("dblink_spark.er.metrics", "evaluate_clustering")],
}

#: er.model kernel phase -> functions; timestamps only (they run per sweep)
KERNEL_PHASES: dict[str, list[str]] = {
    "links": ["update_links_indexed", "update_links_dense"],
    "values": ["update_entity_values"],
    "distortions": ["update_distortions"],
    "summary": ["partition_summary"],
}

TRANSITIONS = [attr for _, attr in SPANS["er.state.transition"]]

#: every per-layer metric, with its unit (the traced run reports all of
#: them; a layer that does not run on a workload reads 0)
PER_LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "sources.records_csv.read_s": "s",
    "sources.records_csv.jobs": "count",
    "er.cache.build_s": "s",
    "er.cache.jobs": "count",
    "er.cache.tasks": "count",
    "er.state.init_s": "s",
    "er.state.init_jobs": "count",
    "er.state.assign_s": "s",
    "er.state.assign_jobs": "count",
    "er.partition.fit_s": "s",
    "er.state.transition_calls": "count",
    "er.state.ms_per_iter": "ms",
    "er.state.plan_s": "s",
    "er.state.job_s": "s",
    "er.state.jobs_per_iter": "count",
    "er.state.stages_per_iter": "count",
    "er.state.tasks_per_iter": "count",
    "er.state.shuffle_write_bytes_per_iter": "bytes",
    "er.state.shuffle_read_bytes_per_iter": "bytes",
    "er.state.py4j_calls_per_iter": "count",
    "er.model.links_s": "s",
    "er.model.values_s": "s",
    "er.model.distortions_s": "s",
    "er.model.summary_s": "s",
    "er.model.sweeps": "count",
    "er.model.records_per_sweep": "count",
    "er.sampler.loop_self_s": "s",
    "er.sampler.sample_build_s": "s",
    "er.sampler.diag_write_s": "s",
    "sources.chain.append_s": "s",
    "sources.chain.flush_s": "s",
    "sources.chain.flushes": "count",
    "sources.chain.bytes_written": "bytes",
    "sources.chain.jobs": "count",
    "sources.state_io.save_s": "s",
    "sources.state_io.bytes": "bytes",
    "er.chain.read_s": "s",
    "er.chain.mpc_s": "s",
    "er.chain.smpc_s": "s",
    "er.chain.summaries_s": "s",
    "er.chain.jobs": "count",
    "er.metrics.pairwise_s": "s",
    "er.metrics.ari_s": "s",
    "er.metrics.jobs": "count",
    "host.empty_jvm_job_ms": "ms",
    "host.empty_python_job_ms": "ms",
    "trace.overhead_ratio": "ratio",
}


def _resolve(module: str, attr: str):
    mod = importlib.import_module(module)
    owner, _, name = attr.rpartition(".")
    return (getattr(mod, owner) if owner else mod), name


def rebind(module: str, attr: str, make_wrapper) -> None:
    """Replace ``module.attr`` with ``make_wrapper(original)`` — on the
    class for a method, otherwise in every loaded ``dblink_spark`` module
    that imported the same function by name."""
    owner, name = _resolve(module, attr)
    orig = getattr(owner, name)
    wrapped = make_wrapper(orig)
    if isinstance(owner, type):
        setattr(owner, name, wrapped)
        return
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("dblink_spark") and mod.__dict__.get(name) is orig:
            setattr(mod, name, wrapped)


def _peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child (the py4j gateway)."""
    def hwm_kb(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    me = os.getpid()
    total = hwm_kb("self")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            total += hwm_kb(pid)
    return total / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the JVM, Spark's Python daemon and workers. A live
    process's ``cutime``/``cstime`` hold the descendants it has already
    reaped, such as the launcher JVM ``spark-submit`` starts first."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[1] is ppid; fields[11:15] are utime, stime, cutime, cstime
            stats[int(pid)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(c for c, (ppid, _) in stats.items() if ppid == pid)
    return ticks / os.sysconf("SC_CLK_TCK")


class Recorder:
    """Everything one pipeline process records; dumped as JSON at exit."""

    def __init__(self):
        self.first_transition: float | None = None
        self.setup_cpu_s: float | None = None
        self.sample_end: float | None = None
        self.run_end: float | None = None
        self.sample_times: list[tuple[int, float]] = []
        self.results: dict = {}
        self.peak_rss_mb = 0.0
        # traced runs only
        self.spans: list[list] = []  # [name, t0, t1, parent, py4j0, py4j1, extra]
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.kernel_s = {k: 0.0 for k in KERNEL_PHASES}
        self.sweeps = 0
        self.sweep_records = 0
        self.phases = {"plan": 0.0, "job": 0.0}
        self.host: dict[str, float] = {}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({k: v for k, v in vars(self).items() if not k.startswith("_")}, f, default=str)


def install_timing(rec: Recorder, on_run_end=None) -> None:
    def first_transition(orig):
        def wrapper(*a, **kw):
            if rec.first_transition is None:
                rec.first_transition = time.time()
                rec.setup_cpu_s = tree_cpu_s()
            return orig(*a, **kw)
        return wrapper

    for name in TRANSITIONS:
        rebind("dblink_spark.er.state", name, first_transition)

    def diag_write(orig):
        def wrapper(self, state):
            out = orig(self, state)
            rec.sample_times.append((state.iteration, time.time()))
            return out
        return wrapper

    rebind("dblink_spark.er.sampler", "DiagnosticsWriter.write", diag_write)

    def sample(orig):
        def wrapper(*a, **kw):
            out = orig(*a, **kw)
            rec.sample_end = time.time()
            return out
        return wrapper

    rebind("dblink_spark.er.sampler", "sample", sample)

    def run(orig):
        def wrapper(self):
            out = orig(self)
            rec.run_end = time.time()
            rec.results = out
            rec.peak_rss_mb = _peak_rss_mb()
            if on_run_end is not None:
                on_run_end(self.spark)
            return out
        return wrapper

    rebind("dblink_spark.project", "Project.run", run)


def install_tracing(rec: Recorder, eventlog_dir: str) -> None:
    """Spans, py4j counting, kernel-phase clocks and the event log. Install
    before ``install_timing`` so the timing hooks stay outermost."""
    import py4j.clientserver
    import py4j.java_gateway

    for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        orig_send = cls.send_command

        def send(self, *a, _orig=orig_send, **kw):
            rec.py4j_calls += 1
            return _orig(self, *a, **kw)

        cls.send_command = send

    def span(name):
        def make(orig):
            def wrapper(*a, **kw):
                idx = len(rec.spans)
                extra = {}
                if name == "er.state.transition":
                    extra["it0"] = a[0].iteration
                    if orig.__name__ in ("transition", "transition_multisweep") and kw.get("phase_sink") is None:
                        kw["phase_sink"] = sink = {}
                        extra["sink"] = sink
                elif name == "sources.chain.flush":
                    extra["buffered"] = len(a[0]._buffer)
                rec.spans.append([name, time.time(), None, rec._stack[-1] if rec._stack else -1,
                                  rec.py4j_calls, None, extra])
                rec._stack.append(idx)
                try:
                    out = orig(*a, **kw)
                    if name == "er.state.transition":
                        extra["iters"] = out.iteration - extra.pop("it0")
                    return out
                finally:
                    rec._stack.pop()
                    s = rec.spans[idx]
                    s[2], s[5] = time.time(), rec.py4j_calls
                    sink = extra.pop("sink", None)
                    if sink:
                        for k in rec.phases:
                            rec.phases[k] += sink.get(k, 0.0)
            return wrapper
        return make

    for name, targets in SPANS.items():
        for module, attr in targets:
            rebind(module, attr, span(name))

    def session(orig):
        def wrapper(*a, **kw):
            kw["extra_conf"] = {
                **(kw.get("extra_conf") or {}),
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(eventlog_dir),
                "spark.eventLog.compress": "false",
            }
            return orig(*a, **kw)
        return wrapper

    rebind("dblink_spark.session", "get_spark", session)

    def kernel(phase):
        def make(orig):
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    rec.kernel_s[phase] += time.perf_counter() - t0
            return wrapper
        return make

    for phase, fns in KERNEL_PHASES.items():
        for fn in fns:
            rebind("dblink_spark.er.model", fn, kernel(phase))

    def sweep(orig):
        def wrapper(rng, ps, *a, **kw):
            rec.sweeps += 1
            rec.sweep_records += ps.rec_ids.shape[0]
            return orig(rng, ps, *a, **kw)
        return wrapper

    rebind("dblink_spark.er.model", "transition_partition", sweep)


def host_floor(spark, repeats: int = 5) -> dict[str, float]:
    """Median wall ms of an empty JVM job and an empty Python-worker job."""
    def median_ms(fn) -> float:
        fn()  # warm
        ts = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn()
            ts.append((time.perf_counter() - t0) * 1000.0)
        return sorted(ts)[len(ts) // 2]

    sc = spark.sparkContext
    return {
        "host.empty_jvm_job_ms": median_ms(lambda: spark.range(0, 1, 1, 1).count()),
        "host.empty_python_job_ms": median_ms(lambda: sc.parallelize([0], 1).map(lambda x: x).count()),
    }


# -- after the run -------------------------------------------------------------

def read_eventlog(eventlog_dir: str) -> dict[str, list]:
    """Job submissions, stage submissions and finished tasks (with shuffle
    bytes) from the Spark event log, timestamps in epoch seconds."""
    out: dict[str, list] = {"jobs": [], "stages": [], "tasks": []}
    paths = sorted(os.path.join(root, fn) for root, _, files in os.walk(eventlog_dir)
                   for fn in files if not fn.startswith("."))
    for path in paths:
        with open(path) as f:
            for line in f:
                head = line[:48]
                if "SparkListenerJobStart" in head:
                    out["jobs"].append(json.loads(line)["Submission Time"] / 1000.0)
                elif "SparkListenerStageSubmitted" in head:
                    info = json.loads(line)["Stage Info"]
                    out["stages"].append(info.get("Submission Time", 0) / 1000.0)
                elif "SparkListenerTaskEnd" in head:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    out["tasks"].append((
                        ev["Task Info"]["Launch Time"] / 1000.0,
                        wr.get("Shuffle Bytes Written", 0),
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    ))
    return out


def _innermost(spans: list[list], t: float) -> int:
    """Index of the innermost span whose window holds ``t`` (-1 if none):
    spans nest, so it is the latest-starting one that holds it."""
    hit = -1
    for i, s in enumerate(spans):
        if s[1] <= t <= s[2]:
            hit = i
    return hit


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def per_layer(rec: dict, events: dict[str, list], output_path: str) -> dict[str, float]:
    """Per-layer metrics of one traced pipeline run."""
    spans = rec["spans"]
    n = len(spans)
    jobs, stages, tasks = [0] * n, [0] * n, [0] * n
    sh_w, sh_r = [0] * n, [0] * n
    for t in events["jobs"]:
        i = _innermost(spans, t)
        if i >= 0:
            jobs[i] += 1
    for t in events["stages"]:
        i = _innermost(spans, t)
        if i >= 0:
            stages[i] += 1
    for t, w, r in events["tasks"]:
        i = _innermost(spans, t)
        if i >= 0:
            tasks[i] += 1
            sh_w[i] += w
            sh_r[i] += r
    child_s = [0.0] * n
    for s in spans:
        if s[3] >= 0:
            child_s[s[3]] += s[2] - s[1]

    def idx(*names):
        return [i for i, s in enumerate(spans) if s[0] in names]

    def secs(*names):
        return sum(spans[i][2] - spans[i][1] for i in idx(*names))

    def total(arr, *names):
        return sum(arr[i] for i in idx(*names))

    trans = idx("er.state.transition")
    iters = sum(spans[i][6].get("iters", 0) for i in trans) or 1
    appends = idx("sources.chain.append")
    m = {
        "session.start_s": secs("session.start"),
        "sources.records_csv.read_s": secs("sources.records_csv.read"),
        "sources.records_csv.jobs": total(jobs, "sources.records_csv.read"),
        "er.cache.build_s": secs("er.cache.build"),
        "er.cache.jobs": total(jobs, "er.cache.build"),
        "er.cache.tasks": total(tasks, "er.cache.build"),
        "er.state.init_s": secs("er.state.init"),
        "er.state.init_jobs": total(jobs, "er.state.init"),
        "er.state.assign_s": secs("er.state.assign"),
        "er.state.assign_jobs": total(jobs, "er.state.assign"),
        "er.partition.fit_s": secs("er.partition.fit"),
        "er.state.transition_calls": len(trans),
        "er.state.ms_per_iter": 1000.0 * secs("er.state.transition") / iters,
        "er.state.plan_s": rec["phases"]["plan"],
        "er.state.job_s": rec["phases"]["job"],
        "er.state.jobs_per_iter": total(jobs, "er.state.transition") / iters,
        "er.state.stages_per_iter": total(stages, "er.state.transition") / iters,
        "er.state.tasks_per_iter": total(tasks, "er.state.transition") / iters,
        "er.state.shuffle_write_bytes_per_iter": total(sh_w, "er.state.transition") / iters,
        "er.state.shuffle_read_bytes_per_iter": total(sh_r, "er.state.transition") / iters,
        "er.state.py4j_calls_per_iter": sum(spans[i][5] - spans[i][4] for i in trans) / iters,
        "er.model.links_s": rec["kernel_s"]["links"],
        "er.model.values_s": rec["kernel_s"]["values"],
        "er.model.distortions_s": rec["kernel_s"]["distortions"],
        "er.model.summary_s": rec["kernel_s"]["summary"],
        "er.model.sweeps": rec["sweeps"],
        "er.model.records_per_sweep": rec["sweep_records"] / rec["sweeps"] if rec["sweeps"] else 0.0,
        "er.sampler.loop_self_s": sum(spans[i][2] - spans[i][1] - child_s[i] for i in idx("er.sampler.sample")),
        "er.sampler.sample_build_s": secs("er.sampler.sample_build"),
        "er.sampler.diag_write_s": secs("er.sampler.diag_write"),
        "sources.chain.append_s": sum(spans[i][2] - spans[i][1] - child_s[i] for i in appends),
        "sources.chain.flush_s": secs("sources.chain.flush"),
        "sources.chain.flushes": sum(1 for i in idx("sources.chain.flush") if spans[i][6]["buffered"]),
        "sources.chain.bytes_written": dir_bytes(os.path.join(output_path, "linkage-chain.parquet")),
        "sources.chain.jobs": total(jobs, "sources.chain.append", "sources.chain.flush"),
        "sources.state_io.save_s": secs("sources.state_io.save"),
        "sources.state_io.bytes": dir_bytes(os.path.join(output_path, "final-state")),
        "er.chain.read_s": secs("er.chain.read"),
        "er.chain.mpc_s": secs("er.chain.mpc"),
        "er.chain.smpc_s": secs("er.chain.smpc"),
        "er.chain.summaries_s": secs("er.chain.summaries"),
        "er.chain.jobs": total(jobs, "er.chain.read", "er.chain.mpc", "er.chain.smpc", "er.chain.summaries"),
        "er.metrics.pairwise_s": secs("er.metrics.pairwise"),
        "er.metrics.ari_s": secs("er.metrics.ari"),
        "er.metrics.jobs": total(jobs, "er.metrics.pairwise", "er.metrics.ari"),
    }
    m.update(rec["host"])
    return m
