"""Benchmark of the datafusion-orc-spark engine: one workload per run.

    python3 perfbench/run.py --workload blob|orc --seed N --seconds S --trace 0|1

One client drives the engine's public entry points in a closed loop on
``local[nproc]`` from this process: each op starts when the previous one
has finished. The op roles (write, scan, narrow, query) and their checks
are in ``workloads.py``; inputs are generated from ``--seed`` by
``inputs.py``.

A run starts the session and writes the seeded inputs, lets the program
materialize what the scans read ``SETUPS`` times and reports the median
wall as ``setup_s``, runs ``WARMUP_CYCLES`` checked cycles, then
measures whole cycles for ``--seconds``. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics from spans (``spans.py``) recorded around
the same calls, alternating traced and untraced cycles, plus an
in-process replay of the in-task pipeline. Every op's output is checked;
``failed`` counts ops that raised or returned a wrong result.

The end-to-end time metrics (``*_vs_ref``) divide the median wall of an
op role by the median wall of the workload's reference job, which runs
at the start of every measured cycle of an untraced run: the ops' Spark
path with ORC C++ writing a fixed sample of the same input in place of
the engine (``workloads.py``). The host's pace changes between runs, and
the engine's walls and the reference's change with it; their ratio
changes much less. The absolute walls and throughputs are printed on the lines
before the result.

Reads and writes stay inside the checkout: ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
# warm-up cycles before measuring: Python workers fault their memory in
# over their first ops, and walls drift down until they have
WARMUP_CYCLES = 1
CODEC_FAMILIES = ("runfor", "rlev2", "fsst", "dict", "for_bp", "pfor", "bool", "raw")
# the span each op role is recorded as: the layer entry point it drives
OP_LAYERS = {
    "blob": {
        "write": "operators.encode.encode_files",
        "scan": "operators.encode.decode_table",
        "narrow": "operators.encode.decode_table_projected",
        "query": "plans.queries.roundtrip_lineitem_agg",
    },
    "orc": {
        "write": "sources.orc_sink.write_orc_distributed",
        "scan": "sources.orc_source.read_orc_distributed",
        "narrow": "sources.orc_source.read_orc_distributed_pruned",
        "query": "plans.queries.orc_pruned_scan",
    },
}
BOUNDARIES = {
    ("blob", "write"): "operators.encode.boundary_s",
    ("blob", "scan"): "operators.encode.decode_boundary_s",
    ("orc", "write"): "sources.orc_sink.boundary_s",
    ("orc", "scan"): "sources.orc_source.boundary_s",
}


def load_conf(nproc: int, tmp: str, trace: bool) -> dict:
    with open(os.path.join(HERE, "spark_conf.json")) as f:
        text = f.read().replace("{nproc}", str(nproc)).replace("{tmp}", tmp)
    conf = json.loads(text)
    if trace:
        conf["conf"].update(conf["trace_conf"])
    return conf


def prepare_env(conf: dict, tmp: str) -> None:
    """Allocator pinning, time zone and scratch directories: set before
    the JVM starts, so the JVM and every Python worker inherit them."""
    os.environ.update(conf["env"])
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(conf["master"])
    for k, v in conf["conf"].items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # Workers import the package through PYTHONPATH (prepare_env). This
    # marks the context as already shipped, so the engine does not zip
    # the package into a directory outside the checkout.
    spark.sparkContext._dos_pyfile_added = True
    return spark


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def peak_rss_mib(pid: int) -> float:
    """Peak RSS (VmHWM) of the driver, the JVM and the Python workers,
    summed over the process tree."""
    total_kib = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
        except OSError:
            continue
    return total_kib / 1024.0


def stop_all(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    pids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and _alive(p):
            if time.monotonic() > deadline:
                os.kill(p, 9)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def spark_tasks(spark, groups: list[str]) -> dict[str, tuple[int, float, float]]:
    """{job group: (tasks, summed task time s, task skew)} from Spark's own
    status REST API. Skew is max / median task time in the group's
    largest stage."""
    from urllib.request import urlopen

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app}"

    def get(path):
        with urlopen(base + path, timeout=10) as r:
            return json.load(r)

    time.sleep(1.0)  # the status store is fed asynchronously
    stage_tasks: dict[int, list[float]] = {}
    for st in get("/stages?status=complete"):
        if st["stageId"] not in stage_tasks:
            tl = get(f"/stages/{st['stageId']}/{st['attemptId']}/taskList?length=100000")
            stage_tasks[st["stageId"]] = [t["duration"] / 1000.0 for t in tl if "duration" in t]
    out = {}
    by_group: dict[str, list[int]] = {}
    for job in get("/jobs"):
        by_group.setdefault(job.get("jobGroup"), []).extend(job["stageIds"])
    for g in groups:
        durs = [stage_tasks.get(s, []) for s in by_group.get(g, [])]
        flat = [d for ds in durs for d in ds]
        if not flat:
            out[g] = (0, 0.0, 0.0)
            continue
        main = max(durs, key=sum)
        skew = max(main) / max(statistics.median(main), 1e-6)
        out[g] = (len(flat), sum(flat), skew)
    return out


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile), or None with fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def codec_family(codec: str) -> str:
    c = codec.removeprefix("arr_")
    return {
        "int_runfor": "runfor", "int_rle2": "rlev2", "int_rle2u": "rlev2",
        "str_fsst": "fsst", "str_dict": "dict", "int_for_bp": "for_bp",
        "int_pfor": "pfor", "bool_rle": "bool",
    }.get(c, "raw")


def instrument(tracer) -> None:
    """Wrap each layer's public functions in place (undone by
    ``tracer.unwrap_all``)."""
    from datafusion_orc_spark.format import orc_reader, orc_writer, stripe
    from datafusion_orc_spark.sources import orc_source

    def enc_name(args, kwargs, res):
        return f"codecs.{codec_family(res[1]['codec'])}.encode"

    def enc_counts(sp, args, kwargs, res):
        sp["counts"].update(bytes_in=res[1]["raw_bytes"], bytes_out=res[1]["enc_bytes"])

    def dec_name(args, kwargs, res):
        return f"codecs.{codec_family(stripe.CODEC_NAMES[args[0][1]])}.decode"

    def stripe_counts(sp, args, kwargs, res):
        sp["counts"].update(blob_bytes=sum(len(b) for b in res[0].values()))

    def split_counts(sp, args, kwargs, res):
        sp["counts"].update(splits=len(res[0]))

    def orc_counts(sp, args, kwargs, res):
        sp["counts"].update(bytes_out=os.path.getsize(args[1]))

    tracer.wrap(stripe, "encode_column", enc_name, enc_counts)
    tracer.wrap(stripe, "decode_column", dec_name)
    tracer.wrap(stripe, "choose_int_codec", "codecs.selector")
    tracer.wrap(stripe, "choose_string_codec", "codecs.selector")
    tracer.wrap(stripe, "encode_stripe", "format.stripe.encode_stripe", stripe_counts)
    tracer.wrap(stripe, "decode_stripe", "format.stripe.decode_stripe")
    tracer.wrap(orc_writer, "write_orc", "format.orc_writer.write_orc", orc_counts)
    tracer.wrap(orc_writer, "compress_stream", "format.orc_writer.compress_stream")
    tracer.wrap(orc_reader.OrcReader, "read", "format.orc_reader.read")
    tracer.wrap(orc_reader, "decompress_stream", "format.orc_reader.decompress_stream")
    tracer.wrap(orc_source, "plan_splits", "sources.orc_source.plan_splits", split_counts)


def per_layer_names() -> list[str]:
    names = []
    for fam in CODEC_FAMILIES:
        names += [f"codecs.{fam}.{k}" for k in ("encode_s", "decode_s", "calls", "bytes_in", "bytes_out")]
    names += ["codecs.selector.s", "codecs.selector.calls"]
    names += [f"format.stripe.{k}" for k in ("encode_stripe_s", "decode_stripe_s", "stripes", "blob_bytes")]
    names += [f"format.orc_writer.{k}" for k in ("write_orc_s", "compress_stream_s", "bytes_out")]
    names += [f"format.orc_reader.{k}" for k in ("read_s", "decompress_stream_s", "stripes_read", "stripes_skipped")]
    for layers in OP_LAYERS.values():
        for layer in layers.values():
            names += [f"{layer}_{k}" for k in ("p50_s", "tasks", "task_time_sum_s", "task_skew")]
    names += list(BOUNDARIES.values())
    names += ["sources.orc_source.plan_splits_s", "sources.orc_source.splits"]
    names += ["spark.noop_job_s", "tracing_overhead_s"]
    return names


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, scale, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.scale, self.work = scale, work
        self.nproc = len(os.sched_getaffinity(0))
        self.tmp = os.path.join(work, "tmp")
        self.conf = load_conf(self.nproc, self.tmp, trace)
        self.attempted = self.failed = 0
        self.ref_walls: list[float] = []
        self.spark = None
        self.wl = None

    def check(self, what: str, fn) -> bool:
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"FAILED: {self.workload} {what}", file=sys.stderr)
        return ok

    def op(self, role: str, gid: str) -> float:
        """Run one checked op; returns its timed wall (the engine call,
        without the output check)."""
        self.spark.sparkContext.setJobGroup(gid, f"perfbench {self.workload} {role}")
        self.check(role, lambda: self.wl.run(role))
        return self.wl.last_wall

    def setup(self, after_setup=None) -> list[float]:
        """Start the session and generate the seeded inputs once, then run
        the program's own input materialization ``SETUPS`` times (the
        first pays the cold JVM and Python workers; the median drops it),
        then ``WARMUP_CYCLES`` warm-up cycles of one reference job and a
        checked op of every role. Returns
        the walls of the program's calls in the materializations, without
        the benchmark's own checks."""
        from workloads import ROLES, WORKLOADS

        os.makedirs(self.tmp, exist_ok=True)
        prepare_env(self.conf, self.tmp)
        self.wl = WORKLOADS[self.workload](self.work, self.seed, self.scale, self.nproc)
        t0 = time.perf_counter()
        self.spark = start_session(self.conf)
        self.session_start_s = time.perf_counter() - t0
        self.wl.generate(self.spark)
        self.wl.query.load_oracle()
        times = []
        for i in range(SETUPS):
            if i:
                shutil.rmtree(os.path.join(self.work, f"setup{i - 1}"), ignore_errors=True)
            times.append(self.wl.materialize(self.spark, os.path.join(self.work, f"setup{i}")))
        if after_setup is not None:
            after_setup(self.wl)
        # the ORC C++ reference size is computed while the warm-up runs
        with ThreadPoolExecutor(1) as pool:
            ref = pool.submit(self.wl.reference_bytes)
            for k in range(WARMUP_CYCLES):
                # the first reference job pays the workers' first import
                # of pyarrow.orc
                self.wl.reference_job()
                for role in ROLES:
                    self.op(role, f"warmup{k}-{role}")
            self.cpp_bytes = ref.result()
        return times

    def measure(self, tracer=None):
        """Closed loop over the workload's cycle of ops for ``seconds``,
        whole cycles only, so the roles' sample counts keep the cycle's
        proportions. A cycle starts only if it is expected to end less
        than half a cycle after the deadline, so a run measures about
        ``seconds``, not up to a cycle more. In an untraced run each
        cycle starts with the reference job, counted in the cycle's
        time. Traced runs alternate untraced and traced cycles."""
        from workloads import ROLES

        walls = {r: [] for r in ROLES}
        cycles = {False: [], True: []}
        groups: list[tuple[str, str, int]] = []
        deadline = time.perf_counter() + self.seconds
        k = 0
        while k == 0 or time.perf_counter() + statistics.median(
            cycles[False] + cycles[True]
        ) / 2 < deadline:
            traced = tracer is not None and k % 2 == 1
            if traced:
                instrument(tracer)
                self.wl.tracer = tracer
            c0 = time.perf_counter()
            if tracer is None:
                self.spark.sparkContext.setJobGroup(f"c{k}-ref", "perfbench reference")
                self.ref_walls.append(self.wl.reference_job())
            for i, role in enumerate(self.wl.cycle):
                gid = f"c{k}-{i}-{role}"
                if traced:
                    groups.append((gid, role, tracer.new_trace()))
                wall = self.op(role, gid)
                if not traced and math.isfinite(wall):
                    walls[role].append(wall)
            cycles[traced].append(time.perf_counter() - c0)
            self.wl.tracer = None
            if tracer is not None:
                tracer.unwrap_all()
            k += 1
        return walls, cycles, groups

    def execute(self, after_setup=None) -> dict:
        from spans import Tracer

        setups = self.setup(after_setup)
        tracer = Tracer() if self.trace else None
        walls, cycles, groups = self.measure(tracer)
        self.check("verify", self.wl.verify)
        rss = peak_rss_mib(os.getpid())
        if not self.trace:
            return self.end_to_end(setups, walls, rss)
        return self.per_layer(tracer, cycles, groups)

    def end_to_end(self, setups, walls, rss) -> dict:
        wl = self.wl
        med = {r: statistics.median(v) if v else float("nan") for r, v in walls.items()}
        ref = statistics.median(self.ref_walls)
        self.walls = walls
        self.absolute = {
            "write_per_s": (wl.items["write"] / med["write"], "1/s"),
            "scan_per_s": (wl.items["scan"] / med["scan"], "1/s"),
            "narrow_scan_p50_s": (med["narrow"], "s"),
            "query_p50_s": (med["query"], "s"),
            "reference_job_p50_s": (ref, "s"),
        }
        return {
            "setup_s": (statistics.median(setups), "s"),
            "write_vs_ref": (med["write"] / ref, "x"),
            "scan_vs_ref": (med["scan"] / ref, "x"),
            "narrow_scan_vs_ref": (med["narrow"] / ref, "x"),
            "query_vs_ref": (med["query"] / ref, "x"),
            "compression_ratio": (wl.raw_bytes / wl.engine_bytes, "x"),
            "size_vs_orc_cpp": (wl.engine_bytes / self.cpp_bytes, "x"),
            "peak_rss_mib": (rss, "MiB"),
        }

    def per_layer(self, tracer, cycles, groups) -> dict:
        wl = self.wl
        m = {n: 0.0 for n in per_layer_names()}
        op_tasks = spark_tasks(self.spark, [g for g, _, _ in groups])
        # driver-side op spans: median per op of wall, tasks, task time, skew
        top = {s["trace"]: s for s in tracer.spans if s["parent"] is None}
        by_layer: dict[str, list[tuple]] = {}
        role_walls: dict[str, list[float]] = {}
        for gid, role, trace_id in groups:
            if trace_id not in top:
                continue
            wall = top[trace_id]["end"] - top[trace_id]["start"]
            role_walls.setdefault(role, []).append(wall)
            by_layer.setdefault(top[trace_id]["name"], []).append((wall, *op_tasks[gid]))
        for layer, rows in by_layer.items():
            for i, k in enumerate(("p50_s", "tasks", "task_time_sum_s", "task_skew")):
                m[f"{layer}_{k}"] = statistics.median(r[i] for r in rows)
        totals = tracer.layer_totals()
        splits = totals.get("sources.orc_source.plan_splits")
        if splits:
            m["sources.orc_source.plan_splits_s"] = splits["self_s"] / splits["calls"]
            m["sources.orc_source.splits"] = splits["splits"] / splits["calls"]
        # noop job: the scheduling floor
        noop = []
        for _ in range(5):
            t0 = time.perf_counter()
            self.spark.range(1, numPartitions=1).count()
            noop.append(time.perf_counter() - t0)
        m["spark.noop_job_s"] = statistics.median(noop)
        if cycles[True] and cycles[False]:
            m["tracing_overhead_s"] = statistics.median(cycles[True]) - statistics.median(cycles[False])
        # in-process replay of the in-task layers
        replay = tracer.__class__()
        instrument(replay)
        try:
            for role in ("write", "scan", "narrow"):
                with replay.span(f"replay.{role}"):
                    wl.replay(replay, role)
        finally:
            replay.unwrap_all()
        totals = replay.layer_totals()
        for name, t in totals.items():
            parts = name.split(".")
            if name.startswith("codecs.") and parts[1] in CODEC_FAMILIES:
                m[f"codecs.{parts[1]}.{parts[2]}_s"] += t["self_s"]
                if parts[2] == "encode":
                    m[f"codecs.{parts[1]}.calls"] += t["calls"]
                    m[f"codecs.{parts[1]}.bytes_in"] += t["bytes_in"]
                    m[f"codecs.{parts[1]}.bytes_out"] += t["bytes_out"]
        sel = totals.get("codecs.selector")
        if sel:
            m["codecs.selector.s"], m["codecs.selector.calls"] = sel["self_s"], sel["calls"]
        for key, span in (("encode_stripe_s", "encode_stripe"), ("decode_stripe_s", "decode_stripe")):
            m[f"format.stripe.{key}"] = totals.get(f"format.stripe.{span}", {}).get("self_s", 0.0)
        enc = totals.get("format.stripe.encode_stripe", {})
        m["format.stripe.stripes"] = enc.get("calls", 0)
        m["format.stripe.blob_bytes"] = enc.get("blob_bytes", 0)
        for key, span in (
            ("format.orc_writer.write_orc_s", "format.orc_writer.write_orc"),
            ("format.orc_writer.compress_stream_s", "format.orc_writer.compress_stream"),
            ("format.orc_reader.read_s", "format.orc_reader.read"),
            ("format.orc_reader.decompress_stream_s", "format.orc_reader.decompress_stream"),
        ):
            m[key] = totals.get(span, {}).get("self_s", 0.0)
        pruned = totals.get("format.orc_reader.pruned_read", {})
        m["format.orc_reader.stripes_read"] = pruned.get("stripes_read", 0)
        m["format.orc_reader.stripes_skipped"] = pruned.get("stripes_skipped", 0)
        m["format.orc_writer.bytes_out"] = totals.get("format.orc_writer.write_orc", {}).get("bytes_out", 0)
        # boundary: op wall minus the in-process layer time spread over cores
        for (wname, role), key in BOUNDARIES.items():
            if wname == self.workload and role_walls.get(role):
                in_proc = replay.durations(f"replay.{role}")[0]
                m[key] = statistics.median(role_walls[role]) - in_proc / self.nproc
        os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans_{self.workload}_{self.seed}.jsonl"))
        return {
            n: (v, unit_of(n)) for n, v in m.items()
        }


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes_in") or name.endswith("bytes_out") or name.endswith("_bytes"):
        return "bytes"
    if name.endswith("task_skew"):
        return "x"
    return "count"


def run(workload: str, seed: int, seconds: float, trace: bool, scale=None, after_setup=None):
    """Execute one run; returns (result line dict, report lines)."""
    import inputs

    scale = scale or inputs.DEFAULT
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    r = Run(workload, seed, seconds, trace, scale, work)
    try:
        metrics = r.execute(after_setup)
    finally:
        if r.spark is not None:
            stop_all(r.spark)
        shutil.rmtree(work, ignore_errors=True)
    lines = report_lines(r, metrics)
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


# workload-specific names of the shared metrics, printed alongside them
ALIASES = {
    "blob": {
        "write_per_s": ("encode_tok_per_s", "tok/s"),
        "scan_per_s": ("scan_tok_per_s", "tok/s"),
        "narrow_scan_p50_s": ("project_scan_p50_s", "s"),
        "query_p50_s": ("roundtrip_lineitem_agg_p50_s", "s"),
        "size_vs_orc_cpp": ("blob_bytes_vs_cpp", "x"),
    },
    "orc": {
        "write_per_s": ("orc_write_rows_per_s", "rows/s"),
        "scan_per_s": ("orc_scan_rows_per_s", "rows/s"),
        "narrow_scan_p50_s": ("orc_pruned_scan_p50_s", "s"),
        "query_p50_s": ("orc_pruned_scan_query_p50_s", "s"),
        "size_vs_orc_cpp": ("orc_bytes_vs_cpp", "x"),
    },
}
TAIL_NAMES = {"blob": ("encode_tail_s", "scan_tail_s"), "orc": ("orc_write_tail_s", "orc_scan_tail_s")}


def report_lines(r: Run, metrics: dict) -> list[str]:
    lines = [f"# workload={r.workload} seed={r.seed} seconds={r.seconds} trace={int(r.trace)} "
             f"nproc={r.nproc} master={r.conf['master']}"]
    aliases = ALIASES[r.workload]
    printed = metrics if r.trace else {**metrics, **r.absolute}
    for k, (v, u) in printed.items():
        alias = aliases.get(k)
        lines.append(f"{k} = {v:.6g} {u}" + (f"   ({alias[0]}, {alias[1]})" if alias else ""))
    wl = r.wl
    lines.append(f"# session_start_s = {r.session_start_s:.6g} s; items per op {wl.items}; "
                 f"raw_bytes={wl.raw_bytes} engine_bytes={wl.engine_bytes} cpp_bytes={r.cpp_bytes}")
    share = r.failed / max(1, r.attempted)
    lines.append(f"failed_share = {share:.6g} ratio   ({r.failed} of {r.attempted} ops)")
    if not r.trace:
        walls = r.walls
        for role, name in zip(("write", "scan"), TAIL_NAMES[r.workload]):
            t = tail(walls[role])
            lines.append(
                f"{name} = {t[0]:.6g} s   (p{t[1]:.0f}, n={len(walls[role])})" if t
                else f"{name} = n/a   (n={len(walls[role])} < 11)"
            )
        for role, ws in {**walls, "reference": r.ref_walls}.items():
            lines.append(f"# {role}: n={len(ws)} walls={[round(w, 4) for w in ws]}")
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["blob", "orc"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "datafusion_orc_spark", "__init__.py")):
        print("perfbench: datafusion_orc_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result, lines = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
