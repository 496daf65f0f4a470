#!/usr/bin/env python3
"""Entity-resolution benchmark: one run of one workload.

Run from the repository root:

    python3 erbench/run.py --workload er_skew --seed 1 --seconds 10 --trace 0

``--trace 0`` times the workload's operation untraced and prints the
end-to-end metrics; ``--trace 1`` runs it under span tracing with Spark's
event log on and prints the per-layer metrics. The last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it holds run metadata (host
load, steal share, individual timings). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import host
import spans as tr

WORKLOADS = ("er_skew", "link")
ER_STAGES = (
    "ingest", "exact_groups", "features", "raw_blocks", "blocks", "pairs",
    "scores", "edges", "components", "assignment", "metrics",
)
ER_STAGE_FIELDS = (
    "self_s", "cpu_s", "parallel_eff", "rows_out", "max_partition_rows",
    "shuffle_write_mb", "spill_mb", "written_mb",
)
INC_STAGES = (
    "batch_ingest", "batch_groups", "batch_features", "batch_raw_blocks",
    "batch_pairs", "batch_scores", "batch_edges", "components", "assignment",
)
INC_STAGE_FIELDS = ("self_s", "rows_out")
LINK_STAGES = ("candidates", "match_argmax", "suppress_overlaps")
LINK_STAGE_FIELDS = ("self_s", "cpu_s", "parallel_eff", "rows_out")
#: heap of the local-mode driver (which also hosts the executors); pinned so
#: runs are comparable, and small enough for a shared 15 GB host
DRIVER_MEMORY = "3g"
#: input builds per untraced run: at least SETUP_REPEATS, and more until
#: SETUP_SECONDS have been spent, so a build of tens of milliseconds is
#: sampled often enough for its median to hold still; setup_s is the median
SETUP_REPEATS = 3
SETUP_SECONDS = 1.0
#: discarded warm-up operations per run, on the run's own inputs. The JIT
#: compiler keeps working through the first operations after the cold one
#: and, while it does, slows them and inflates the process's memory; a
#: link operation is short enough to afford one more, while the cold
#: er_skew operation alone takes 35-45 s
WARMUP_OPS = {"er_skew": 1, "link": 2}
#: share of a traced ER operation its stage spans must cover
MIN_SPAN_COVERAGE = 0.9


def per_layer_names() -> list[str]:
    names = [f"er.{s}.{f}" for s in ER_STAGES for f in ER_STAGE_FIELDS]
    names += [
        "er.skew.salt_expansion", "er.components.max_component",
        "er.blocking.match_yield", "checkpoint.bytes_written_mb",
        "checkpoint.bookkeeping_s",
    ]
    names += [f"inc.{s}.{f}" for s in INC_STAGES for f in INC_STAGE_FIELDS]
    names += ["inc.read_canonical_s"]
    names += [f"link.{s}.{f}" for s in LINK_STAGES for f in LINK_STAGE_FIELDS]
    names += ["link.link_yield", "trace.wall_s", "trace.span_coverage"]
    return names


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("rows_out", "_rows")):
        return "rows"
    if name.endswith("max_component"):
        return "files"
    return "ratio"


class Run:
    """One benchmark run: its arguments, Spark session, work directory and
    the tally of attempted and failed operations."""

    def __init__(self, args, work: str, cores: int):
        self.args = args
        self.work = work
        self.cores = cores
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.meta: dict = {"cores": cores, "driver_memory": DRIVER_MEMORY}
        self._dirs = 0

    def fresh_dir(self, kind: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{kind}{self._dirs}")

    def start_spark(self) -> None:
        from wiki_entity_linker_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            os.makedirs(self.event_dir)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            }
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="erbench", cores=self.cores, extra_conf=conf)
        self.meta["session_s"] = time.perf_counter() - t0

    def operation(self, fn, *args):
        """One attempted program operation in a cleared cache; returns its
        result and wall time."""
        self.attempted += 1
        self.spark.catalog.clearCache()
        # start every operation from a collected heap, so one run's garbage
        # is not paid for by the next
        self.spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        result = fn(self.spark, *args)
        return result, time.perf_counter() - t0

    def check(self, errors: list[str]) -> None:
        """Record the failed checks of one operation."""
        if errors:
            self.failed += 1
            self.failures.extend(errors)

    def setup(self, make_inputs, min_repeats: int, min_seconds: float = 0.0):
        """Fresh input builds (generate with the program's fixture
        generators, write as parquet), at least ``min_repeats`` of them and
        until ``min_seconds`` have been spent; returns the last inputs and
        the median build time."""
        times, inputs = [], None
        while len(times) < min_repeats or sum(times) < min_seconds:
            if inputs is not None:
                shutil.rmtree(inputs.dir)
            d = self.fresh_dir("inputs")
            t0 = time.perf_counter()
            inputs = make_inputs(d, self.args.seed, self.args.scale)
            times.append(time.perf_counter() - t0)
        self.meta["setup_runs_s"] = times
        return inputs, statistics.median(times)


# --------------------------------------------------------------------------
# workloads: (input builder, timed operation, output check)


def workload(name: str):
    import workloads as W

    return {
        "er_skew": (W.skew_inputs, W.run_full, W.check_er_skew),
        "link": (W.link_inputs, W.run_link, W.check_link),
    }[name]


# --------------------------------------------------------------------------
# untraced run: end-to-end metrics


def end_to_end(run: Run) -> dict:
    import workloads as W

    make_inputs, op, check = workload(run.args.workload)
    with host.RssSampler(os.getpid()) as rss:
        inputs, setup_s = run.setup(make_inputs, SETUP_REPEATS, SETUP_SECONDS)
        # discarded warm-up on the same inputs: the first run in a JVM pays
        # for query compilation and Python worker start-up, and the next few
        # still run faster each time
        warmups = []
        for _ in range(WARMUP_OPS[run.args.workload]):
            wd = run.fresh_dir("warmup")
            warm, wall = run.operation(op, inputs, wd)
            warmups.append(wall)
            run.check(check(wd, warm, inputs))
            shutil.rmtree(wd)
        run.meta["warmup_s"] = warmups

        # timed operations for --seconds: another one starts only if a
        # typical round (operation plus its checks) still ends in time, so
        # every run times about the same span and none overshoots by a
        # whole operation
        rss.reset()
        walls, rounds, written = [], [], []
        start = time.perf_counter()
        while not rounds or (time.perf_counter() - start
                             + statistics.median(rounds) <= run.args.seconds):
            t0 = time.perf_counter()
            wd = run.fresh_dir("timed")
            result, wall = run.operation(op, inputs, wd)
            walls.append(wall)
            run.check(
                check(wd, result, inputs)
                + W.check_same_counts(result[0], warm[0], "repeat run")
            )
            written.append(W.bytes_under(wd))
            shutil.rmtree(wd)
            rounds.append(time.perf_counter() - t0)
        peak = rss.peak
    run.meta["walls_s"] = walls

    wall = statistics.median(walls)
    quality = result[0]
    values = {
        "wall_s": (wall, "s"),
        "records_per_s": (inputs.records / wall, "1/s"),
        "setup_s": (setup_s, "s"),
        "precision": (quality["precision"], "ratio"),
        "recall": (quality["recall"], "ratio"),
        "f1": (quality["f1"], "ratio"),
        "peak_rss_mb": (peak / 1e6, "MB"),
        "bytes_written_per_input_byte": (
            statistics.median(written) / inputs.content_bytes, "ratio"),
        "success_rate": (1 - run.failed / run.attempted, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


# --------------------------------------------------------------------------
# traced run: per-layer metrics


def check_coverage(run: Run, tracer: tr.Tracer, op: dict, what: str) -> list[str]:
    """The stage spans of a traced ER operation must cover at least
    MIN_SPAN_COVERAGE of its wall time, or the per-stage breakdown misses
    work."""
    cov = tr.coverage(tracer.spans, op)
    run.meta[f"span_coverage_{what.replace(' ', '_')}"] = cov
    if cov < MIN_SPAN_COVERAGE:
        return [f"{what}: stage spans cover {cov:.3f} of the operation, "
                f"below {MIN_SPAN_COVERAGE}"]
    return []


def traced_er_skew(run: Run, tracer: tr.Tracer, inputs) -> dict:
    """Cluster 90% of the corpus (the warm-up), then trace a full run over
    all of it and an append of the other 10% onto the 90%; the append must
    reach the same pairwise counts as the full run."""
    import workloads as W

    batch = W.split_for_append(inputs)
    base = run.fresh_dir("base")
    _, run.meta["warmup_s"] = run.operation(W.run_full, inputs, base, "base_files")
    full = run.fresh_dir("full")
    with tracer.traced("er") as op:
        (full_metrics, full_counters), _ = run.operation(W.run_full, inputs, full)
    run.check(
        W.check_er_skew(full, (full_metrics, full_counters), inputs)
        + check_coverage(run, tracer, op, "full run")
    )
    inc = run.fresh_dir("append")
    with tracer.traced("inc") as inc_op:
        (metrics, counters), _ = run.operation(W.run_append, inputs, base, inc)
    run.check(
        W.check_run(metrics, counters, inc, "batch_ingest", batch)
        + W.check_same_counts(metrics, full_metrics, "append vs full run")
        + check_coverage(run, tracer, inc_op, "append")
    )
    return {"er": (op, full_counters, full), "inc": (inc_op, counters, inc)}


def traced_link(run: Run, tracer: tr.Tracer, inputs) -> dict:
    import workloads as W

    run.meta["warmup_s"] = []
    for _ in range(WARMUP_OPS["link"]):
        wd = run.fresh_dir("warmup")
        warm, wall = run.operation(W.run_link, inputs, wd)
        run.meta["warmup_s"].append(wall)
        shutil.rmtree(wd)
    wd = run.fresh_dir("timed")
    with tracer.traced("link") as op:
        result, _ = run.operation(W.run_link, inputs, wd)
    run.check(
        W.check_link(wd, result, inputs)
        + W.check_same_counts(result[0], warm[0], "repeat run")
    )
    return {"link": (op, {}, wd)}


def per_layer(run: Run) -> dict:
    import workloads as W

    make_inputs, _, _ = workload(run.args.workload)
    tracer = tr.Tracer(run.spark.sparkContext, lambda: host.tree_cpu_seconds(os.getpid()))
    inputs, _ = run.setup(make_inputs, 1)
    with tr.wrapped_program(tracer):
        if run.args.workload == "er_skew":
            traced = traced_er_skew(run, tracer, inputs)
        else:
            traced = traced_link(run, tracer, inputs)
    stop_spark(run)

    spans = tracer.spans
    tracer.dump(os.path.join(os.path.dirname(run.work), f"spans-{os.path.basename(run.work)}.json"))
    summ = tr.stage_summaries(spans)
    events = tr.event_log_totals(run.event_dir, spans)
    out = dict.fromkeys(per_layer_names(), 0.0)
    for family, (op, counters, wd) in traced.items():
        for sid, s in summ.items():
            fam, stage = s["name"].split(".", 1)
            if fam != family:
                continue
            ev = events.get(sid, {"shuffle": 0, "spill": 0})
            c = counters.get(stage, {})
            vals = {
                "self_s": s["self_s"],
                "cpu_s": s["self_cpu"],
                "parallel_eff": s["self_cpu"] / max(1e-9, s["self_s"] * run.cores),
                "rows_out": c.get("rows_out", spans[sid].get("rows_out", 0)),
                "max_partition_rows": max(
                    (p["rows"] for p in c.get("partitions", [])), default=0),
                "shuffle_write_mb": ev["shuffle"] / 1e6,
                "spill_mb": ev["spill"] / 1e6,
                "written_mb": sum(
                    W.bytes_under(os.path.join(wd, stage + suffix))
                    for suffix in (".parquet", ".meta.json")
                ) / 1e6,
            }
            for field, v in vals.items():
                key = f"{family}.{stage}.{field}"
                if key in out:
                    out[key] += v
    if "er" in traced:
        op, counters, wd = traced["er"]
        rows = {s: c["rows_out"] for s, c in counters.items()}
        out["er.skew.salt_expansion"] = rows["blocks"] / max(1, rows["raw_blocks"])
        out["er.blocking.match_yield"] = rows["edges"] / max(1, rows["pairs"])
        out["er.components.max_component"] = W.max_component(wd)
        out["checkpoint.bytes_written_mb"] = W.bytes_under(wd) / 1e6
        out["checkpoint.bookkeeping_s"] = sum(
            s["self_s"] - s["write_s"] for s in summ.values()
            if s["name"].startswith("er.")
        )
        out["inc.read_canonical_s"] = sum(
            sp["end"] - sp["start"] for sp in spans
            if sp["name"] == "inc.read_canonical"
            and spans[sp["parent"]]["name"] != "inc.read_canonical"
        )
    else:
        op = traced["link"][0]
        out["link.link_yield"] = out["link.suppress_overlaps.rows_out"] / max(
            1, out["link.candidates.rows_out"])
    # trace.* describe the workload's timed operation (the full run, or
    # the linking run)
    out["trace.wall_s"] = op["end"] - op["start"]
    out["trace.span_coverage"] = tr.coverage(spans, op)
    return {k: {"value": v, "unit": _unit(k)} for k, v in out.items()}


# --------------------------------------------------------------------------
# process and environment


def stop_spark(run: Run) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for each."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    spark, run.spark = run.spark, None
    children = [p for p in host.tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def pin_environment(root: str, work: str, cores: int) -> None:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # shuffle and spill on disk inside the checkout, not in /dev/shm
    env["SPARK_LOCAL_DIRS"] = local
    # the Python workers import the program's UDF modules
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="input size; tiny is for the smoke test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "wiki_entity_linker_spark")):
        print("erbench: run from the repository root "
              "(wiki_entity_linker_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(
        root, ".erbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(work)
    pin_environment(root, work, cores)
    noise = host.HostNoise()
    run = Run(args, work, cores)
    try:
        run.start_spark()
        metrics = per_layer(run) if args.trace else end_to_end(run)
    except Exception:
        traceback.print_exc()
        run.attempted += 1
        run.failed += 1
        run.failures.append("operation raised")
        metrics = None
    finally:
        stop_spark(run)
        shutil.rmtree(work, ignore_errors=True)
    run.meta.update(noise.summary())
    attempted = max(1, run.attempted)
    failed = min(attempted, run.failed)
    run.meta["failures"] = run.failures
    run.meta["error_rate"] = failed / attempted
    print(json.dumps({"meta": run.meta}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics or {},
    }))
    return 0 if metrics is not None else 1


if __name__ == "__main__":
    sys.exit(main())
