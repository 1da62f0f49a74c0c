#!/usr/bin/env python3
"""cpdd_spark benchmark: seeded dedup workloads through the public pipeline
and stream, with output checks and per-layer Spark counters.

    python3 perfbench/run.py --workload batch_boilerplate --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Each run builds its input from the seed,
starts one Spark session sized to the host (``local[nproc]``), pays one
untimed warm-up pass over the same input (counted in ``setup_s``), then
makes as many timed passes as fit ``--seconds`` at the workload's nominal
pass time, in a closed loop: one driver, one job at a time.  Every timed
pass's output is scored against the generator's truth clusters.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one untraced
pass, then traced passes, and reports the per-layer metrics read back from
Spark's status store (see ``layertrace.py``).  The last stdout line is the JSON
result; the lines before it are a human-readable summary that also carries
``failed_share`` and the host snapshot (nproc, memory, loadavg) at the start
and end of the run.  See ``README.md`` for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_BUDGET_S = 170.0    # a run must exit within 180 s
TEARDOWN_S = 15.0       # reserved for the trace read-back and session stop
STARTED = time.monotonic()


def time_left() -> float:
    """Seconds a pass may still take before the run overshoots its budget."""
    return STARTED + RUN_BUDGET_S - TEARDOWN_S - time.monotonic()


def host_snapshot() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "loadavg": load,
        "cpu_jiffies": sum(cpu),
        "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
    }


def steal_share(h0: dict, h1: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    snapshots: the host-noise signal loadavg misses."""
    total = h1["cpu_jiffies"] - h0["cpu_jiffies"]
    return (h1["steal_jiffies"] - h0["steal_jiffies"]) / total if total else 0.0


class RssSampler:
    """Peak resident memory of one process tree (the driver JVM and the
    Python workers it forks), sampled from ``/proc``.

    A descendant that still runs the root's executable is skipped: the JVM
    forks short-lived helpers (Hadoop's local file system shells out to
    ``chmod`` and ``ls``), and until such a child execs it shares the JVM's
    pages, so counting it would add the whole JVM a second time."""

    def __init__(self, root_pid: int, period_s: float = 0.2):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._root_exe = os.readlink(f"/proc/{root_pid}/exe")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                if pid != self.root_pid and os.readlink(f"/proc/{pid}/exe") == self._root_exe:
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period_s)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_conf(work: str, nproc: int, mem_gb: float, trace: bool) -> dict:
    # a fixed heap (-Xms = -Xmx) keeps G1's resizing out of peak_rss_mb
    driver_gb = max(1, min(2, int(mem_gb // 6)))
    conf = {
        "spark.driver.memory": f"{driver_gb}g",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.host": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_gb}g -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-XX:ActiveProcessorCount={nproc}"
        ),
    }
    if trace:
        # keep every job, stage and SQL execution of a run in the status store
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


# ---- scoring ---------------------------------------------------------------


def pair_scores(pred, truth_labels) -> tuple[float, float]:
    """Pairwise recall and precision of the predicted partition against the
    truth partition, counting co-clustered conversation pairs."""
    import pandas as pd

    both = pd.DataFrame({"p": pred, "t": truth_labels})

    def pairs(sizes):
        return float((sizes * (sizes - 1) // 2).sum())

    tp = pairs(both.groupby(["p", "t"]).size())
    truth_pairs = pairs(both.groupby("t").size())
    pred_pairs = pairs(both.groupby("p").size())
    recall = tp / truth_pairs if truth_pairs else 1.0
    precision = tp / pred_pairs if pred_pairs else 1.0
    return recall, precision


def score(out, truth, kinds: tuple[str, ...] | None) -> dict:
    """``out``: (conv_id, cluster_id) rows of the product's clusters output.
    ``kinds``: duplicate kinds the product is scored on (others count as
    singletons); None scores every kind."""
    import pandas as pd

    t = truth.set_index("conv_id")
    problems = []
    if out["conv_id"].duplicated().any():
        problems.append("a conversation is assigned twice")
    o = out.drop_duplicates("conv_id").set_index("conv_id")["cluster_id"]
    missing = t.index.difference(o.index)
    extra = o.index.difference(t.index)
    if len(missing) or len(extra):
        problems.append(f"{len(missing)} conversations missing, {len(extra)} unknown")
    o = o.reindex(t.index).fillna(pd.Series(t.index, index=t.index))
    if not o.isin(o.index).all():
        problems.append("a cluster_id is not a member conversation")
    label = t["cluster_id"]
    if kinds is not None:
        keep = t["kind"].isin(kinds + ("unique",))
        label = label.where(keep, t.index.to_series())
    recall, precision = pair_scores(o.to_numpy(), label.to_numpy())
    # cpdd's contract: byte-identical conversations always share a cluster
    exact_group = t["cluster_id"].where(t["kind"].isin(["exact_dup", "unique"]), t.index.to_series())
    exact_recall, _ = pair_scores(o.to_numpy(), exact_group.to_numpy())
    if exact_recall < 1.0:
        problems.append(f"exact-duplicate recall {exact_recall:.6f} < 1")
    return {"recall": recall, "precision": precision, "exact_recall": exact_recall, "problems": problems}


# ---- workload drivers ------------------------------------------------------


class BatchDriver:
    """``DedupPipeline.run(resume=False)`` over a multi-file turn table."""

    scored_kinds = None

    def __init__(self, spark, input_dir: str, work: str):
        self.spark, self.input_dir, self.work = spark, input_dir, work
        self.n = 0
        self.batch_latencies: list[float] = []

    def run_once(self, keep: bool = False) -> tuple[float, object]:
        from cpdd_spark.pipeline import DedupPipeline

        self.n += 1
        wd = os.path.join(self.work, f"run{self.n}")
        t0 = time.perf_counter()
        turns = self.spark.read.parquet(self.input_dir)
        DedupPipeline(self.spark, wd).run(turns, resume=False)
        wall = time.perf_counter() - t0
        self.batch_latencies.append(wall)
        out = self.spark.read.parquet(os.path.join(wd, "clusters")).select("conv_id", "cluster_id").toPandas()
        self.last_dir = wd
        if not keep:
            shutil.rmtree(wd, ignore_errors=True)
        return wall, out

    def cancel(self) -> None:
        self.spark.sparkContext.cancelAllJobs()


class StreamDriver:
    """``IncrementalDedup(near_index_dir=...).start(max_files_per_trigger=1)``
    draining one file per micro-batch from fresh state."""

    scored_kinds = ("exact_dup", "near_dup")

    def __init__(self, spark, input_dir: str, work: str):
        self.spark, self.input_dir, self.work = spark, input_dir, work
        self.n = 0
        self.batch_latencies: list[float] = []
        self.drain_latencies: list[list[float]] = []
        self._query = None

    def run_once(self, keep: bool = False) -> tuple[float, object]:
        from cpdd_spark.streaming import IncrementalDedup

        self.n += 1
        base = os.path.join(self.work, f"drain{self.n}")
        dedup = IncrementalDedup(
            self.spark, os.path.join(base, "clusters"), near_index_dir=os.path.join(base, "nearidx")
        )
        lat: list[float] = []
        inner = dedup.process_batch

        def timed(turns, batch_id=0):
            t = time.perf_counter()
            inner(turns, batch_id)
            lat.append(time.perf_counter() - t)

        dedup.process_batch = timed
        t0 = time.perf_counter()
        self._query = dedup.start(self.input_dir, os.path.join(base, "ckpt"), max_files_per_trigger=1)
        self._query.awaitTermination()
        wall = time.perf_counter() - t0
        if self._query.exception() is not None:
            raise RuntimeError(f"stream failed: {self._query.exception()}")
        self.batch_latencies.extend(lat)
        self.drain_latencies.append(lat)
        out = self.spark.read.parquet(os.path.join(base, "clusters")).select("conv_id", "cluster_id").toPandas()
        self.last_dir = base
        if not keep:
            shutil.rmtree(base, ignore_errors=True)
        return wall, out

    def cancel(self) -> None:
        if self._query is not None:
            self._query.stop()
        self.spark.sparkContext.cancelAllJobs()


DRIVERS = {"batch_boilerplate": BatchDriver, "stream_near": StreamDriver}

# Seconds one warm timed pass takes on a 4-core host.  A run makes
# floor(--seconds / PASS_S) timed passes, at least one, so that every run of
# a workload makes the same passes whatever the host's speed: the JIT is
# still warming over the first passes, so a time box would let a slow
# spell change the pass count, and the median with it.
PASS_S = {"batch_boilerplate": 15.0, "stream_near": 8.0}


def pass_count(workload: str, seconds: float) -> int:
    return max(1, int(seconds // PASS_S[workload]))


def units_of(inp) -> int:
    """Attempts one timed pass stands for: micro-batches for the stream, one
    pipeline run for a batch workload."""
    return len(inp.batches) if inp.batches else 1


class Watchdog:
    """Cancels a pass that outlives ``timeout_s``; the pass then raises and
    counts as failed."""

    def __init__(self, driver, timeout_s: float):
        self.timer = threading.Timer(timeout_s, self._fire)
        self.driver = driver
        self.fired = False

    def _fire(self) -> None:
        self.fired = True
        self.driver.cancel()

    def __enter__(self):
        self.timer.start()
        return self

    def __exit__(self, *exc):
        self.timer.cancel()


def timed_passes(driver, inp, passes: int, result: dict, keep: bool = False) -> None:
    """Closed loop of ``passes`` passes, one after another.  Stops early after
    a failed pass, or when the next pass would overrun the run's budget."""
    for _ in range(passes):
        n_units = units_of(inp)
        result["attempted"] += n_units
        e0 = time.time()
        try:
            with Watchdog(driver, max(1.0, time_left())) as wd:
                wall, out = driver.run_once(keep=keep)
            if wd.fired:
                raise TimeoutError("pass timed out")
        except Exception as e:  # a failed pass is a measured outcome
            print(f"pass failed: {type(e).__name__}: {e}", file=sys.stderr)
            result["failed"] += n_units
            result["errors"].append(f"{type(e).__name__}: {e}"[:300])
            break
        s = score(out, inp.truth, driver.scored_kinds)
        if s["problems"]:
            result["failed"] += n_units
            result["errors"].extend(s["problems"])
        result["walls"].append(wall)
        result["windows"].append((e0, e0 + wall))
        result["scores"].append(s)
        if wall > time_left():
            break


# ---- inputs ----------------------------------------------------------------


def check_inputs(workload: str, seed: int, inp) -> list[str]:
    """Refuse inputs the pinned digests disagree with: the run's own seed
    when it is pinned, and the canary seeds always."""
    import workloads

    with open(os.path.join(HERE, "inputs.json")) as f:
        pinned = json.load(f)[workload]
    problems = []
    checks = {str(seed): inp} if str(seed) in pinned else {}
    for s in pinned.get("canaries", []):
        checks.setdefault(str(s), None)
    for s, got in checks.items():
        got = got or workloads.build(workload, int(s))
        want = pinned[s]
        have = {"convs": got.convs, "turns": got.turns, "digest": workloads.digest(got)}
        if have != want:
            problems.append(f"input for seed {s} differs from inputs.json: {have} != {want}")
    return problems


# ---- main ------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-size inputs; skips the digest pin")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "cpdd_spark", "__init__.py")):
        print(f"no cpdd_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    if args.workload not in DRIVERS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(DRIVERS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def run(args, work: str) -> int:
    import workloads

    host0 = host_snapshot()
    print("host start " + json.dumps(host0), flush=True)
    inp = workloads.build(args.workload, args.seed, tiny=args.tiny)
    if not args.tiny:
        problems = check_inputs(args.workload, args.seed, inp)
        if problems:
            print("\n".join(problems), file=sys.stderr)
            return 3
    input_dir = workloads.write(inp, os.path.join(work, "input"))

    from pyspark import SparkContext

    from cpdd_spark import get_spark

    nproc = host0["nproc"]
    t_setup0 = time.perf_counter()
    epoch_setup0 = time.time()
    spark = get_spark(
        master=f"local[{nproc}]",
        app_name=f"perfbench-{args.workload}",
        shuffle_partitions=2 * nproc,
        extra_conf=session_conf(work, nproc, host0["mem_gb"], bool(args.trace)),
    )
    start_s = time.perf_counter() - t_setup0
    gateway = SparkContext._gateway
    result = {"attempted": 0, "failed": 0, "errors": [], "walls": [], "windows": [], "scores": []}
    metrics: dict[str, tuple[float, str]] = {}
    try:
        driver_cls = DRIVERS[args.workload]
        # one untimed warm-up pass over the timed input: the JIT, the codegen
        # cache and the Python worker pool then have seen full-size data
        warm_driver = driver_cls(spark, input_dir, os.path.join(work, "warm"))
        try:
            with Watchdog(warm_driver, max(1.0, time_left())) as wd:
                warm_driver.run_once()
            if wd.fired:
                raise TimeoutError("warm-up timed out")
        except Exception as e:  # the product failed before any timed pass
            result["errors"].append(f"warm-up: {type(e).__name__}: {e}"[:300])
            result["attempted"] = result["failed"] = units_of(inp)
        setup_s = time.perf_counter() - t_setup0
        epoch_setup1 = time.time()

        def make_driver(name):
            return driver_cls(spark, input_dir, os.path.join(work, name))

        if result["errors"]:
            metrics = {"setup_s": (setup_s, "s")}
        elif args.trace:
            metrics = traced(spark, make_driver, inp, args, result, start_s, (epoch_setup0, epoch_setup1))
        else:
            driver = make_driver("runs")
            with RssSampler(gateway.proc.pid) as rss:
                timed_passes(driver, inp, pass_count(args.workload, args.seconds), result)
            metrics = end_to_end(driver, inp, result, setup_s, rss.peak_bytes)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    host1 = host_snapshot()
    print("host end   " + json.dumps(host1) + f" steal_share={steal_share(host0, host1):.4f}", flush=True)
    attempted = max(1, result["attempted"])
    n = len(result["walls"])
    print(
        f"{args.workload} seed={args.seed} trace={args.trace} passes={n} "
        f"failed_share={result['failed'] / attempted:.4f} (count, {result['failed']}/{attempted})",
        flush=True,
    )
    print("  pass walls (s): " + " ".join(f"{w:.2f}" for w in result["walls"]))
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.6g} {unit}")
    for e in result["errors"]:
        print(f"  error: {e}")
    correct = not result["errors"] and n > 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def end_to_end(driver, inp, result, setup_s: float, peak_rss: int) -> dict:
    walls = result["walls"]
    med = statistics.median
    m = {"setup_s": (setup_s, "s")}
    if walls:
        m["turns_per_s"] = (med([inp.turns / w for w in walls]), "1/s")
        m["batch_p50_s"] = (med(driver.batch_latencies), "s")
        m["peak_rss_mb"] = (peak_rss / 2**20, "MB")
        m["pair_recall"] = (med([s["recall"] for s in result["scores"]]), "ratio")
        m["pair_precision"] = (med([s["precision"] for s in result["scores"]]), "ratio")
    return m


def traced(spark, make_driver, inp, args, result, start_s: float, setup_window) -> dict:
    """One untraced pass (the overhead baseline), then traced passes for the
    rest of the run's pass count; returns the per-layer metrics."""
    from layertrace import Tracer, per_layer

    tracer = Tracer(spark)
    base = {"attempted": 0, "failed": 0, "errors": [], "walls": [], "windows": [], "scores": []}
    timed_passes(make_driver("base"), inp, 1, base)
    result["errors"].extend(base["errors"])
    driver = make_driver("traced")
    tracer.install()
    t0 = time.time()
    try:
        timed_passes(driver, inp, max(1, pass_count(args.workload, args.seconds) - 1), result, keep=True)
    finally:
        tracer.uninstall()
    t1 = time.time()
    result["attempted"] += base["attempted"]
    result["failed"] += base["failed"]
    return per_layer(spark, tracer, driver, inp, result, base, (t0, t1), setup_window, start_s)


if __name__ == "__main__":
    sys.exit(main())
