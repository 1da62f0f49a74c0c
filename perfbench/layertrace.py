"""Per-layer attribution from the benchmark's side of the API.

``Tracer.install()`` wraps the public entry points of each product layer and
tags every Spark job with the layer that triggered it, through the job group
(``SparkContext.setJobGroup``).  After the traced work, ``Tracer.collect()``
reads the jobs, stages and SQL executions back from the driver's own status
store (the loopback ``/api/v1`` REST view of it) and folds them per layer.

Attribution rules, one label active at a time:

- an orchestrator call (``DedupPipeline.run``, ``IncrementalDedup.
  process_batch``) labels its own driver code ``pipeline`` / ``streaming``;
- the first layer call below an orchestrator labels everything it runs,
  nested layer calls included (``substring_pairs`` drives ``lsh`` helpers, and
  that work is the substring tier's);
- ``TableIO.write`` runs the lazy plan of the layer whose frame it writes,
  so its jobs go to the layer that returned last; ``TableIO.append`` to the
  pipeline's ``metrics`` / ``lineage`` tables, and the driver code right
  after it, is ``pipeline.bookkeeping``; every other ``TableIO`` call is
  ``io``.

Every label switch is stamped, so the labels' wall times partition each
orchestrator call exactly.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone

import cpdd_spark.assemble
import cpdd_spark.cc
import cpdd_spark.exact
import cpdd_spark.io
import cpdd_spark.lsh
import cpdd_spark.pipeline
import cpdd_spark.signatures
import cpdd_spark.streaming
import cpdd_spark.substring
import cpdd_spark.verify

# layer -> (module, public DataFrame-level functions).  Only driver-side
# functions: the numpy kernels run inside Python workers and must stay the
# module's own objects.
LAYER_FUNCS = {
    "assemble": (cpdd_spark.assemble, ["assemble_documents"]),
    "exact": (cpdd_spark.exact, ["exact_clusters", "exact_pairs", "mark_needs_hash"]),
    "signatures": (
        cpdd_spark.signatures,
        ["compute_signatures", "shingle_sets", "minhash_from_sets"],
    ),
    "lsh": (
        cpdd_spark.lsh,
        ["band_buckets", "pairs_from_buckets", "candidate_pairs", "simhash_candidates"],
    ),
    "verify": (cpdd_spark.verify, ["verify_pairs_sets", "verify_pairs"]),
    "substring": (cpdd_spark.substring, ["substring_pairs", "fingerprints"]),
    "cc": (cpdd_spark.cc, ["connected_components"]),
}
IO_METHODS = ["read", "write", "append", "exists", "drop"]
ORCHESTRATORS = {
    "pipeline": (cpdd_spark.pipeline.DedupPipeline, "run"),
    "streaming": (cpdd_spark.streaming.IncrementalDedup, "process_batch"),
}
LAYERS = [*LAYER_FUNCS, "io"]
BOOKKEEPING = "pipeline.bookkeeping"
BOOKKEEPING_TABLES = ("metrics", "lineage")
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class Tracer:
    """Job-group tagging plus the status-store read-back.  One instance per
    traced session; ``install`` patches the product modules in place and
    ``uninstall`` restores them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self.switches: list[tuple[float, str]] = []   # (epoch s, label)
        self.calls: list[tuple[float, float]] = []  # orchestrator call spans
        self._undo: list[tuple[object, str, object]] = []

    # ---- wrapping ---------------------------------------------------------

    def install(self) -> None:
        for layer, (mod, names) in LAYER_FUNCS.items():
            for name in names:
                orig = getattr(mod, name)
                self._replace_everywhere(orig, self._wrap(orig, "layer", layer))
        for name in IO_METHODS:
            orig = getattr(cpdd_spark.io.TableIO, name)
            self._set(cpdd_spark.io.TableIO, name, self._wrap(orig, "io", "io"))
        for label, (cls, name) in ORCHESTRATORS.items():
            self._set(cls, name, self._wrap(getattr(cls, name), "orch", label))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _set(self, owner, name, value) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def _replace_everywhere(self, orig, wrapped) -> None:
        """Modules bind layer functions by ``from x import f``: rebind every
        ``cpdd_spark`` module global that is this very function object."""
        import sys

        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("cpdd_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._set(mod, attr, wrapped)

    def _state(self):
        st = self._local
        if not hasattr(st, "stack"):
            st.stack = []          # frames: [kind, label]
            st.producer = None     # layer whose frame a write would run
            st.trailing = None     # label for orchestrator code after a call
        return st

    def _switch(self, label: str | None) -> None:
        self.sc.setJobGroup(label or "bench", label or "bench")
        with self._lock:
            self.switches.append((time.time(), label or "bench"))

    def _wrap(self, fn, kind: str, label: str):
        tracer = self

        def wrapped(*args, **kwargs):
            st = tracer._state()
            under_layer = any(f[0] != "orch" for f in st.stack)
            in_orch = any(f[0] == "orch" for f in st.stack)
            if kind == "orch":
                eff = label
            elif under_layer or not in_orch:
                return fn(*args, **kwargs)
            elif kind == "io" and fn.__name__ == "write" and st.producer:
                eff = st.producer
            elif kind == "io" and fn.__name__ == "append" and _table(args, kwargs) in BOOKKEEPING_TABLES:
                eff = BOOKKEEPING
            else:
                eff = label
            st.stack.append([kind, eff])
            t0 = time.time()
            tracer._switch(eff)
            try:
                return fn(*args, **kwargs)
            finally:
                st.stack.pop()
                if kind == "orch":
                    tracer.calls.append((t0, time.time()))
                    st.producer = st.trailing = None
                    tracer._switch(st.stack[-1][1] if st.stack else None)
                else:
                    if kind == "layer":
                        st.producer = eff
                    elif fn.__name__ == "write":
                        st.producer = None
                    st.trailing = BOOKKEEPING if eff == BOOKKEEPING else None
                    tracer._switch(st.trailing or st.stack[-1][1])

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        return wrapped

    # ---- read-back ----------------------------------------------------------

    def _get(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, deadline_s: float = 20.0) -> list[dict]:
        """The listener bus fills the status store asynchronously: wait until
        it shows no running job."""
        end = time.time() + deadline_s
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > end:
                return jobs
            time.sleep(0.2)

    def label_seconds(self, t0: float, t1: float) -> dict[str, float]:
        """Wall seconds each label was active within ``[t0, t1]``."""
        out: dict[str, float] = {}
        sw = sorted(self.switches)
        for (ta, lab), (tb, _) in zip(sw, sw[1:] + [(t1, None)]):
            a, b = max(ta, t0), min(tb, t1)
            if b > a:
                out[lab] = out.get(lab, 0.0) + (b - a)
        return out

    def collect(self, t0: float, t1: float) -> dict:
        """Per-label Spark counters for jobs submitted within ``[t0, t1]``."""
        jobs = [
            j for j in self._settled_jobs()
            if t0 <= _epoch(j.get("submissionTime")) <= t1
        ]
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("/stages?details=false")}
        sqls = self._get("/sql?details=true&planDescription=false&offset=0&length=1000000")
        job_label = {j["jobId"]: j.get("jobGroup") or "other" for j in jobs}

        per: dict[str, dict] = {}

        def acc(label: str) -> dict:
            return per.setdefault(label, {
                "jobs": 0, "tasks": 0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                "jvm_cpu_s": 0.0, "run_s": 0.0, "python_s": 0.0,
                "python_boot_s": 0.0, "heaviest": None,
            })

        seen_stage: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            a = acc(job_label[j["jobId"]])
            a["jobs"] += 1
            for sid in j.get("stageIds", []):
                if sid in seen_stage:
                    continue
                for (s_id, att), s in stages.items():
                    if s_id != sid or s.get("status") != "COMPLETE":
                        continue
                    seen_stage.add(sid)
                    a["tasks"] += s.get("numCompleteTasks", 0)
                    a["shuffle_mb"] += (s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)) / 2**20
                    a["spill_mb"] += (s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / 2**20
                    a["jvm_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                    a["run_s"] += s.get("executorRunTime", 0) / 1e3
                    if a["heaviest"] is None or s.get("executorRunTime", 0) > a["heaviest"][2]:
                        a["heaviest"] = (s_id, att, s.get("executorRunTime", 0), s.get("numCompleteTasks", 0))
        for ex in sqls:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            labels = [job_label[i] for i in ids if i in job_label]
            if not labels:
                continue
            a = acc(labels[0])
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == PY_RUN:
                        a["python_s"] += _seconds(m["value"])
                    elif m["name"] == PY_BOOT:
                        a["python_boot_s"] += _seconds(m["value"])
        for a in per.values():
            a["task_skew"] = self._skew(a.pop("heaviest"))
        intervals = [
            (_epoch(j.get("submissionTime")), _epoch(j.get("completionTime")) or t1)
            for j in jobs
        ]
        return {"per_label": per, "jobs": len(jobs), "intervals": intervals}

    def _skew(self, heaviest) -> float:
        """max / median task duration of the layer's heaviest stage."""
        if heaviest is None or heaviest[3] < 2:
            return 1.0
        sid, att = heaviest[0], heaviest[1]
        q = self._get(f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["duration"]
        return mx / med if med > 0 else 1.0


def _table(args, kwargs) -> str | None:
    # TableIO.append(self, df, name, ...)
    if "name" in kwargs:
        return kwargs["name"]
    return args[2] if len(args) > 2 else None


def _epoch(ts: str | None) -> float:
    if not ts:
        return 0.0
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _seconds(value: str) -> float:
    """A Spark SQL timing metric string ("total (min, med, max ...)\\n1.2 s
    (...)" or "1.2 s") -> its total, in seconds."""
    text = value.split("\n", 1)[-1]
    m = _DURATION.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def union_seconds(intervals, t0: float, t1: float) -> float:
    """Seconds of ``[t0, t1]`` covered by at least one interval."""
    total, end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---- per-layer metrics -------------------------------------------------------

COUNTER_UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "shuffle_mb": "MB",
    "spill_mb": "MB", "jvm_cpu_s": "s", "python_s": "s", "task_skew": "ratio",
}
# every other per-layer metric; one that does not apply to a workload (the
# pipeline's on the stream, the stream's on a batch load) reads 0
DERIVED_UNITS = {
    "exact.dup_ratio": "ratio", "lsh.candidates": "count", "lsh.bucket_max": "count",
    "lsh.buckets_over_cap": "count", "verify.pass_rate": "ratio",
    "cc.edges": "count", "cc.clusters": "count",
    "pipeline.wall_s": "s", "pipeline.self_s": "s", "pipeline.jobs": "count",
    "pipeline.driver_gap_s": "s", "pipeline.bookkeeping_s": "s",
    "pipeline.bookkeeping_jobs": "count", "pipeline.span_cover": "ratio",
    "streaming.wall_s": "s", "streaming.self_s": "s", "streaming.jobs_per_batch": "count",
    "streaming.driver_gap_s": "s", "streaming.state_files": "count",
    "streaming.state_mb": "MB", "streaming.index_docs": "count",
    "streaming.latency_growth": "ratio",
    "session.start_s": "s", "session.python_boot_s": "s", "trace.overhead": "ratio",
}


def per_layer(spark, tracer, driver, inp, result, base, window, setup_window, start_s) -> dict:
    """Fold the traced passes into the per-layer metrics, each per pass."""
    t0, t1 = window
    col = tracer.collect(t0, t1)
    per = col["per_label"]
    passes = max(1, len(result["walls"]))
    spans = [(a, b) for a, b in tracer.calls if t0 <= a <= t1]
    label_s: dict[str, float] = {}
    for a, b in spans:
        for lab, sec in tracer.label_seconds(a, b).items():
            label_s[lab] = label_s.get(lab, 0.0) + sec

    v: dict[str, float] = {}
    for layer in LAYERS:
        a = per.get(layer, {})
        for k in COUNTER_UNITS:
            v[f"{layer}.{k}"] = a.get(k, 0) / passes
        v[f"{layer}.wall_s"] = label_s.get(layer, 0.0) / passes
        v[f"{layer}.task_skew"] = a.get("task_skew", 1.0)
    v.update(_dedup_counters(spark, driver.last_dir, stream=bool(inp.batches)))

    # wall not covered by any running Spark job, per pass
    gap = sum(
        (b - a) - union_seconds(col["intervals"], a, b) for a, b in result["windows"]
    ) / passes
    # jobs triggered inside orchestrator calls; the streaming engine's own
    # jobs (grouped under its query run id) and the benchmark's are excluded
    known = {*LAYERS, *ORCHESTRATORS, BOOKKEEPING}
    orch_jobs = sum(a["jobs"] for lab, a in per.items() if lab in known)
    if inp.batches:
        growth = [_quarter_growth(lat) for lat in driver.drain_latencies if len(lat) >= 2]
        files, mb = _tree_size(driver.last_dir)
        v.update({
            "streaming.wall_s": sum(b - a for a, b in spans) / passes,
            "streaming.self_s": label_s.get("streaming", 0.0) / passes,
            "streaming.jobs_per_batch": orch_jobs / max(1, len(driver.batch_latencies)),
            "streaming.driver_gap_s": gap,
            "streaming.state_files": files,
            "streaming.state_mb": mb,
            "streaming.index_docs": spark.read.parquet(
                os.path.join(driver.last_dir, "nearidx", "docs")
            ).count(),
            "streaming.latency_growth": statistics.median(growth) if growth else 1.0,
        })
    else:
        wall = sum(result["walls"]) / passes
        v.update({
            "pipeline.wall_s": wall,
            "pipeline.self_s": label_s.get("pipeline", 0.0) / passes,
            "pipeline.jobs": orch_jobs / passes,
            "pipeline.driver_gap_s": gap,
            "pipeline.bookkeeping_s": label_s.get(BOOKKEEPING, 0.0) / passes,
            "pipeline.bookkeeping_jobs": per.get(BOOKKEEPING, {}).get("jobs", 0) / passes,
            "pipeline.span_cover": sum(label_s.values()) / passes / wall if wall else 0.0,
        })

    setup = tracer.collect(*setup_window)["per_label"]
    v["session.start_s"] = start_s
    v["session.python_boot_s"] = sum(a["python_boot_s"] for a in setup.values())
    traced_tps = [inp.turns / w for w in result["walls"]]
    base_tps = [inp.turns / w for w in base["walls"]]
    if traced_tps and base_tps:
        v["trace.overhead"] = statistics.median(traced_tps) / statistics.median(base_tps)

    m = {f"{layer}.{k}": (v[f"{layer}.{k}"], u) for layer in LAYERS for k, u in COUNTER_UNITS.items()}
    m.update({k: (float(v.get(k, 0.0)), u) for k, u in DERIVED_UNITS.items()})
    return m


def _dedup_counters(spark, out_dir: str, stream: bool) -> dict[str, float]:
    """Dedup-shape counters recomputed, after the timed passes, from the last
    traced pass's committed output through the layers' public functions."""
    from pyspark.sql import functions as F

    from cpdd_spark.config import DedupConfig
    from cpdd_spark.exact import exact_pairs
    from cpdd_spark.io import TableIO
    from cpdd_spark.lsh import band_buckets, candidate_pairs

    cfg = DedupConfig()

    def bucket_stats(bands) -> dict[str, float]:
        row = (
            bands.groupBy("band_id", "band_hash").count()
            .agg(F.max("count"), F.sum((F.col("count") > cfg.max_band_bucket).cast("long")))
            .first()
        )
        return {"lsh.bucket_max": float(row[0] or 0), "lsh.buckets_over_cap": float(row[1] or 0)}

    if stream:
        clusters = spark.read.parquet(os.path.join(out_dir, "clusters"))
        n = clusters.count()
        distinct = clusters.select("n_turns", "doc_len", "md5", "xxh64").distinct().count()
        return {
            "exact.dup_ratio": 1.0 - distinct / n if n else 0.0,
            "cc.clusters": float(clusters.select("cluster_id").distinct().count()),
            **bucket_stats(spark.read.parquet(os.path.join(out_dir, "nearidx", "bands"))),
        }

    io = TableIO(spark, out_dir)
    exact = io.read("exact_clusters")
    n = exact.count()
    reps = exact.filter(F.col("conv_id") == F.col("cluster_id")).count()
    sigs = io.read("signatures")
    candidates = candidate_pairs(sigs, cfg).count()
    verified = io.read("verified_pairs").count()
    edges = exact_pairs(exact).count() + verified
    if io.exists("substring_pairs"):
        edges += io.read("substring_pairs").count()
    return {
        "exact.dup_ratio": 1.0 - reps / n if n else 0.0,
        "lsh.candidates": float(candidates),
        "verify.pass_rate": verified / candidates if candidates else 0.0,
        "cc.edges": float(edges),
        "cc.clusters": float(io.read("clusters").select("cluster_id").distinct().count()),
        **bucket_stats(band_buckets(sigs, cfg)),
    }


def _quarter_growth(lat: list[float]) -> float:
    q = max(1, len(lat) // 4)
    first, last = statistics.median(lat[:q]), statistics.median(lat[-q:])
    return last / first if first > 0 else 1.0


def _tree_size(path: str) -> tuple[float, float]:
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return float(files), size / 2**20
