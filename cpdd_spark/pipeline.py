"""End-to-end dedup pipeline: checkpointed stages, lineage + metrics (P12).

Plays the role of the reference's top-level driver ``copy_directory``
(/root/reference/src/cpdd/copy.c:444-573): build the reference index once,
probe with every source, track statistics. The Spark translation:

- each stage materializes to a table (Iceberg on a cluster, parquet here via
  :class:`cpdd_spark.io.TableIO`); a stage whose output table exists and
  committed is SKIPPED on rerun — checkpoint-resume with exactly the
  reference's no-clobber semantics (``should_overwrite``, copy.c:73-96: the
  existing destination is kept);
- a killed run leaves no committed table for the in-flight stage (parquet
  ``_SUCCESS`` marker / Iceberg snapshot atomicity), so the rerun recomputes
  exactly that stage — the analogue of ``cleanup_incomplete_file``
  (copy.c:28-67);
- per-stage metrics rows (rows out, wall seconds) and per-partition lineage
  rows generalize ``stats_t`` (include/cpdd.h:61-69) and feed the
  scaling-efficiency benches. Like ``stats_t`` they are counted in driver
  memory as each stage commits and reported once per run
  (``print_statistics``, copy.c:131-191): one append to ``metrics`` and one
  to ``lineage`` when ``run`` returns OR raises. A hard kill of the driver
  loses that run's rows but never a committed stage, and a resumed run
  records only the stages it recomputes.

Stage DAG::

    turns -> documents -> exact_clusters -> reps -+-> signatures -> verified_pairs -+
                                                  +-> substring_pairs --------------+-> clusters
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpdd_spark.assemble import assemble_documents
from cpdd_spark.cc import connected_components
from cpdd_spark.config import DedupConfig
from cpdd_spark.exact import exact_clusters, exact_pairs
from cpdd_spark.io import TableIO
from cpdd_spark.lsh import candidate_pairs
from cpdd_spark.signatures import compute_signatures
from cpdd_spark.substring import substring_pairs
from cpdd_spark.textfuncs import human_bytes
from cpdd_spark.verify import verify_pairs_sets


def materialize_clusters(clusters: DataFrame, docs: DataFrame) -> DataFrame:
    """R12 link-type 'hard/copy' mode (link_type_t,
    /root/reference/include/cpdd.h:46-50; copy_or_link copy.c:242-338):
    every cluster member row carries its CANONICAL's document content, so
    downstream consumers read deduplicated bytes without resolving edges —
    the storage analogue of cpdd materializing a link/copy per duplicate
    file. The default 'edges' mode emits only (conv_id, cluster_id) rows
    (cpdd's soft-link/none analogue: pointer, no content).

    One join, canonical side grouped first: the docs table is probed once
    per distinct canonical, then fanned out to members — no doc ever
    shuffles per-member."""
    canon_docs = docs.select(
        F.col("conv_id").alias("cluster_id"), F.col("doc").alias("canonical_doc")
    )
    return clusters.join(canon_docs, "cluster_id").select(
        "conv_id", "cluster_id", "canonical_doc"
    )


class DedupPipeline:
    """Resumable transcript dedup over a working directory of stage tables."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: DedupConfig = DedupConfig(),
        enable_substring: bool = True,
    ):
        self.spark = spark
        self.cfg = cfg
        self.io = TableIO(spark, workdir)
        self.enable_substring = enable_substring
        self.run_id = uuid.uuid4().hex[:12]
        self.stage_log: list[tuple[str, str]] = []  # (stage, 'computed'|'resumed')
        self._dirty = False  # an upstream stage recomputed -> downstream stale
        # computed stages' rows, pending until run() flushes them
        self._metrics_rows: list[tuple] = []
        self._lineage_rows: list[tuple] = []

    # ---- bookkeeping ----------------------------------------------------

    def _record(self, stage: str, df: DataFrame, t0: float, t1: float) -> None:
        """Count a committed stage into this run's pending metrics + lineage
        rows — stats_t generalized (include/cpdd.h:61-69, increments
        copy.c:267-333). One Spark job: the per-partition counts of the
        read-back table ARE the lineage rows, and their sum is the metrics
        row. Nothing is written here: :meth:`run` flushes every pending row
        in one append per table when it returns or raises, so a hard kill
        loses this run's rows but never the committed stage."""
        counts = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        self._lineage_rows.extend(
            (self.run_id, stage, r["partition_id"], r["count"]) for r in counts
        )
        n = sum(r["count"] for r in counts)
        self._metrics_rows.append((self.run_id, stage, n, t0, t1, t1 - t0))

    def _flush(self) -> None:
        """Write the pending rows: one append per table, none if no stage was
        computed. run_id partitioning: appends only ever CREATE a new
        partition directory (never touch prior runs' files), and reading one
        run's rows partition-prunes every other run."""
        if not self._metrics_rows:
            return
        lineage, self._lineage_rows = self._lineage_rows, []
        metrics, self._metrics_rows = self._metrics_rows, []
        self.io.append(
            self.spark.createDataFrame(
                lineage,
                "run_id string, stage string, partition_id int, rows long",
            ),
            "lineage",
            partition_by=["run_id"],
        )
        self.io.append(
            self.spark.createDataFrame(
                metrics,
                "run_id string, stage string, rows long, t_start double,"
                " t_end double, seconds double",
            ),
            "metrics",
            partition_by=["run_id"],
        )

    def _stage(
        self,
        name: str,
        compute,
        resume: bool,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """No-clobber stage execution: existing committed output is reused
        (should_overwrite semantics, copy.c:73-96). Once any stage recomputes
        in this run, every DOWNSTREAM stage recomputes too — a committed
        table derived from a stale upstream must not be trusted."""
        if resume and not self._dirty and self.io.exists(name):
            self.stage_log.append((name, "resumed"))
            return self.io.read(name)
        self._dirty = True
        t0 = time.time()
        self.io.write(compute(), name, partition_by=partition_by)
        t1 = time.time()
        df = self.io.read(name)
        self._record(name, df, t0, t1)
        self.stage_log.append((name, "computed"))
        return df

    # ---- the pipeline ----------------------------------------------------

    def run(
        self, turns: DataFrame, resume: bool = True, link_mode: str = "edges"
    ) -> DataFrame:
        """turns -> final ``clusters(conv_id, cluster_id)`` table.

        ``link_mode='materialize'`` additionally writes a ``clusters_docs``
        table with each member's canonical document (see
        :func:`materialize_clusters`); ``'edges'`` writes pointers only.
        """
        if link_mode not in ("edges", "materialize"):
            raise ValueError(f"link_mode must be 'edges' or 'materialize', got {link_mode!r}")
        # a raising stage still reports the stages that committed before it
        try:
            return self._run(turns, resume, link_mode)
        finally:
            self._flush()

    def _run(self, turns: DataFrame, resume: bool, link_mode: str) -> DataFrame:
        cfg = self.cfg

        docs = self._stage("documents", lambda: assemble_documents(turns), resume)
        # cfg.exact_verify='fingerprint' is the production scale mode: the
        # exact tier groups on (n_turns, doc_len, md5, xxh64) and never
        # shuffles document text (~50 B/doc instead of the corpus) — same
        # clusters, proven equivalent in tests/test_exact.py
        exact = self._stage(
            "exact_clusters",
            lambda: exact_clusters(docs, verify=cfg.exact_verify),
            resume,
        )

        # fuzzy tiers run over exact-cluster representatives only: identical
        # docs collapse before any signature work (tier layering == skew
        # defense #1; the reference scans refs once for all sources,
        # copy.c:465-483 — we persist the rep set once for all fuzzy tiers)
        reps = docs.join(
            exact.filter(F.col("conv_id") == F.col("cluster_id")).select("conv_id"),
            "conv_id",
        )

        # with_sets: the one fused Arrow pass also materializes each rep's
        # distinct shingle-hash set next to its signature, so the verify
        # stage below is pure JVM (array_intersect over the stored table —
        # no text joins, no Python workers; verify_pairs_sets docstring).
        # Band generation reads only (conv_id, n_shingles, minhash): the
        # set column is pruned at that scan.
        sigs = self._stage(
            "signatures",
            lambda: compute_signatures(reps, cfg, with_sets=True),
            resume,
        )
        if "shingles" not in sigs.columns:
            raise ValueError(
                f"committed 'signatures' table under {self.io.root!r} has no"
                " 'shingles' column (written before signatures carried shingle"
                " sets); rerun with resume=False or use a fresh workdir"
            )
        verified = self._stage(
            "verified_pairs",
            lambda: verify_pairs_sets(
                candidate_pairs(sigs, cfg),
                sigs.select("conv_id", "shingles"),
                cfg,
            ),
            resume,
        )

        edge_frames = [
            exact_pairs(exact),
            verified.select("a", "b"),
        ]
        if self.enable_substring:
            substr = self._stage(
                "substring_pairs", lambda: substring_pairs(reps, cfg), resume
            )
            edge_frames.append(substr.select("a", "b"))

        edges = edge_frames[0]
        for e in edge_frames[1:]:
            edges = edges.unionByName(e)

        # R15 dest-tree analogue (copy.c:196-239): the clusters table lands
        # hash-bucketed on conv_id (part_bucket == Iceberg bucket(conv_id)
        # spec via io.write(partition_by)) so member lookups and downstream
        # conv_id joins prune to one bucket instead of scanning the table
        clusters = self._stage(
            "clusters",
            lambda: connected_components(
                edges, vertices=docs.select("conv_id")
            ).withColumn(
                "part_bucket",
                F.pmod(F.crc32("conv_id"), F.lit(cfg.output_buckets)).cast("int"),
            ),
            resume,
            partition_by=["part_bucket"],
        )
        if link_mode == "materialize":
            self._stage(
                "clusters_docs",
                lambda: materialize_clusters(clusters, docs),
                resume,
            )
        return clusters

    # ---- reporting --------------------------------------------------------

    def stats(self) -> DataFrame:
        """Dedup disposition summary — print_statistics analogue
        (copy.c:131-191): canonical docs are 'copied', duplicate members are
        'linked', bytes_linked is the storage the dedup saves."""
        clusters = self.io.read("clusters")
        docs = self.io.read("documents").select("conv_id", "doc_len")
        return (
            clusters.join(docs, "conv_id")
            .withColumn(
                "disposition",
                F.when(F.col("conv_id") == F.col("cluster_id"), "canonical").otherwise(
                    "duplicate"
                ),
            )
            .groupBy("disposition")
            .agg(
                F.count(F.lit(1)).alias("convs"),
                F.sum("doc_len").alias("bytes"),
            )
            .withColumn("bytes_h", human_bytes("bytes"))
        )
