"""The benchmark's workloads: what each sets up and which statements a pass
runs. See README.md in this directory for why each workload exists."""

from __future__ import annotations

import os
from dataclasses import dataclass

INFER_SQL = "SELECT vec_id, argmax(clf(embedding)) AS predicted FROM feats"


@dataclass(frozen=True)
class Workload:
    name: str
    statements: tuple[str, ...]
    inputs: str  # "features" (seeded FLOAT[64] rows) or "tables" (seeded sf layout)
    scale: float  # feature rows, or the tables' scale factor
    rows_of: str  # the input whose rows `rows_per_s` counts
    files: int = 1  # parquet files the features are split into
    prewarm: bool = False  # build the session-staged relations in set-up


WORKLOADS = {
    w.name: w
    for w in (
        Workload("infer_scan", ("infer",), "features", 250_000, "feats", files=8),
        Workload(
            "corpus_ops",
            (
                "dedup_exact",
                "dedup_minhash_lsh",
                "sim_cosine_near_dup_lsh",
                "sim_semantic_dedup",
                "text_quality_stats",
                "text_gopher_rules",
                "text_lm_perplexity",
                "corpus_strip_dup_spans",
                "multimodal_dedup",
            ),
            "tables",
            0.01,
            "documents.parquet",
            prewarm=True,
        ),
    )
}

# the session-staged relations prewarm_staging builds, by its timing names
STAGING_COMPONENTS = (
    "hx_shingles", "sim_norms", "substring_grams", "unigrams", "payload_phash",
    "frame_phash", "doc_lines", "pack_tokens", "li_by_order", "url_index",
    "minhash_clusters", "bloom_filter", "containment_index", "quality_labels",
    "sim_assign", "sim_buckets",
)

PER_LAYER = (
    ["host.calib_s", "trace.overhead", "session.start_s", "sources.load_s",
     "engine.create_function_s", "engine.sql_s",
     "models.load_s", "models.batch_s", "models.forward_s", "models.flatten_s"]
    + [f"pyudf.{k}" for k in ("python_s", "boot_s", "init_s", "sent_mb", "received_mb", "rows")]
    + ["plans.build_s", "plans.build_jobs"]
    + [
        f"operators.{k}"
        for k in (
            "exec_s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "busy_ratio", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
        )
    ]
    + ["staging.prewarm_s", "staging.cached_mb"]
    + [f"staging.{c}_s" for c in STAGING_COMPONENTS]
    + [f"stmt.{s}_s" for w in WORKLOADS.values() for s in w.statements]
)


class Context:
    """One run's session and inputs, shared by set-up, passes and checks."""

    def __init__(self, spark, workload: Workload, inputs: str, work: str):
        self.spark = spark
        self.workload = workload
        self.inputs = inputs
        self.work = work
        self.engine = None

    def setup(self, tracer=None) -> None:
        """Register the inputs (and for inference the model UDF); build the
        staged relations when the workload reads them."""
        from contextlib import nullcontext

        span = tracer.span if tracer else (lambda _name: nullcontext())
        if self.workload.inputs == "features":
            from torchfusion_spark.engine import Engine
            from torchfusion_spark.models.fixtures import write_demo_model

            model = write_demo_model(os.path.join(self.work, "clf.npz"))
            self.engine = Engine(self.spark)
            with span("sources.load_s"):
                self.engine.sql(
                    "CREATE OR REPLACE TEMPORARY VIEW feats USING parquet "
                    f"OPTIONS (path '{self.inputs}/feats')"
                )
            with span("engine.create_function_s"):
                self.engine.sql("SET torchfusion.batch_size = 1024")
                self.engine.sql(
                    "CREATE OR REPLACE FUNCTION clf(FLOAT[]) RETURNS FLOAT[] "
                    f"LANGUAGE TORCH AS '{model}'"
                )
            return
        from torchfusion_spark.sources import load_tables

        with span("sources.load_s"):
            load_tables(self.spark, self.inputs)
        if self.workload.prewarm:
            from torchfusion_spark.staging import prewarm_staging

            timed = None
            if tracer:
                def timed(name, fn, *args):
                    with tracer.span(f"staging.{name}_s"):
                        fn(*args)

            with span("staging.prewarm_s"):
                prewarm_staging(self.spark, timed=timed)

    def build(self, statement: str):
        """The statement's DataFrame, built the way a user issues it."""
        if statement == "infer":
            return self.engine.sql(INFER_SQL)
        from torchfusion_spark.plans import REGISTRY

        return REGISTRY[statement].builder(self.spark, self.inputs)

    def check(self, statement: str) -> list[str]:
        """Collect the statement's result once and compare it with its oracle."""
        from . import oracle

        got = self.build(statement).toPandas()
        if statement == "infer":
            import numpy as np
            import pyarrow.parquet as pq

            t = pq.read_table(f"{self.inputs}/feats")
            x = t.column("embedding").combine_chunks().flatten().to_numpy()
            feats = np.asarray(x, dtype=np.float32).reshape(t.num_rows, -1)
            return oracle.check_predictions(got, feats, t.column("vec_id").to_numpy())
        from torchfusion_spark.plans import REGISTRY

        with oracle.duck_connection(self.inputs) as con:
            want = con.execute(REGISTRY[statement].oracle).df()
        return oracle.compare(got, want)
