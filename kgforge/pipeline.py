"""End-to-end pipeline: corpus → parse → extract → close redirects → dedup →
partitioned graph tables, with per-stage checkpoints + lineage for exact
resume (the north rule's resumability requirement; analog of the reference's
`.obj` caches Redirects.scala:110-139 and the extraction-complete marker,
destinations/MarkerDestination.scala).

Checkpoint contract: every stage writes parquet under
``<workdir>/<stage>/`` plus a row in ``<workdir>/_lineage`` recording
(stage, rows, wall_ms, content_sha_ok). A re-run skips any stage whose
output already exists (`_SUCCESS` present) — kill the job at any point and
rerun to get byte-identical output.
"""

from __future__ import annotations

import os
import time
from functools import cache, partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from .extractors import fused_quads, run_extractors
from .extractors.fused import make_infobox_props_udf
from .linker import entity_link_quads
from .mapping_engine import mapping_quads, table_mapping_quads, type_consistency
from .namespaces import TEMPLATE
from .parse import prepare
from .redirects import (
    dispatch_relevant_targets,
    template_redirect_map,
    transitive_redirect_quads,
)


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _lineage(spark: SparkSession, workdir: str, stage: str, rows: int, wall_ms: int, sha_ok: bool):
    spark.createDataFrame(
        [(stage, rows, wall_ms, sha_ok, time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))],
        "stage string, rows long, wall_ms long, content_sha_ok boolean, at string",
    ).write.mode("append").parquet(os.path.join(workdir, "_lineage"))


class Pipeline:
    """Stage-wise runner. With ``workdir=None`` everything stays in memory
    (tests); with a workdir every stage checkpoints and the run is resumable.

    ``fmt='iceberg'`` (SURVEY.md §1.3 target) writes each stage as an Iceberg
    table ``<iceberg_namespace>.<stage>`` via the writeTo V2 API
    (``partitionedBy('dataset')``); when the Iceberg runtime jar is absent
    the pipeline logs and falls back to parquet ``partitionBy`` — same
    layout, same resume contract."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str | None = None,
        fmt: str = "parquet",
        iceberg_namespace: str = "local.kgforge",
    ):
        self.spark = spark
        self.workdir = workdir
        self.iceberg_namespace = iceberg_namespace
        # table names must be keyed by the RUN (workdir), not just the stage
        # name, or a second pipeline over a different corpus would silently
        # resume from the previous run's tables (the parquet path keys on
        # workdir/name and must behave identically)
        import re as _re

        self._run_slug = (
            _re.sub(r"\W+", "_", workdir.strip("/"))[-48:].strip("_") + "_"
            if workdir
            else ""
        )
        if fmt == "iceberg" and not iceberg_available(spark):
            import warnings

            warnings.warn("Iceberg runtime jar not on classpath — falling back to parquet")
            fmt = "parquet"
        self.fmt = fmt
        self.stages: dict[str, DataFrame] = {}

    def _stage(
        self,
        name: str,
        compute,
        partition_cols: tuple[str, ...] = (),
        materialize: bool = True,
    ) -> DataFrame:
        """Compute (or resume) one stage and keep it in ``self.stages``."""
        if self.workdir is None:
            df = compute()
            if materialize:
                # materialize BEFORE fan-out, or the consumers race to
                # compute the same partitions. localCheckpoint, not persist:
                # the columnar cache of the nested parse rows cost ~3.9 s at
                # sf1.0 against ~0.4 s, at equal scan times, and a leaf plan
                # spares each consumer re-analyzing the DAG above it.
                # coalesce keeps the scans of a multi-branch union at one
                # task wave. (Resumable runs pass a workdir.) A stage with
                # one consumer stays lazy: the final action runs them all.
                df = df.coalesce(self.spark.sparkContext.defaultParallelism).localCheckpoint()
            self.stages[name] = df
            return df
        if self.fmt == "iceberg":
            table = f"{self.iceberg_namespace}.{self._run_slug}{name}"
            done = self.spark.catalog.tableExists(table)
            read = partial(self.spark.table, table)
        else:
            path = os.path.join(self.workdir, name)
            done = _exists(self.spark, path)
            read = partial(self.spark.read.parquet, path)
        if not done:
            t0 = time.time()
            df = compute()
            if self.fmt == "iceberg":
                w = df.writeTo(table).using("iceberg")
                if partition_cols:
                    w = w.partitionedBy(*[F.col(c) for c in partition_cols])
                w.createOrReplace()
            else:
                w = df.write.mode("overwrite")
                if partition_cols:
                    w = w.partitionBy(*partition_cols)
                w.parquet(path)
            out = read()
            sha_ok = True
            if "content_sha256" in out.columns:
                bad = out.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count()
                sha_ok = bad == 0
            _lineage(self.spark, self.workdir, name, out.count(), int((time.time() - t0) * 1000), sha_ok)
        self.stages[name] = read()
        return self.stages[name]

    def run(
        self,
        corpus: DataFrame,
        extractors: list[str] | None = None,
        mappings=None,
        ontology=None,
        wikidata_corpus: DataFrame | None = None,
    ) -> DataFrame:
        """``mappings``: optional rule set for the mapping engine — a flat
        {template: TemplateMapping} or the per-language
        {lang: {template: ...}} shape (mappings_loader.dump_mappings_by_lang
        loads the REAL community rules — the production configuration);
        ``ontology``: optional Ontology (ontology.full_ontology() for the
        complete harvested DBpedia ontology);
        ``wikidata_corpus``: optional second corpus whose ``content``
        column carries Wikidata entity JSON (items/properties/lexemes) —
        routed through the full wikidata extractor group as its own
        checkpointed stage, the reference's separate wikidata-dump run
        folded into one resumable job.

        This is the one assembly of the engine DAG: the shipped job and the
        driver's build cache (``__spark_entry__._engine_quads``) both run it.
        The staged frames stay in ``self.stages`` (``parsed``, ``quads``, …)
        for callers that derive more datasets from the same parse."""
        if extractors is None:
            # template-redirect map (Redirects.load analog): tiny driver-side
            # dict shipped inside the UDF closures, so infobox/mapping
            # dispatch sees through Template-ns redirects (resolveMap). Only
            # TEMPLATE-namespace pages feed it, and prepare()'s namespace
            # gate runs BEFORE the Python parse — so a Template-only
            # mini-parse resolves it ahead of the full parse stage, which
            # carries the infobox pass that needs it. Resolved only when a
            # stage that needs it is computed: a resumed run skips it.
            @cache
            def tred() -> dict[str, str]:
                return template_redirect_map(
                    prepare(corpus, namespaces=(TEMPLATE,)),
                    relevant_targets=dispatch_relevant_targets(),
                )

            def parse() -> DataFrame:
                # the infobox Arrow pass is the most expensive per-page step
                # and several consumers read its output (fused, cited facts,
                # the driver's hybrid and raw infobox queries): it runs ONCE,
                # into a shared ``_ib`` column that every consumer detects
                # and reuses (extractors/fused.py)
                ib = make_infobox_props_udf(tred())(F.col("lang"), F.col("templates"))
                return prepare(corpus).withColumn("_ib", ib)

            parsed = self._stage("parsed", parse)
            # fused single-pass generator (identical quad set; 1 scan not 21)
            # + the mapping engine (instance types, mapping-based statements)
            quads = self._stage(
                "quads",
                lambda: fused_quads(parsed, tred())
                .unionByName(mapping_quads(parsed, template_redirects=tred(),
                                           mappings=mappings, ontology=ontology))
                .unionByName(table_mapping_quads(parsed)),
                ("dataset",),
            )
        else:
            parsed = self._stage("parsed", lambda: prepare(corpus))
            quads = self._stage("quads", lambda: run_extractors(parsed, extractors), ("dataset",))
        transitive = self._stage(
            "transitive_redirects", lambda: transitive_redirect_quads(quads), materialize=False
        )
        consistency = self._stage("type_consistency", lambda: type_consistency(quads), materialize=False)
        links = self._stage("entity_links", lambda: entity_link_quads(parsed, quads), materialize=False)
        all_quads = quads.unionByName(transitive).unionByName(consistency).unionByName(links)
        if wikidata_corpus is not None:
            from .wikidata import wikidata_all_quads

            wd = self._stage(
                "wikidata_quads", lambda: wikidata_all_quads(wikidata_corpus), ("dataset",)
            )
            all_quads = all_quads.unionByName(wd)
        # DeduplicatingDestination analog: exact-duplicate quads dropped
        # (dropDuplicates does a partial aggregate before the shuffle)
        deduped = self._stage(
            "graph",
            lambda: all_quads.dropDuplicates(
                ["dataset", "subject", "predicate", "value", "datatype", "language"]
            ),
            ("dataset",),
            materialize=False,
        )
        return deduped


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    workdir: str | None = None,
    extractors: list[str] | None = None,
    fmt: str = "parquet",
    mappings=None,
    ontology=None,
    wikidata_corpus: DataFrame | None = None,
) -> DataFrame:
    return Pipeline(spark, workdir, fmt=fmt).run(
        corpus, extractors, mappings=mappings, ontology=ontology,
        wikidata_corpus=wikidata_corpus,
    )
