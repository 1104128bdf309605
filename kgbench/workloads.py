"""The two workloads: how each sets up, runs one operation, traces one
operation and checks its outputs.

Both are closed loops with one client: the next operation starts only after
the previous one has returned.

- ``batch_build``: the shipped ``jobs/extract.py`` shape with
  ``--wikidata-input``. A staged wikitext corpus and a staged Wikidata
  entity corpus go through ``pipeline.run_pipeline`` into a fresh workdir
  until the deduped, dataset-partitioned graph is written. The only
  workload where parse, extractors, mapping engine, redirects, linker,
  dedup and the (JVM-only) wikidata extractor group do the work.
- ``live_update``: one micro-batch of edited and new pages is dropped into
  the input directory and driven through ``live.start_live_stream``
  (availableNow) until the diff is published and the next store snapshot is
  committed. Parse and extraction touch only the batch; plan construction,
  the store-side diff join and the store rewrite dominate.
"""

from __future__ import annotations

import collections
import functools
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from kgforge import extractors, linker, live, mapping_engine, parse, pipeline, wikidata

from . import inputs as I

GRAPH_COLS = ["dataset", "subject", "predicate", "value", "datatype", "language"]


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _graph_keys(df) -> collections.Counter:
    """Multiset of graph rows as golden-key tuples (null datatype → '')."""
    pdf = df.select(*GRAPH_COLS).toPandas()
    pdf["datatype"] = pdf["datatype"].fillna("")
    return collections.Counter(map(tuple, pdf[GRAPH_COLS].itertuples(index=False, name=None)))


def _store_rows(df) -> collections.Counter:
    """Multiset of store rows ``(page_id, language, quads)``, each row as
    canonical JSON (the quads keep their order within the row)."""
    rows = df.select("page_id", "language", "quads").collect()
    return collections.Counter(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in rows)


def _pr(got, want) -> str:
    """Precision/recall on distinct quads, dataset ignored (``compare.quad_pr``)."""
    g, w = {t[1:] for t in got}, {t[1:] for t in want}
    m = len(g & w)
    return f"P={m / len(g) if g else 0:.6f} R={m / len(w) if w else 0:.6f} (engine={len(g)} golden={len(w)} matched={m})"


class Workload:
    """One workload bound to a session, a work directory and a seed."""

    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.report: dict[str, object] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def warm_up(self) -> None:
        """The session's first Python work, before any operation (part of
        set-up; the ``session`` layer's ``worker_warmup_s``)."""

    def setup(self) -> None:
        """Stage the inputs."""

    def op(self, k: int, tracer=None) -> tuple[int, float]:
        """Run operation ``k`` (from 1) and return (pages handled, its
        latency in seconds); with a tracer, record its layer spans."""
        raise NotImplementedError

    def check(self, k: int) -> bool:
        """Whether the output of operation ``k`` is correct."""
        raise NotImplementedError

    def final_check(self) -> bool:
        return True

    def trace_extras(self, tracer, groups) -> dict[str, float]:
        return {}


class BatchBuild(Workload):
    name = "batch_build"
    PAGES = 1000
    ENTITIES = 200
    WARM_PAGES = 100  # pages of the warm-up corpus

    def warm_up(self) -> None:
        # Each process starts its Python workers, and each worker sets up
        # the UDFs, once: run the Python layers (parse, extractors, mapping
        # engine) over a small corpus on every core, so that start-up is
        # set-up and not part of the timed build.
        path = self.path("warm.parquet")
        I.write_rows(I.wiki_pages(self.seed, 0, self.WARM_PAGES, self.WARM_PAGES), path)
        cores = self.spark.sparkContext.defaultParallelism
        pages = parse.prepare(self.spark.read.parquet(path).repartition(cores))
        for df in (extractors.fused_quads(pages), mapping_engine.mapping_quads(pages)):
            df.count()
        os.remove(path)

    def setup(self) -> None:
        I.write_rows(I.wiki_pages(self.seed, 0, self.PAGES, self.PAGES), self.path("corpus.parquet"))
        entities, self.wikidata_expected = I.wikidata_entities(self.seed, self.ENTITIES)
        I.write_rows(entities, self.path("entities.parquet"))

    @functools.cached_property
    def golden(self) -> set[tuple]:
        return I.golden_keys(self.seed, self.PAGES)

    @functools.cached_property
    def expected(self) -> collections.Counter:
        return collections.Counter(I.expected_graph(self.golden))

    def _build(self, workdir: str) -> None:
        read = self.spark.read.parquet
        pipeline.run_pipeline(self.spark, read(self.path("corpus.parquet")), workdir=workdir,
                              wikidata_corpus=read(self.path("entities.parquet")))

    def op(self, k: int, tracer=None) -> tuple[int, float]:
        wd = self.path(f"build{k}")
        t0 = time.perf_counter()
        if tracer is None:
            self._build(wd)
        else:
            self.traced_k = k
            targets = [(pipeline, "prepare", "parse", "materialize"),
                       (pipeline, "template_redirect_map", "redirects", "run"),
                       (pipeline, "fused_quads", "extractors", "materialize"),
                       (pipeline, "mapping_quads", "mapping_engine", "materialize"),
                       (pipeline, "table_mapping_quads", "mapping_engine", "materialize"),
                       (pipeline, "type_consistency", "mapping_engine", "materialize"),
                       (pipeline, "transitive_redirect_quads", "redirects", "materialize"),
                       (pipeline, "entity_link_quads", "linker", "materialize"),
                       (linker, "build_surface_forms", "linker", "materialize"),
                       (wikidata, "wikidata_all_quads", "wikidata", "materialize"),
                       # each checkpointed stage: write, content-sha re-read, count
                       (pipeline.Pipeline, "_stage", "pipeline", "run")]
            with tracer.patched(targets):
                self._build(wd)
        return self.PAGES, time.perf_counter() - t0

    def check(self, k: int) -> bool:
        """The wikitext part of the written graph equals the expected graph
        row for row, per dataset (P/R against the raw golden oracle is
        reported beside it); the Wikidata part has the rows per dataset
        reconstructed from the entity documents."""
        wd = self.path(f"build{k}")
        got = _graph_keys(self.spark.read.parquet(os.path.join(wd, "graph")))
        if k != getattr(self, "traced_k", None):
            shutil.rmtree(wd, ignore_errors=True)
        wiki = collections.Counter({t: c for t, c in got.items() if not t[0].startswith("wikidata_")})
        wd_rows = collections.Counter()
        for t, c in got.items():
            if t[0].startswith("wikidata_"):
                wd_rows[t[0]] += c
        per_ds = collections.Counter()
        for t, c in wiki.items():
            per_ds[t[0]] += c
        self.report.update({
            "expected_pr": _pr(wiki, self.expected),
            "golden_pr": _pr(wiki, self.golden),
            "rows_per_dataset": dict(sorted(per_ds.items())),
            "wikidata_rows_per_dataset": dict(sorted(wd_rows.items())),
        })
        return wiki == self.expected and wd_rows == self.wikidata_expected

    def trace_extras(self, tracer, groups) -> dict[str, float]:
        parsed = tracer.outputs["prepare"]
        lineage = {r.stage: r.rows for r in
                   self.spark.read.parquet(self.path(f"build{self.traced_k}", "_lineage")).collect()}
        into_dedup = sum(lineage[s] for s in lineage if s not in ("parsed", "graph"))
        pipe = groups.get("pipeline", {})
        return {
            "parse.pages_kept_frac": tracer.rows["parse"] / self.PAGES,
            "parse.degraded_pages": parsed.filter(F.col("parse_errors") > 0).count(),
            "redirects.closure_rows": tracer.outputs["transitive_redirect_quads"].count(),
            "linker.dict_rows": tracer.outputs["build_surface_forms"].count(),
            "linker.links_out": tracer.outputs["entity_link_quads"].count(),
            "pipeline.jobs_per_stage": pipe.get("jobs", 0) / len(lineage),
            "pipeline.dedup_kept_frac": lineage["graph"] / into_dedup,
        }


class _TracedWrite:
    """Stands in for ``apply_batch``'s DataFrame inside the live micro-batch
    so that the snapshot write that follows it runs under the ``live``
    span; every other attribute is the DataFrame's own."""

    def __init__(self, df, tracer):
        self._df, self._tracer, self._mode = df, tracer, None

    def __getattr__(self, attr):
        return getattr(self._df, attr)

    @property
    def write(self):
        return self

    def mode(self, mode: str):
        self._mode = mode
        return self

    def parquet(self, path: str) -> None:
        with self._tracer.span("live", "apply_batch.write"):
            self._df.write.mode(self._mode or "errorifexists").parquet(path)


class LiveUpdate(Workload):
    name = "live_update"
    STORE_PAGES = 300
    BATCH = 75  # edited pages per micro-batch; as many new pages again

    def warm_up(self) -> None:
        # the initial store: micro-batch 0 runs the whole base corpus through
        # the stream, which starts and warms the Python workers
        self.feed = I.LiveFeed(self.seed, self.STORE_PAGES, self.BATCH)
        for d in ("in", "landing"):
            os.makedirs(self.path(d), exist_ok=True)
        self._land("b00000.parquet", self.feed.base_rows())
        self._drive(0)

    def _land(self, name: str, rows: list[dict]) -> None:
        tmp = self.path("landing", name)
        I.write_rows(rows, tmp)
        os.replace(tmp, self.path("in", name))

    def _drive(self, k: int, start=None) -> None:
        start = start or live.start_live_stream
        q = start(self.spark, self.path("in"), self.path("store"), self.path("pub"), self.path("ckpt"))
        q.awaitTermination(170)
        if q.isActive:
            q.stop()
            raise TimeoutError(f"micro-batch {k} did not finish")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def op(self, k: int, tracer=None) -> tuple[int, float]:
        self._land(f"b{k:05d}.parquet", self.feed.batch_rows(k))
        t0 = time.perf_counter()  # the batch file has landed
        self.last = k
        if tracer is None:
            self._drive(k)
            return 2 * self.BATCH, time.perf_counter() - t0
        targets = [(parse, "prepare", "parse", "materialize"),
                   (live, "page_store", "live", "materialize"),
                   (live, "live_diff", "live", "materialize"),
                   (live, "write_diff", "emit", "run")]
        real_apply = live.apply_batch

        def apply_batch(store, batch_store, deleted_pages=None):
            df = tracer.call("live", "apply_batch", real_apply, (store, batch_store, deleted_pages), mode="lazy")
            return _TracedWrite(df, tracer)

        with tracer.patched(targets):
            live.apply_batch = apply_batch
            try:
                self._drive(k, tracer.wrap("live", "start_live_stream", live.start_live_stream, "lazy"))
            finally:
                live.apply_batch = real_apply
        return 2 * self.BATCH, time.perf_counter() - t0

    def check(self, k: int) -> bool:
        """Micro-batch ``k`` committed its snapshot and published its diff."""
        return _committed(self.path("store", f"v={k}")) and _committed(self.path("pub", f"batch={k}", "added"))

    def final_check(self) -> bool:
        """The last snapshot equals ``page_store`` rebuilt from scratch over
        the edited corpus."""
        path = self.path("edited.parquet")
        I.write_rows(self.feed.edited_rows(), path)
        rebuilt = _store_rows(live.page_store(parse.prepare(self.spark.read.parquet(path))))
        final = _store_rows(self.spark.read.parquet(self.path("store", f"v={self.last}")))
        extra, missing = sum((final - rebuilt).values()), sum((rebuilt - final).values())
        self.report.update({"store_pages": sum(final.values()), "snapshot_extra": extra, "snapshot_missing": missing})
        return extra == 0 and missing == 0

    def trace_extras(self, tracer, groups) -> dict[str, float]:
        return {
            "parse.pages_kept_frac": tracer.rows["parse"] / (2 * self.BATCH),
            "parse.degraded_pages": tracer.outputs["prepare"].filter(F.col("parse_errors") > 0).count(),
            "live.diff_rows": tracer.outputs["live_diff"].count(),
            "live.store_bytes_rewritten_per_changed_page":
                groups.get("live", {}).get("bytes_written", 0.0) / (2 * self.BATCH),
        }


WORKLOADS = {w.name: w for w in (BatchBuild, LiveUpdate)}
