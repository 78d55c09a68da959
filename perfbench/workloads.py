"""The four workloads. Each is a closed loop with one client: ``op(i)`` is
timed, ``check(i, result)`` runs outside the timed window and says whether
the op's output was correct.

Why these four (see README.md for the full rationale):
- rad_ingest: the reference job, the only one through sources.pdf,
  operators.rad_pipeline and catalog.txn; Python/Arrow parse boundary and
  copy-on-write amplification, reads beside writes, almost no shuffle.
- olap_mix: catalog.io scans, Catalyst planning, joins and shuffle; no
  Python UDFs, writes or llm, so changes there must leave it flat.
- llm_curation: shuffle-, self-join- and skew-heavy iterative llm.* passes.
- event_stream: the only workload through streaming and the state store.
BENCHMARK.json lists the first two; the last two run only by hand, because
their runs do not fit its time budget (README.md, "Run budget").
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from spans import duration, per_op, stage

from rad_database_parse_spark.catalog import io as cio
from rad_database_parse_spark.catalog import txn
from rad_database_parse_spark.llm.cluster import neardup_cluster_assign
from rad_database_parse_spark.llm.dedup import (
    exact_dedup_by_hash,
    minhash_lsh_candidates,
    minhash_signatures,
)
from rad_database_parse_spark.llm.similarity import ivf_assign, ivf_cosine_topk
from rad_database_parse_spark.llm.text import language_id, quality_score, tfidf_top_terms
from rad_database_parse_spark.operators.measures import parse_measure
from rad_database_parse_spark.operators.rad_pipeline import reference_rad_rows
from rad_database_parse_spark.registry import all_queries
from rad_database_parse_spark.sources.files import read_binary_dir
from rad_database_parse_spark.sources.pdf import extract_pdf_cells
from rad_database_parse_spark.streaming import events as sev


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    name = ""
    LAYERS: dict[str, str] = {}  # per-layer metric -> unit, for a traced run

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.spark = None

    def generate(self) -> None:
        """Write the inputs every set-up needs (untimed)."""

    def setup(self, spark) -> None:
        """Per-session preparation plus warm-up; timed as part of setup_s."""
        self.spark = spark

    def teardown(self) -> None:
        """Release what ``setup`` started before the session stops."""

    def prepare(self, i: int) -> None:
        """Write op ``i``'s input files (untimed)."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> bool:
        raise NotImplementedError

    def finish(self) -> int:
        """End-of-run correctness checks; returns the number that failed."""
        return 0

    def report(self, ops: list, latencies: list) -> dict:
        """Workload-specific end-to-end figures (name -> (value, unit))."""
        return {}

    def layers(self, ops: list) -> dict:
        """Per-layer figures of a traced run (name -> (value, unit))."""
        return {}


# ----------------------------------------------------------------------
class RadIngest(Workload):
    """Op i ingests batch i + WARM of compendium PDFs (read_binary_dir ->
    reference_rad_rows -> catalog.txn.merge_upsert_txn), then runs a
    parametric search over the new snapshot (read_snapshot +
    operators.measures). The warm-up does the same with the first WARM
    batches."""

    name = "rad_ingest"
    KEY_SEP = "\x1f"
    WARM = 2  # after one cold round the next op still runs 10-40 % slower
    LAYERS = {
        "catalog.txn.commit_s": "s",
        "catalog.txn.bytes_written_per_row": "B/row",
        "catalog.txn.files_per_snapshot": "count",
        "catalog.txn.conflict_retries": "count",
        "sources.pdf.extract_s": "s",
        "sources.pdf.pages": "count",
        "sources.pdf.cells": "count",
        "sources.pdf.files_skipped": "count",
        "sources.pdf.pages_per_task_s": "pages/s",
        "operators.rad_pipeline.self_s": "s",
        "operators.rad_pipeline.landed_ratio": "ratio",
        "operators.measures.search_s": "s",
    }

    def __init__(self, *a):
        super().__init__(*a)
        self.table = os.path.join(self.work, "table")
        self.batches: dict[int, gen.PdfBatch] = {}
        self.expected: set = set()
        self.landed: dict[int, int] = {}
        self.commit_stats: dict[int, dict] = {}
        self.parts: dict[int, tuple[float, float]] = {}  # op -> (ingest s, search s)
        self._rows_before = 0

    def _batch_dir(self, b: int) -> str:
        return os.path.join(self.work, "pdf", f"batch{b}")

    def _write_batch(self, b: int) -> None:
        self.batches[b] = gen.pdf_batch(self.seed, b)
        gen.write_pdf_batch(self.batches[b], self._batch_dir(b))

    def generate(self):
        for b in range(self.WARM):
            self._write_batch(b)

    def prepare(self, i):
        self._write_batch(i + self.WARM)

    def _keyed_rows(self, batch_dir: str):
        spark, tr = self.spark, self.tracer
        bf = read_binary_dir(spark, batch_dir)
        with tr.span("operators.rad_pipeline") as s:
            if s is not None:
                # traced run: materialize the extract boundary once; the
                # pipeline's own extract_pdf_cells call reads this cache
                with tr.span("sources.pdf.extract") as e:
                    cells = extract_pdf_cells(bf).persist()
                    row = cells.agg(
                        F.countDistinct("doc_filename", "page").alias("pages"),
                        F.count("*").alias("cells"),
                        F.countDistinct(F.when(F.col("row_idx") > 0, F.struct(
                            "doc_filename", "page", "table_idx", "row_idx"))).alias("rows"),
                    ).collect()[0]
                    e["pages"], e["cells"], e["rows"] = row["pages"], row["cells"], row["rows"]
                    e["files"] = bf.count()
                    e["files_with_cells"] = cells.select("doc_filename").distinct().count()
            rows = reference_rad_rows(spark, bf)
            key = F.sha2(
                F.concat_ws(self.KEY_SEP, "doc_filename",
                            *[F.coalesce(F.col(c), F.lit("\x00")) for c in gen.CANONICAL]),
                256,
            )
            keyed = rows.withColumn("row_key", key)
            if s is not None:
                keyed = keyed.persist()
                keyed.count()
                cells.unpersist()
        return keyed

    def _new_table(self) -> None:
        cols = ["doc_filename", "doc_title"] + gen.CANONICAL + ["row_key"]
        empty = self.spark.createDataFrame([], ", ".join(f"{c} string" for c in cols))
        txn.commit(self.spark, self.table, empty, op="create", expected_version=None)

    def _ingest(self, b: int) -> int:
        keyed = self._keyed_rows(self._batch_dir(b))
        with self.tracer.span("catalog.txn.commit"):
            return txn.merge_upsert_txn(self.spark, self.table, keyed, "row_key")

    def setup(self, spark):
        super().setup(spark)
        self._new_table()
        for b in range(self.WARM):
            self._ingest(b)
            self._search(b)
            self.expected |= self.batches.pop(b).expected
        self._rows_before = len(self._snapshot_rows())

    def _search_params(self, i: int) -> tuple[float, float]:
        r = gen.rng_for(self.seed, "search", i)
        return r.choice([1.0, 10.0, 50.0]), r.choice([5.0, 20.0, 50.0])

    def _search(self, i: int):
        max_dose, min_deg = self._search_params(i)
        with self.tracer.span("catalog.txn.read_snapshot"):
            snap = txn.read_snapshot(self.spark, self.table)
        with self.tracer.span("operators.measures.search"):
            p = parse_measure(parse_measure(snap, "dose_rate"), "degradation_level")
            return p.filter(
                (F.col("dose_rate_parsed.value") <= max_dose)
                & (F.col("degradation_level_parsed.value") >= min_deg)
            ).select("doc_filename", "part_number").distinct().collect()

    def op(self, i):
        t0 = time.perf_counter()
        base = txn.latest_version(self.table)
        version = self._ingest(i + self.WARM)
        t1 = time.perf_counter()
        found = self._search(i + self.WARM)
        self.parts[i] = (t1 - t0, time.perf_counter() - t1)
        return base, version, found

    def _snapshot_rows(self) -> set:
        rows = txn.read_snapshot(self.spark, self.table).select(
            "doc_filename", *gen.CANONICAL
        ).collect()
        return {tuple(r) for r in rows}

    def check(self, i, result):
        base, version, found = result
        self.expected |= self.batches.pop(i + self.WARM).expected
        landed = self._snapshot_rows()
        self.landed[i] = len(landed) - self._rows_before
        self._rows_before = len(landed)
        if self.tracer.enabled:
            with open(txn._manifest_path(self.table, version)) as f:
                files = json.load(f)["files"]
            nbytes = nfiles = 0
            for d in files:
                for name in os.listdir(d):
                    if name.endswith(".parquet"):
                        nfiles += 1
                        nbytes += os.path.getsize(os.path.join(d, name))
            self.commit_stats[i] = {
                "bytes_per_row": nbytes / max(self.landed[i], 1),
                "files": nfiles,
                "retries": version - base - 1,
            }
        want = gen.search_expected(self.expected, *self._search_params(i + self.WARM))
        return landed == self.expected and {(r[0], r[1]) for r in found} == want

    def report(self, ops, latencies):
        ingest = [self.parts[i][0] for i in ops if i in self.parts]
        return {
            "rows_landed_per_s": (sum(self.landed.values()) / max(sum(ingest), 1e-9), "rows/s"),
            "ingest_p50_s": (_median(ingest), "s"),
            "search_p50_s": (_median(self.parts[i][1] for i in ops if i in self.parts), "s"),
        }

    def layers(self, ops):
        tr = self.tracer
        ingest = search = ops
        pipe = [s for s in tr.spans if s["name"] == "operators.rad_pipeline" and s["op"] in ingest]
        ext = [s for s in tr.spans if s["name"] == "sources.pdf.extract" and s["op"] in ingest]
        extract_s = per_op(tr, ingest, "sources.pdf.extract", duration)
        task_s = sum(stage("task_ms")(s) for s in ext) / 1000.0
        data_rows = sum(s["rows"] for s in ext)
        cs = [self.commit_stats[i] for i in ingest if i in self.commit_stats]
        return {
            "sources.pdf.extract_s": (_median(extract_s), "s"),
            "sources.pdf.pages": (_median(s["pages"] for s in ext), "count"),
            "sources.pdf.cells": (_median(s["cells"] for s in ext), "count"),
            "sources.pdf.files_skipped": (_median(s["files"] - s["files_with_cells"] for s in ext), "count"),
            "sources.pdf.pages_per_task_s": (sum(s["pages"] for s in ext) / max(task_s, 1e-9), "pages/s"),
            "operators.rad_pipeline.self_s": (_median(tr.self_time(s) for s in pipe), "s"),
            "operators.rad_pipeline.landed_ratio": (
                sum(self.landed[i] for i in ingest) / max(data_rows, 1), "ratio"),
            "operators.measures.search_s": (
                _median(per_op(tr, search, "operators.measures.search", duration)), "s"),
            "catalog.txn.commit_s": (_median(per_op(tr, ingest, "catalog.txn.commit", duration)), "s"),
            "catalog.txn.bytes_written_per_row": (_median(c["bytes_per_row"] for c in cs), "B/row"),
            "catalog.txn.files_per_snapshot": (_median(c["files"] for c in cs), "count"),
            "catalog.txn.conflict_retries": (float(sum(c["retries"] for c in cs)), "count"),
        }


# ----------------------------------------------------------------------
OLAP_MIX = [
    ("q1_pricing_summary", ["lineitem"]),
    ("q3_shipping_priority", ["customer", "orders", "lineitem"]),
    ("q5_revenue_by_nation", ["customer", "orders", "lineitem", "supplier", "nation", "region"]),
    ("q18_large_volume_orders", ["customer", "orders", "lineitem"]),
    ("window_topk_per_customer", ["orders"]),
    ("agg_rollup_region_nation", ["customer", "nation", "region"]),
    ("sessionize_events", ["events"]),
    ("funnel_view_click_purchase", ["events"]),
    ("asof_last_view_before_purchase", ["events"]),
]


def _canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v))
                              else tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def frames_match(a: pd.DataFrame, b: pd.DataFrame, rel: float = 1e-9) -> bool:
    """Same columns and the same multiset of rows; floats to ``rel``."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    a, b = _canon_frame(a), _canon_frame(b)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind in "fc" or y.dtype.kind in "fc":
            x, y = x.astype(float), y.astype(float)
            if not np.allclose(x, y, rtol=rel, atol=1e-9, equal_nan=True):
                return False
        elif [None if pd.isna(v) else v for v in x] != [None if pd.isna(v) else v for v in y]:
            return False
    return True


class OlapMix(Workload):
    """One op is one pass over OLAP_MIX: each of its registry queries in an order
    drawn from the seed, each collected to the client. The warm-up is WARM
    passes in registry order."""

    name = "olap_mix"
    WARM = 2  # after one cold pass the next still runs 10-40 % slower
    LAYERS = {
        "catalog.io.load_s": "s",
        "catalog.io.scan_bytes": "B",
        "catalog.io.scan_rows": "count",
        "registry.plan_s": "s",
        "registry.exec_s": "s",
        "registry.shuffle_bytes": "B",
        "registry.spill_bytes": "B",
        "registry.tasks": "count",
        "registry.core_busy_ratio": "ratio",
        **{f"registry.{q}_s": "s" for q, _ in OLAP_MIX},
    }

    def __init__(self, *a):
        super().__init__(*a)
        self.data = os.path.join(self.work, "olap")
        self.queries = all_queries()
        self.order = [q for q, _ in OLAP_MIX]
        gen.rng_for(self.seed, "olap-order").shuffle(self.order)
        self.checked = False

    def generate(self):
        gen.write_tables(gen.olap_tables(self.seed), self.data)

    def setup(self, spark):
        super().setup(spark)
        for _ in range(self.WARM):  # first codegen of every plan, then JIT
            for name, _ in OLAP_MIX:
                self.queries[name].fn(spark, self.data).toPandas()

    def _query(self, name: str) -> pd.DataFrame:
        tr = self.tracer
        if tr.enabled:
            with tr.span("catalog.io.load"):
                for t in dict(OLAP_MIX)[name]:
                    cio.load_table(self.spark, self.data, t).write.format("noop").mode("overwrite").save()
        with tr.span(f"registry.{name}"):
            df = self.queries[name].fn(self.spark, self.data)
            with tr.span("registry.plan"):
                if tr.enabled:
                    df._jdf.queryExecution().executedPlan()
            with tr.span("registry.exec"):
                return df.toPandas()

    def op(self, i):
        return {name: self._query(name) for name in self.order}

    def check(self, i, results):
        """Every query against its DuckDB oracle, on the run's first pass."""
        if self.checked:
            return True
        self.checked = True
        con = duckdb.connect()
        try:
            for t in cio.TESTDATA_TABLES[:8]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            bad = [name for name, got in results.items()
                   if not frames_match(got, con.execute(self.queries[name].oracle).fetchdf())]
        finally:
            con.close()
        if bad:
            print(f"perfbench: olap_mix results differ from the oracle: {bad}", file=sys.stderr)
        return not bad

    def layers(self, ops):
        tr = self.tracer
        out = {
            "catalog.io.load_s": (_median(per_op(tr, ops, "catalog.io.load", duration)), "s"),
            "catalog.io.scan_bytes": (_median(per_op(tr, ops, "catalog.io.load", stage("input_bytes"))), "B"),
            "catalog.io.scan_rows": (_median(per_op(tr, ops, "catalog.io.load", stage("input_rows"))), "count"),
            "registry.plan_s": (_median(per_op(tr, ops, "registry.plan", duration)), "s"),
            "registry.exec_s": (_median(per_op(tr, ops, "registry.exec", duration)), "s"),
        }
        q_names = {f"registry.{q}" for q, _ in OLAP_MIX}
        q_spans = [s for s in tr.spans if s["name"] in q_names]
        fams = {s["id"]: s for s in q_spans}
        sub = [s for s in tr.spans if s["parent"] in fams]
        every = q_spans + sub
        shuffle = sum(stage("shuffle_write_bytes")(s) for s in every)
        spill = sum(stage("spill_bytes")(s) for s in every)
        tasks = sum(stage("tasks")(s) for s in every)
        task_s = sum(stage("task_ms")(s) for s in every) / 1000.0
        wall = sum(duration(s) for s in q_spans)
        n = max(len(q_spans), 1)
        out.update({
            "registry.shuffle_bytes": (shuffle / n, "B"),
            "registry.spill_bytes": (spill / n, "B"),
            "registry.tasks": (tasks / n, "count"),
            "registry.core_busy_ratio": (task_s / max(wall * int(os.environ["SPARK_GRAFT_CPUS"]), 1e-9), "ratio"),
        })
        for name, _ in OLAP_MIX:
            vals = [duration(s) for s in q_spans if s["name"] == f"registry.{name}"]
            out[f"registry.{name}_s"] = (_median(vals), "s")
        return out


# ----------------------------------------------------------------------
class LlmCuration(Workload):
    """One op is a curation pass over one corpus shard: exact dedup ->
    minhash signatures / LSH candidates -> near-dup clusters -> quality and
    language filter -> TF-IDF top terms, then a batch of IVF top-10
    searches over the shard's embeddings."""

    name = "llm_curation"
    LAYERS = {
        "llm.dedup.exact_s": "s",
        "llm.dedup.minhash_s": "s",
        "llm.dedup.lsh_s": "s",
        "llm.dedup.candidate_pairs": "count",
        "llm.dedup.verified_ratio": "ratio",
        "llm.dedup.shuffle_bytes": "B",
        "llm.dedup.task_skew": "ratio",
        "llm.cluster.components_s": "s",
        "llm.cluster.clusters": "count",
        "llm.text.filter_s": "s",
        "llm.text.tfidf_s": "s",
        "llm.similarity.ivf_build_s": "s",
        "llm.similarity.ivf_topk_s": "s",
    }
    K = 10
    N_CENTROIDS = 16
    NPROBE = 4
    DEDUP_RECALL_FLOOR = 0.9
    SEARCH_RECALL_FLOOR = 0.8
    LANG_ACCURACY_FLOOR = 0.95

    def __init__(self, *a):
        super().__init__(*a)
        self.shards: dict[int, gen.CorpusShard] = {}
        self.dedup_recall: list[float] = []
        self.search_recall: list[float] = []
        self.docs: dict[int, int] = {}
        self.lsh_stats: dict[int, dict] = {}
        self.n_clusters: dict[int, int] = {}

    def _shard_dir(self, s: int) -> str:
        return os.path.join(self.work, "corpus", f"shard{s}")

    def prepare(self, s):
        self.shards[s] = gen.corpus_shard(self.seed, s)
        gen.write_corpus_shard(self.shards[s], self._shard_dir(s))

    def _pass(self, s: int) -> dict:
        spark, tr = self.spark, self.tracer
        d = self._shard_dir(s)
        out: dict = {}
        docs = cio.load_table(spark, d, "documents")
        with tr.span("llm.dedup.exact"):
            exact = exact_dedup_by_hash(docs, "text", "doc_id").persist()
            out["kept"] = exact.count()
        with tr.span("llm.dedup.minhash"):
            out["sigs"] = minhash_signatures(exact, "text", "doc_id").toPandas()
        with tr.span("llm.dedup.lsh"):
            pairs = minhash_lsh_candidates(exact, "text", "doc_id").persist()
            out["pairs"] = pairs.count()
        with tr.span("llm.cluster.components"):
            out["clusters"] = neardup_cluster_assign(exact, pairs).toPandas()
        with tr.span("llm.text.filter"):
            out["filter"] = (
                quality_score(exact, "text", "doc_id")
                .join(language_id(exact, "text", "doc_id"), "doc_id")
                .join(exact.select("doc_id", "lang"), "doc_id")
                .groupBy("predicted_lang")
                .agg(F.count("*").alias("n"),
                     F.sum((F.col("predicted_lang") == F.col("lang")).cast("int")).alias("right"),
                     F.sum((F.col("quality") >= 0.5).cast("int")).alias("good"))
                .collect()
            )
        with tr.span("llm.text.tfidf"):
            out["tfidf"] = tfidf_top_terms(exact, "text", "doc_id", k=3).agg(
                F.count("*").alias("n"), F.countDistinct("doc_id").alias("docs")
            ).collect()[0]
        emb = cio.load_table(spark, d, "embeddings")
        shard = self.shards[s]
        with tr.span("llm.similarity.ivf_build"):
            step = shard.embeddings.num_rows // self.N_CENTROIDS
            first = int(shard.embeddings.column("vec_id")[0].as_py())
            cents = emb.filter(((F.col("vec_id") - first) % step == 0)).limit(self.N_CENTROIDS)
            cents = spark.createDataFrame(cents.collect(), emb.schema)
            out["lists"] = ivf_assign(emb, cents, 1).groupBy("cent_id").count().collect()
        with tr.span("llm.similarity.ivf_topk"):
            queries = emb.filter(F.col("vec_id").isin(shard.query_ids))
            out["topk"] = ivf_cosine_topk(queries, emb, cents, k=self.K, nprobe=self.NPROBE).collect()
        pairs.unpersist()
        exact.unpersist()
        return out

    def generate(self):
        self.prepare(10_000)

    def setup(self, spark):
        super().setup(spark)
        self._pass(10_000)

    def op(self, i):
        return self._pass(i)

    def check(self, i, out):
        shard = self.shards[i]
        ok = out["kept"] == shard.n_docs - len(shard.exact_groups)
        cl = dict(zip(out["clusters"]["doc_id"], out["clusters"]["cluster_id"]))
        found = sum(cl.get(a) is not None and cl.get(a) == cl.get(b) for a, b in shard.near_pairs)
        self.dedup_recall.append(found / max(len(shard.near_pairs), 1))
        truth = gen.exact_topk(shard.embeddings, shard.query_ids, self.K)
        got: dict[int, set] = {}
        for r in out["topk"]:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rec = statistics.mean(len(got.get(q, set()) & set(t)) / self.K for q, t in truth.items())
        self.search_recall.append(rec)
        n = sum(r["n"] for r in out["filter"])
        right = sum(r["right"] for r in out["filter"])
        ok &= n == out["kept"] and right / max(n, 1) >= self.LANG_ACCURACY_FLOOR
        ok &= out["tfidf"]["docs"] == out["kept"]
        ok &= sum(r["count"] for r in out["lists"]) == shard.embeddings.num_rows
        ok &= self.dedup_recall[-1] >= self.DEDUP_RECALL_FLOOR
        ok &= rec >= self.SEARCH_RECALL_FLOOR
        self.docs[i] = shard.n_docs
        sizes = out["clusters"]["cluster_id"].value_counts()
        self.n_clusters[i] = int((sizes > 1).sum())
        if self.tracer.enabled:
            self.lsh_stats[i] = {"candidates": self._banded_candidates(out["sigs"]),
                                 "verified": out["pairs"]}
        return bool(ok)

    @staticmethod
    def _banded_candidates(sigs: pd.DataFrame, band_size: int = 4) -> int:
        """Doc pairs that share at least one LSH band: the compares the
        verify step has to make before the Jaccard threshold."""
        wide = sigs.pivot(index="doc_id", columns="hash_idx", values="minhash")
        pairs: set = set()
        for b in range(wide.shape[1] // band_size):
            cols = list(range(b * band_size, (b + 1) * band_size))
            for _, grp in wide.groupby(cols).groups.items():
                ids = sorted(grp)
                pairs.update((ids[x], ids[y]) for x in range(len(ids)) for y in range(x + 1, len(ids)))
        return len(pairs)

    def report(self, ops, latencies):
        return {
            "docs_per_s": (sum(self.docs.get(i, 0) for i in ops) / max(sum(latencies), 1e-9), "docs/s"),
            "dedup_recall": (_median(self.dedup_recall), "ratio"),
            "search_recall_at_10": (_median(self.search_recall), "ratio"),
        }

    def layers(self, ops):
        tr = self.tracer
        cand = sum(v["candidates"] for v in self.lsh_stats.values())
        ver = sum(v["verified"] for v in self.lsh_stats.values())
        dedup_names = ("llm.dedup.exact", "llm.dedup.minhash", "llm.dedup.lsh")
        shuffle = [sum(stage("shuffle_write_bytes")(s) for s in tr.op_spans(op)
                       if s["name"] in dedup_names) for op in ops]
        skew = [s["task_skew"] for s in tr.spans if s["name"] == "llm.dedup.lsh" and "task_skew" in s]
        return {
            "llm.dedup.exact_s": (_median(per_op(tr, ops, "llm.dedup.exact", duration)), "s"),
            "llm.dedup.minhash_s": (_median(per_op(tr, ops, "llm.dedup.minhash", duration)), "s"),
            "llm.dedup.lsh_s": (_median(per_op(tr, ops, "llm.dedup.lsh", duration)), "s"),
            "llm.dedup.candidate_pairs": (cand / max(len(self.lsh_stats), 1), "count"),
            "llm.dedup.verified_ratio": (ver / max(cand, 1), "ratio"),
            "llm.dedup.shuffle_bytes": (_median(shuffle), "B"),
            "llm.dedup.task_skew": (_median(skew), "ratio"),
            "llm.cluster.components_s": (_median(per_op(tr, ops, "llm.cluster.components", duration)), "s"),
            "llm.cluster.clusters": (_median(self.n_clusters.get(i, 0) for i in ops), "count"),
            "llm.text.filter_s": (_median(per_op(tr, ops, "llm.text.filter", duration)), "s"),
            "llm.text.tfidf_s": (_median(per_op(tr, ops, "llm.text.tfidf", duration)), "s"),
            "llm.similarity.ivf_build_s": (_median(per_op(tr, ops, "llm.similarity.ivf_build", duration)), "s"),
            "llm.similarity.ivf_topk_s": (_median(per_op(tr, ops, "llm.similarity.ivf_topk", duration)), "s"),
        }


# ----------------------------------------------------------------------
class EventStream(Workload):
    """Event files replayed one per trigger into four streaming queries
    (sessionized_stream, tumbling_counts, stateful_user_totals,
    streaming_dedup) with memory sinks. One op lands one file and waits
    until every query has processed it: one micro-batch each."""

    name = "event_stream"
    LAYERS = {
        "streaming.trigger_s": "s",
        "streaming.add_batch_s": "s",
        "streaming.planning_s": "s",
        "streaming.commit_s": "s",
        "streaming.state_rows": "count",
        "streaming.state_bytes": "B",
    }
    QUERIES = {
        "sessions": (sev.sessionized_stream, "append"),
        "tumbling": (sev.tumbling_counts, "append"),
        "totals": (sev.stateful_user_totals, "update"),
        "dedup": (sev.streaming_dedup, "append"),
    }

    def __init__(self, *a):
        super().__init__(*a)
        self.totals: dict[int, tuple[int, int]] = {}
        self.event_ids: set = set()
        self.events = 0
        self.delivered: dict[int, int] = {}
        self.progress: dict[int, list] = {}
        self._seen_batch: dict[str, int] = {}
        self.rows: dict[int, int] = {}

    def _staging(self, index: int) -> str:
        return os.path.join(self.work, "staging", f"events-{index:06d}.parquet")

    def _write(self, index: int) -> None:
        t = gen.event_file(self.seed, index)
        os.makedirs(os.path.join(self.work, "staging"), exist_ok=True)
        pq.write_table(t, self._staging(index))
        self.rows[index] = t.num_rows

    def _land(self, index: int) -> int:
        """Move a written file into the watched directory in one rename."""
        staging = self._staging(index)
        os.rename(staging, os.path.join(self.src, os.path.basename(staging)))
        return self.rows[index]

    def _account(self, index: int) -> None:
        df = gen.event_file(self.seed, index).to_pandas()
        self.event_ids.update(df["event_id"].tolist())
        cents = (df["value"] * 100).round().astype("int64")
        for uid, n, c in zip(df["user_id"], [1] * len(df), cents):
            pn, pc = self.totals.get(int(uid), (0, 0))
            self.totals[int(uid)] = (pn + n, pc + int(c))

    def setup(self, spark):
        super().setup(spark)
        root = os.path.join(self.work, "stream")
        self.src = os.path.join(root, "src")
        os.makedirs(self.src)
        self._write(0)
        self._land(0)
        stream = sev.read_events_stream(spark, self.src)
        self.running = {}
        for name, (fn, mode) in self.QUERIES.items():
            self.running[name] = (
                fn(stream).writeStream.outputMode(mode).format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(root, "ckpt", name))
                .start()
            )
        for q in self.running.values():
            q.processAllAvailable()
        self.totals, self.event_ids = {}, set()
        self._account(0)

    def teardown(self):
        for q in self.running.values():
            q.stop()

    def prepare(self, i):
        self._write(i + 1)

    def op(self, i):
        n = self._land(i + 1)
        for q in self.running.values():
            q.processAllAvailable()
        return n

    def _table(self, name: str) -> pd.DataFrame:
        return self.spark.sql(f"SELECT * FROM {name}").toPandas()

    def check(self, i, n):
        self.delivered[i] = n
        self._account(i + 1)
        if self.tracer.enabled:
            self.progress[i] = self._new_progress()
        dedup = self._table("dedup")
        ok = len(dedup) == len(self.event_ids) and set(dedup["event_id"]) == self.event_ids
        return ok and self._totals_match()

    def _totals_match(self) -> bool:
        t = self._table("totals")
        last = t.sort_values("n_events").groupby("user_id").tail(1)
        got = {int(u): (int(n), int(round(v * 100))) for u, n, v in
               zip(last["user_id"], last["n_events"], last["total_value"])}
        return got == self.totals

    def _new_progress(self) -> list:
        out = []
        for name, q in self.running.items():
            for p in q.recentProgress:
                if p["batchId"] > self._seen_batch.get(name, -1) and p["numInputRows"] > 0:
                    out.append(p)
            if q.lastProgress:
                self._seen_batch[name] = max(self._seen_batch.get(name, -1), q.lastProgress["batchId"])
        return out

    def finish(self):
        """Windowed outputs equal the batch computation over the same
        events, for every window the final watermark has closed."""
        failed = 0
        batch = self.spark.read.schema(sev.EVENTS_SCHEMA).parquet(self.src)
        wm = max(pd.Timestamp(e) for e in batch.agg(F.max("ts")).toPandas().iloc[:, 0]) \
            - pd.Timedelta(hours=2) - pd.Timedelta(minutes=20)
        for name, end_col in (("sessions", "session_end"), ("tumbling", "win_start")):
            fn = self.QUERIES[name][0]
            want = fn(batch).toPandas()
            got = self._table(name)
            key = [c for c in want.columns]
            if end_col == "win_start":
                closed = want[want[end_col] + pd.Timedelta(hours=1) <= wm]
            else:
                closed = want[want[end_col] <= wm]
            merged = got.merge(want, on=key, how="left", indicator=True)
            if (merged["_merge"] != "both").any() or not closed.merge(got, on=key).shape[0] == len(closed):
                failed += 1
        return failed + int(not self._totals_match())

    def report(self, ops, latencies):
        return {"events_per_s": (sum(self.delivered.get(i, 0) for i in ops) / max(sum(latencies), 1e-9), "events/s")}

    def layers(self, ops):
        def per(key):
            return [sum(p["durationMs"].get(key, 0) for p in self.progress.get(i, [])) / 1000.0 for i in ops]

        commit = [a + b for a, b in zip(per("walCommit"), per("commitOffsets"))]
        state_rows, state_bytes = [], []
        for i in ops:
            last: dict = {}
            for p in self.progress.get(i, []):
                last[p["name"]] = p
            state_rows.append(sum(o["numRowsTotal"] for p in last.values() for o in p["stateOperators"]))
            state_bytes.append(sum(o["memoryUsedBytes"] for p in last.values() for o in p["stateOperators"]))
        return {
            "streaming.trigger_s": (_median(per("triggerExecution")), "s"),
            "streaming.add_batch_s": (_median(per("addBatch")), "s"),
            "streaming.planning_s": (_median(per("queryPlanning")), "s"),
            "streaming.commit_s": (_median(commit), "s"),
            "streaming.state_rows": (float(state_rows[-1]) if state_rows else 0.0, "count"),
            "streaming.state_bytes": (float(state_bytes[-1]) if state_bytes else 0.0, "B"),
        }


WORKLOADS = {w.name: w for w in (RadIngest, OlapMix, EventStream, LlmCuration)}
