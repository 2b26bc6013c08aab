"""The benchmark workloads: their jobs, their independent output checks and
their traced (layer-at-a-time) variants.

Every job calls the engine's public functions only.  Every check recomputes
the expected output without Spark (pandas, DuckDB or plain Python over the
generator's ground truth) and reads the engine's output files directly.

One op is one batch job of the workload, followed by the publish step:
appends to the shared table through ``sources.files.write_table(mode="append")``.
While the ops run, the dashboard's client threads read that table
(Superset-style slices, SURVEY A4-A6, through ``spark.sql``).
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import threading
import time
import zlib
from contextlib import contextmanager

import numpy as np
import pandas as pd

from . import gen
from .probe import median

SECTORS = ["OG"]
ANNOTATION_SCHEMA = (
    "company string, source_file string, source_page string, kpi_id double, year string, "
    "answer string, data_type string, relevant_paragraphs string, sector string"
)


CLIENTS = 2  # dashboard client threads, reading in one shared session


class OpRecord:
    __slots__ = ("name", "latency_s", "appends", "units", "error", "state")

    def __init__(self, name: str):
        self.name = name
        self.latency_s = 0.0
        self.appends: list[float] = []  # seconds of each publish append
        self.units = 0
        self.error = None
        self.state = None


class PublishLock:
    """Readers-writer lock, writers first: a publish append is atomic to the
    dashboard, so every read sees a whole number of published parts."""

    def __init__(self):
        self._cond = threading.Condition()
        self._readers = 0
        self._writing = False
        self._waiting = 0

    @contextmanager
    def read(self):
        with self._cond:
            while self._writing or self._waiting:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                self._cond.notify_all()

    @contextmanager
    def write(self):
        with self._cond:
            self._waiting += 1
            while self._writing or self._readers:
                self._cond.wait()
            self._waiting -= 1
            self._writing = True
        try:
            yield
        finally:
            with self._cond:
                self._writing = False
                self._cond.notify_all()


def _read_dir(path: str, fmt: str) -> pd.DataFrame:
    """Read a Spark output directory without Spark."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return pd.DataFrame()
    if fmt == "json":
        frames = [
            pd.read_json(os.path.join(path, f), lines=True)
            for f in sorted(os.listdir(path))
            if f.endswith(".json") and not f.startswith((".", "_"))
        ]
        return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
    return ds.dataset(path, format=fmt).to_table().to_pandas()


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, rel_tol: float = 1e-9) -> str | None:
    """Order-insensitive comparison; floats within ``rel_tol``."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    cols = sorted(want.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]").astype("int64")
            elif df[c].dtype == object:
                df[c] = df[c].map(lambda v: None if _missing(v) else str(v))
        return df.sort_values(cols, ignore_index=True, na_position="first")

    a, b = norm(got), norm(want)
    for c in cols:
        for u, v in zip(a[c].tolist(), b[c].tolist()):
            if _missing(u) or _missing(v):
                if _missing(u) != _missing(v):
                    return f"column {c}: {u!r} != {v!r}"
            elif isinstance(u, float) or isinstance(v, float):
                if not math.isclose(float(u), float(v), rel_tol=rel_tol, abs_tol=1e-12):
                    return f"column {c}: {u!r} != {v!r}"
            elif u != v:
                return f"column {c}: {u!r} != {v!r}"
    return None


def known_defect(what: str, n: int, total: int) -> int:
    """Report a disclosed engine defect: shown, not counted as a failed op."""
    if n:
        print(f"esgbench: known defect: {what}: {n} of {total}", file=sys.stderr)
    return n


def slice_order(rng: random.Random, names):
    """Endless seeded order of the dashboard's slices, in rounds that read
    every slice once: each run reads the same mix, so the latency quantiles
    do not follow how often a seed happened to pick the slow slice."""
    names = list(names)
    while True:
        rng.shuffle(names)
        yield from names


def duckdb_slices(published: pd.DataFrame, table: str, slices: dict) -> dict:
    """Expected result of every slice over the rows published so far."""
    import duckdb

    con = duckdb.connect()
    con.register(table, published)
    out = {name: con.execute(sql).fetchdf() for name, sql in slices.items()}
    con.close()
    return out


class Workload:
    name = ""
    TABLE = ""  # the shared table each op appends to and the dashboard reads
    FMT = ""
    KEY = ""  # column whose crc32 splits a publish into parts
    SCHEMA = ""
    SLICES: dict[str, str] = {}
    WARMUP_OPS = 0
    MIN_OPS = 1  # measured ops per run, at least
    APPENDS = 4  # publish appends per op
    # reads of each dashboard client after each publish append; 0: the
    # clients read in a closed loop beside the ops instead
    READS_PER_PART = 0
    WARMUP_READS = 0  # untimed, in place of READS_PER_PART in a warm-up op

    def __init__(self, ctx):
        self.ctx = ctx  # run directory, seed, nproc, trace flag
        self.spark = None
        self.lock = PublishLock()
        self.parts: list[tuple[int, int]] = []  # (op, part) in publish order
        self.reads: list[tuple] = []  # (slice, seconds, columns, rows, parts published)
        self.read_errors: list[str] = []
        self.warm_reads = 0  # leading entries of ``reads`` that are not timed
        self.orders = [  # each dashboard client's slice order
            slice_order(random.Random(ctx.seed * 1000 + c), self.SLICES) for c in range(CLIENTS)
        ]
        self.baseline = pd.DataFrame()  # rows in the shared table before the first op

    def untraced(self, records: list) -> float:
        """Seconds of the traced run's job without tracing, measured on its
        second run (the first pays class loading and code generation).  Both
        runs read the input the traced run reads."""
        for k in (0, 1):
            rec = OpRecord(f"untraced{k}")
            self.op(k, rec)
            records.append(rec)
        return rec.latency_s

    def publish_baseline(self, rows: pd.DataFrame) -> None:
        """Create the shared table with the previous release's rows, so the
        dashboard has something to read before the first job publishes."""
        from aicoe_osc_demo_spark.sources.files import write_table

        self.baseline = rows
        write_table(self.spark.createDataFrame(rows, self.SCHEMA), self.TABLE, fmt=self.FMT)

    def publish(self, df, i: int, rec: OpRecord, timed: bool = True) -> None:
        """Append the job's output to the shared table in ``APPENDS`` parts
        (split by the crc32 of ``KEY``), each under the publish lock.  With
        ``READS_PER_PART`` set, the clients read between the appends, which
        spreads the appends over the run."""
        from pyspark.sql import functions as F

        from aicoe_osc_demo_spark.sources.files import write_table

        n = self.READS_PER_PART if timed else self.WARMUP_READS
        for part in range(self.APPENDS):
            with self.lock.write():
                t0 = time.perf_counter()
                write_table(
                    df.filter(F.pmod(F.crc32(F.col(self.KEY)), F.lit(self.APPENDS)) == part),
                    self.TABLE, fmt=self.FMT, mode="append",
                )
                rec.appends.append(time.perf_counter() - t0)
                self.parts.append((i, part))
            if n:
                self.client_reads(n)
        if not timed:
            self.warm_reads = len(self.reads)

    def client_reads(self, n: int) -> None:
        """Each client reads ``n`` slices in its own order; returns when all have."""

        def client(c: int):
            for _ in range(n):
                self.read(next(self.orders[c]))

        for t in self._clients(client):
            t.join()

    def read(self, name: str) -> None:
        """One dashboard read, timed from plan construction to the last row."""
        try:
            with self.lock.read():
                k = len(self.parts)
                t0 = time.perf_counter()
                q = self.spark.sql(self.SLICES[name])
                rows = q.collect()
                dt = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a failed read is counted
            self.read_errors.append(f"{name} raised {type(exc).__name__}: {str(exc)[:200]}")
            return
        self.reads.append((name, dt, q.columns, rows, k))

    def _clients(self, body) -> list:
        """Start ``CLIENTS`` threads running ``body(client)``."""
        threads = [threading.Thread(target=body, args=(c,), daemon=True) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        return threads

    def dashboard(self, stop: threading.Event) -> list:
        """When the clients read beside the ops: each reads the slices in
        its own seeded order until ``stop`` is set."""
        if self.READS_PER_PART:
            return []

        def client(c: int):
            while not stop.is_set():
                self.read(next(self.orders[c]))

        return self._clients(client)

    def part_rows(self, i: int, part: int) -> pd.DataFrame:
        """The rows of op ``i``'s publish part, as ``pmod(crc32(KEY), APPENDS)`` splits them."""
        out = self.op_rows(i)
        return out[out[self.KEY].map(lambda v: zlib.crc32(v.encode("utf-8")) % self.APPENDS) == part]

    def check_reads(self) -> int:
        """Compare every read with DuckDB over the rows published when it
        ran (the baseline plus the first ``k`` parts); returns the number of
        reads that failed."""
        published = {0: self.baseline}
        for k, (i, part) in enumerate(self.parts, start=1):
            frames = [f for f in (published[k - 1], self.part_rows(i, part)) if len(f.columns)]
            published[k] = pd.concat(frames, ignore_index=True)
        want: dict[int, dict] = {}
        failed = 0
        for name, _, cols, rows, k in self.reads:
            if k not in want:
                want[k] = duckdb_slices(published[k], self.TABLE, self.SLICES)
            got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
            err = frames_equal(got, want[k][name])
            if err:
                failed += 1
                self.read_errors.append(f"{name} after {k} parts: {err}")
        self.published_rows = len(published[len(self.parts)])
        return failed

    def check_table(self) -> list[str]:
        published = _read_dir(os.path.join(self.ctx.warehouse, self.TABLE), self.FMT)
        if len(published) != self.published_rows:
            return [f"{self.TABLE} holds {len(published)} rows, baseline and jobs wrote {self.published_rows}"]
        return []


# ---------------------------------------------------------------------------
# pdf_inference


def expected_inference(kept, questions, top_k=4) -> pd.DataFrame:
    """The inference DAG recomputed in pandas from the generator's own
    paragraphs and the stub-model formulas documented in
    ``operators/inference.py``."""
    para = pd.DataFrame(kept, columns=["pdf_name", "page", "text"])
    q = pd.DataFrame(questions, columns=["kpi_id", "question", "add_year"])
    pairs = para.merge(q, how="cross")
    tl, ql = pairs["text"].str.len(), pairs["question"].str.len()
    pairs["score"] = ((31 * tl + 17 * ql) % 1000) / 1000.0
    pairs = pairs[pairs["score"] >= 0.5].copy()
    tl = pairs["text"].str.len()
    no_ans = ((13 * tl) % 1000) / 1000.0
    answer = pairs["text"].str.split(" ").str[:8].str.join(" ")
    pairs["final_answer"] = np.where(no_ans + (-0.015) > pairs["score"], "no_answer", answer)
    pairs = pairs.sort_values(
        ["pdf_name", "kpi_id", "score", "page", "text"], ascending=[True, True, False, True, True]
    )
    pairs = pairs.groupby(["pdf_name", "kpi_id"], sort=False).head(top_k)
    out = pairs[["pdf_name", "kpi_id", "question", "page", "final_answer", "score"]].copy()
    out["score"] = out["score"].round(6)
    return out.reset_index(drop=True)


# Catalog queries the dashboard also runs (plans.QUERIES over the star
# schema); timed in the traced run for the ``plans`` layer.
CATALOG_MIX = [
    "agg_pricing_summary",
    "join_multiway_revenue_by_nation",
    "window_topk_per_group",
    "agg_rollup_revenue",
    "events_windowed_counts",
]


class PdfInference(Workload):
    name = "pdf_inference"
    TABLE, FMT, KEY = "kpi_results", "orc", "pdf_name"
    # scores carry three decimals: sums over integer milli-scores are exact
    # in any summation order
    SLICES = {
        "answers_by_kpi": "SELECT kpi_id, COUNT(*) AS n FROM kpi_results GROUP BY kpi_id",
        "no_answer_share": (
            "SELECT final_answer = 'no_answer' AS no_answer, COUNT(*) AS n "
            "FROM kpi_results GROUP BY final_answer = 'no_answer'"
        ),
        "avg_score_by_kpi": (
            "SELECT kpi_id, AVG(CAST(ROUND(score * 1000) AS BIGINT)) AS avg_score_milli "
            "FROM kpi_results GROUP BY kpi_id"
        ),
    }
    WARMUP_OPS = 1  # the first job pays class loading and code generation
    MIN_OPS = 2  # ops_per_s is their median
    APPENDS = 5
    READS_PER_PART = 5  # 100 timed reads a run: 10 lie beyond p90
    WARMUP_READS = 1  # the first reads of each slice compile its plan
    N_PDFS = 40
    STAR_ORDERS = 12000

    def prepare(self):
        root = os.path.join(self.ctx.run_dir, "pdf")
        os.makedirs(root)
        self.kpi_path = os.path.join(root, "kpi_mapping.csv")
        self.questions = gen.write_kpi_mapping(self.kpi_path)
        reports = os.path.join(root, "reports")
        os.makedirs(reports)
        self.batch = gen.write_pdf_batch(reports, self.ctx.seed, self.N_PDFS)
        self.expected = expected_inference(self.batch.kept, self.questions)
        if self.ctx.trace:
            self.star_dir = os.path.join(self.ctx.run_dir, "star")
            os.makedirs(self.star_dir)
            gen.write_star_schema(self.star_dir, self.ctx.seed, self.STAR_ORDERS)

    def sizes(self):
        return {
            "pdfs": len(self.batch.names),
            "pages": self.batch.pages,
            "paragraphs_generated": self.batch.generated,
            "paragraphs_kept": len(self.batch.kept),
            "questions": len(self.questions),
            "pairs": len(self.batch.kept) * len(self.questions),
        }

    def start(self, spark):
        from aicoe_osc_demo_spark.sources.kpi_mapping import load_kpi_mapping, questions_for_sector

        self.spark = spark
        self.qdf = questions_for_sector(load_kpi_mapping(spark, self.kpi_path), SECTORS, "TEXT")

    def op(self, i: int, rec: OpRecord):
        """One analyst job: a batch of PDFs through the inference DAG into
        its run table, then published to the dashboard's table."""
        from aicoe_osc_demo_spark.pipelines import inference_pipeline

        table = f"run_{i:04d}"
        t0 = time.perf_counter()
        inference_pipeline(self.spark, self.batch.directory, self.qdf, results_table=table)
        rec.latency_s = time.perf_counter() - t0
        rec.units = len(self.batch.names)
        rec.state = table
        self.publish(self.spark.table(table), i, rec, timed=i >= self.WARMUP_OPS)

    def op_rows(self, i: int) -> pd.DataFrame:
        return self.expected

    def check(self, records) -> None:
        """Marks each record whose run table differs from the recomputation."""
        for rec in records:
            got = _read_dir(os.path.join(self.ctx.warehouse, rec.state), "orc")
            rec.error = frames_equal(got, self.expected)

    def traced(self, tracer) -> dict:
        """The same DAG, one layer at a time, each layer's input
        checkpointed first."""
        from pyspark.sql import functions as F

        from aicoe_osc_demo_spark.operators.inference import relevance_pipeline, stub_qa_answers
        from aicoe_osc_demo_spark.operators.relational import top_k_per_group
        from aicoe_osc_demo_spark.sources.extraction import extract_text
        from aicoe_osc_demo_spark.sources.files import read_binary_docs, write_table

        batch = self.batch
        n_q = len(self.questions)
        with tracer.span("job"):
            with tracer.span("files.scan"):
                docs = read_binary_docs(self.spark, batch.directory).withColumn(
                    "pdf_name", F.element_at(F.split(F.col("path"), "/"), -1)
                ).localCheckpoint()
            with tracer.span("extraction"):
                paras = extract_text(docs).withColumnRenamed("paragraph", "text").localCheckpoint()
                n_kept = paras.count()
            with tracer.span("inference.relevance"):
                rel = relevance_pipeline(paras, self.qdf).localCheckpoint()
                n_rel = rel.count()
            with tracer.span("inference.qa"):
                qa = stub_qa_answers(
                    rel.select("pdf_name", "page", "kpi_id", "question", "text")
                ).localCheckpoint()
                qa.count()
            with tracer.span("relational.topk"):
                answered = qa.withColumn(
                    "pure_no_ans_score", F.col("no_ans_score") + F.lit(-0.015)
                ).withColumn(
                    "final_answer",
                    F.when(F.col("pure_no_ans_score") > F.col("score"), F.lit("no_answer"))
                    .otherwise(F.col("answer")),
                )
                ranked = top_k_per_group(
                    answered, ["pdf_name", "kpi_id"], F.col("score"), 4, tiebreak=["page", "text"]
                ).select(
                    "pdf_name", "kpi_id", "question", "page", "final_answer",
                    F.round("score", 6).alias("score"),
                ).localCheckpoint()
            with tracer.span("files.write"):
                write_table(ranked, "traced_results", fmt="orc")
        plans = self.trace_plans(tracer)
        path = os.path.join(self.ctx.warehouse, "traced_results")
        got = _read_dir(path, "orc")
        err = frames_equal(got, self.expected)
        written = [f for f in os.listdir(path) if not f.startswith((".", "_"))]
        nbytes = sum(os.path.getsize(os.path.join(path, f)) for f in written)
        extraction_s = tracer.busy("extraction")
        return plans | {
            "error": err or plans["error"],
            "files.scan_s": tracer.busy("files.scan"),
            "files.write_s": tracer.busy("files.write"),
            "files.bytes_written": nbytes,
            "files.files_written": len(written),
            "files.bytes_per_row": nbytes / max(1, len(got)),
            "extraction.busy_s": extraction_s,
            "extraction.paragraphs_per_s": n_kept / extraction_s,
            "extraction.kept_ratio": n_kept / batch.generated,
            "inference.relevance_busy_s": tracer.busy("inference.relevance"),
            "inference.pairs_scored": n_kept * n_q,
            "inference.relevant_ratio": n_rel / max(1, n_kept * n_q),
            "inference.qa_busy_s": tracer.busy("inference.qa"),
            "inference.qa_pairs": n_rel,
            "relational.topk_busy_s": tracer.busy("relational.topk"),
            "extraction.bare_lf_pages_misread": self.bare_lf_probe(),
        }

    def bare_lf_probe(self) -> int:
        """Known defect, measured apart from the job: pages of a bare-LF
        report that the engine's extraction misreads (a page lost to the
        stream-end regex shifts every later page number)."""
        from aicoe_osc_demo_spark.sources.extraction import extract_text
        from aicoe_osc_demo_spark.sources.files import read_binary_docs

        root = os.path.join(self.ctx.run_dir, "probe_pdf")
        os.makedirs(root)
        want, got = {}, {}
        for page, para in gen.write_bare_lf_probe(root, self.ctx.seed):
            want.setdefault(page, []).append(para)
        for r in extract_text(read_binary_docs(self.spark, root)).collect():
            got.setdefault(r["page"], []).append(r["paragraph"])
        misread = sum(1 for p in want.keys() | got.keys() if sorted(want.get(p, [])) != sorted(got.get(p, [])))
        return known_defect("bare-LF report pages misread by extraction", misread, len(want))

    def trace_plans(self, tracer) -> dict:
        """The dashboard's catalog queries, each in its own span: plan
        construction (the ``QUERIES[name](spark, dir)`` call) and execution
        timed apart, scheduler counters per query, results checked against
        ``plans.ORACLE`` in DuckDB."""
        import duckdb

        from aicoe_osc_demo_spark.plans import ORACLE, QUERIES

        build, exe, jobs, tasks, results = [], [], [], [], {}
        for _ in range(3):
            for name in CATALOG_MIX:
                with tracer.span(f"plans.{name}") as sp:
                    t0 = time.perf_counter()
                    df = QUERIES[name](self.spark, self.star_dir)
                    t1 = time.perf_counter()
                    rows = df.collect()
                    t2 = time.perf_counter()
                build.append(t1 - t0)
                exe.append(t2 - t1)
                jobs.append(tracer.counters[sp.group]["jobs"])
                tasks.append(tracer.counters[sp.group]["tasks"])
                results[name] = pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
            path = os.path.join(self.star_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        errors = [
            f"{name}: {err}" for name in CATALOG_MIX
            if (err := frames_equal(results[name], con.execute(ORACLE[name]).fetchdf()))
        ]
        con.close()
        return {
            "error": "; ".join(errors) or None,
            "plans.build_ms_p50": 1000 * median(build),
            "plans.exec_ms_p50": 1000 * median(exe),
            "plans.jobs_per_query": median(jobs),
            "plans.tasks_per_query": median(tasks),
        }


# ---------------------------------------------------------------------------
# training_curation


class TrainingCuration(Workload):
    name = "training_curation"
    TABLE, FMT, KEY = "esg_text_dataset", "parquet", "context"
    SCHEMA = "question string, context string, label int"
    # what an ML engineer checks in the published training table
    SLICES = {
        "examples_by_label": "SELECT label, COUNT(*) AS n FROM esg_text_dataset GROUP BY label",
        "negatives_per_question": (
            "SELECT question, COUNT(*) AS n FROM esg_text_dataset WHERE label = 0 GROUP BY question"
        ),
        "distinct_contexts": "SELECT COUNT(DISTINCT context) AS contexts FROM esg_text_dataset",
    }
    APPENDS = 24  # one op per run: enough samples for a steady append median
    N_PARAGRAPHS, DUP_SHARE, N_DOCS, NEG_RATIO = 1000, 0.25, 20, 2
    N_BASELINE = 300

    def prepare(self):
        root = os.path.join(self.ctx.run_dir, "curation")
        os.makedirs(root)
        self.kpi_path = os.path.join(root, "kpi_mapping.csv")
        self.kpis = gen.write_kpi_mapping(self.kpi_path)
        self.inputs = gen.write_curation_inputs(
            root, self.ctx.seed, self.N_PARAGRAPHS, self.DUP_SHARE, self.N_DOCS, self.kpis
        )
        self.out_root = os.path.join(self.ctx.run_dir, "curation_out")
        pool = pd.read_parquet(self.inputs.pool_path)
        self.text_to_ids: dict[str, list[int]] = {}
        for doc_id, text in zip(pool["doc_id"], pool["paragraph"]):
            self.text_to_ids.setdefault(text, []).append(int(doc_id))
        self.page_of = dict(zip(pool["doc_id"], zip(pool["pdf_name"], pool["page"])))
        # the previous release of the training table: pool paragraphs
        # labelled against the KPI questions
        rng = np.random.default_rng([self.ctx.seed, 4])
        self.previous = pd.DataFrame({
            "question": [self.kpis[j][1] for j in rng.integers(len(self.kpis), size=self.N_BASELINE)],
            "context": pool["paragraph"].to_numpy()[rng.integers(len(pool), size=self.N_BASELINE)],
            "label": rng.integers(0, 2, size=self.N_BASELINE).astype("int32"),
        })
        self.outputs: dict[int, str] = {}
        self._rows: dict[int, pd.DataFrame] = {}

    def sizes(self):
        return {
            "paragraphs": self.N_PARAGRAPHS,
            "planted_near_duplicates": len(self.inputs.planted),
            "annotation_workbooks": 3,
            "annotation_rows": self.inputs.n_annotations,
        }

    def start(self, spark):
        from aicoe_osc_demo_spark.sources.kpi_mapping import load_kpi_mapping

        self.spark = spark
        self.kpi = load_kpi_mapping(spark, self.kpi_path).select("kpi_id", "question", "add_year")
        self.publish_baseline(self.previous)

    def _annotations(self):
        from pyspark.sql import functions as F

        from aicoe_osc_demo_spark.functions.text import clean_page
        from aicoe_osc_demo_spark.sources.files import read_annotation_workbooks

        cols = ["company", "source_file", "source_page", "kpi_id", "year", "answer",
                "data_type", "relevant_paragraphs"]
        ann = read_annotation_workbooks(
            self.spark, self.inputs.annotations_dir, cols, schema=ANNOTATION_SCHEMA
        )
        return (
            ann.withColumn("data_type", F.trim("data_type"))
            .withColumn("source_page", clean_page(F.col("source_page")))
            .filter(F.col("source_page").isNotNull())
            .withColumn("year", F.col("year").try_cast("double"))  # "n/a" -> null
        )

    @staticmethod
    def _examples(dataset):
        from pyspark.sql import functions as F

        pos = dataset.filter(F.col("label") == 1)
        return pos.select(
            F.concat(F.lit("kpi_"), F.substring(F.md5("question"), 1, 6)).alias("source_file"),
            "context",
            "question",
            F.md5(F.concat_ws("|", "question", "context")).alias("example_id"),
            F.regexp_extract("context", r"([0-9]+) (tonnes|MWh|tCO2e|barrels)", 1).alias("answer"),
        )

    def op(self, i: int, rec: OpRecord):
        """One curation job: near-dup removal over the paragraph pool, text
        curation against the annotations, SQuAD curation; outputs written as
        parquet and JSON, the dataset published to the training table."""
        from aicoe_osc_demo_spark.operators.dedup import dedup_clusters, keep_canonical, minhash_dedup_pairs
        from aicoe_osc_demo_spark.pipelines import squad_curation_pipeline, text_curation_pipeline
        from aicoe_osc_demo_spark.sources.files import read_parquet, write_json, write_parquet

        out = os.path.join(self.out_root, f"job{i:04d}")
        t0 = time.perf_counter()
        ann = self._annotations()
        pool = read_parquet(self.spark, self.inputs.pool_path)
        pairs = minhash_dedup_pairs(pool, text_col="paragraph", id_col="doc_id")
        labels = dedup_clusters(pairs)
        write_parquet(labels, os.path.join(out, "dedup_labels"))
        canonical = keep_canonical(pool, labels).select("pdf_name", "page", "paragraph")
        dataset = text_curation_pipeline(
            self.spark, ann, canonical, self.kpi, excluded_companies=["CEZ"],
            neg_pos_ratio=self.NEG_RATIO,
        )
        write_parquet(dataset, os.path.join(out, "text_dataset"))
        dataset = read_parquet(self.spark, os.path.join(out, "text_dataset"))
        train, dev = squad_curation_pipeline(self.spark, self._examples(dataset))
        write_json(train, os.path.join(out, "squad_train"))
        write_json(dev, os.path.join(out, "squad_dev"))
        rec.latency_s = time.perf_counter() - t0
        rec.units = self.N_PARAGRAPHS
        rec.state = out
        self.outputs[i] = out
        self.publish(dataset, i, rec)

    def op_rows(self, i: int) -> pd.DataFrame:
        if i not in self._rows:
            self._rows[i] = _read_dir(os.path.join(self.outputs[i], "text_dataset"), "parquet")
        return self._rows[i]

    def _check_outputs(self, out: str) -> tuple[list[str], float, int]:
        errors = []
        labels = _read_dir(os.path.join(out, "dedup_labels"), "parquet")
        cluster = dict(zip(labels["doc_id"].astype(int), labels["cluster_id"].astype(int)))
        planted = self.inputs.planted
        found = sum(1 for a, b in planted if a in cluster and cluster.get(a) == cluster.get(b))
        recall = found / max(1, len(planted))
        for doc, cid in cluster.items():
            if cid > doc or cluster.get(cid) != cid:
                errors.append(f"cluster label {cid} of doc {doc} is not its component minimum")
                break

        ds = _read_dir(os.path.join(out, "text_dataset"), "parquet")
        if ds.duplicated(["question", "context"]).any():
            errors.append("(question, context) not unique")
        neg = ds[ds["label"] == 0]
        if len(neg) == 0 or (ds["label"] == 1).sum() == 0:
            errors.append("dataset lacks positives or negatives")
        if (neg.groupby("question").size() > self.NEG_RATIO).any():
            errors.append(f"a question has more than {self.NEG_RATIO} negatives")
        for ctx_text in neg["context"]:
            ids = self.text_to_ids.get(ctx_text)
            if not ids:
                errors.append(f"negative not drawn from the pool: {ctx_text[:40]!r}")
                break
            if not any(cluster.get(d, d) == d for d in ids):
                errors.append(f"non-canonical near-duplicate survived: doc {ids}")
                break
            if all(self.page_of[d] in self.inputs.positive_pages for d in ids):
                errors.append(f"negative drawn from a positive page: {self.page_of[ids[0]]}")
                break

        contexts = {}
        for split in ("squad_train", "squad_dev"):
            sq = _read_dir(os.path.join(out, split), "json")
            for paragraphs in sq.get("paragraphs", []):
                for p in paragraphs:
                    if contexts.setdefault(p["context"], split) != split:
                        errors.append("a context is in both train and dev")
                    for qa in p["qas"]:
                        ans = qa["answers"]
                        starts = ans["answer_start"]
                        if not starts or any(
                            p["context"][s : s + len(ans["text"])] != ans["text"] for s in starts
                        ):
                            errors.append(f"bad answer offsets {starts} for {ans['text']!r}")
                            break
        if not contexts:
            errors.append("SQuAD output is empty")
        return errors, recall, len(ds)

    def check(self, records) -> None:
        for rec in records:
            errs, _, _ = self._check_outputs(rec.state)
            rec.error = "; ".join(errs[:3]) or None

    def traced(self, tracer) -> dict:
        """The curation DAG one layer at a time: the body of
        ``text_curation_pipeline`` and ``squad_curation_pipeline`` composed
        from the same public operators, each input checkpointed first."""
        from pyspark.sql import functions as F

        from aicoe_osc_demo_spark.functions.text import (
            clean_paragraph, clean_text, get_pdf_name_right, year_in_question,
        )
        from aicoe_osc_demo_spark.operators.curation import (
            farm_zero_shift, find_answer_start_udf, negative_sample,
        )
        from aicoe_osc_demo_spark.operators.dedup import (
            dedup_clusters, keep_canonical, lsh_candidate_pairs, minhash_dedup_pairs,
            minhash_signatures_wide,
        )
        from aicoe_osc_demo_spark.operators.relational import dedup_keep_first, train_dev_split
        from aicoe_osc_demo_spark.operators.reshape import explode_paragraphs, nest_to_squad
        from aicoe_osc_demo_spark.sources.files import read_parquet, write_json, write_parquet

        out = os.path.join(self.out_root, "traced")
        with tracer.span("job"):
            with tracer.span("files.scan"):
                ann = self._annotations().localCheckpoint()
                pool = read_parquet(self.spark, self.inputs.pool_path).localCheckpoint()
            with tracer.span("dedup.signature"):
                sigs = minhash_signatures_wide(pool, "paragraph", "doc_id").localCheckpoint()
            with tracer.span("dedup.candidates"):
                n_cand = lsh_candidate_pairs(sigs).count()
            with tracer.span("dedup.pairs"):
                pairs = minhash_dedup_pairs(pool, "paragraph", "doc_id").localCheckpoint()
                n_pairs = pairs.count()
            with tracer.span("dedup.cluster"):
                labels = dedup_clusters(pairs).localCheckpoint()
            with tracer.span("dedup.keep_canonical"):
                canonical = keep_canonical(pool, labels).select(
                    "pdf_name", "page", "paragraph"
                ).localCheckpoint()
            with tracer.span("files.write"):
                write_parquet(labels, os.path.join(out, "dedup_labels"))
            with tracer.span("text.clean"):
                a = ann.filter(
                    (F.col("data_type") == "TEXT")
                    & F.col("relevant_paragraphs").isNotNull()
                    & ~F.col("company").isin(["CEZ"])
                )
                a = a.withColumn("source_file", get_pdf_name_right(F.col("source_file")))
                a = a.withColumn(
                    "source_page", F.transform(F.col("source_page"), lambda p: p.cast("int") - 1)
                )
                a = a.withColumn("relevant_paragraphs", clean_paragraph(F.col("relevant_paragraphs")))
                a = a.filter(F.col("relevant_paragraphs").isNotNull())
                exploded = explode_paragraphs(a, "source_page", "relevant_paragraphs")
                exploded = exploded.withColumn(
                    "context", clean_text(F.col("relevant_paragraph"))
                ).localCheckpoint()
                cleaned_pool = canonical.withColumn(
                    "context", clean_text(F.col("paragraph"))
                ).localCheckpoint()
            with tracer.span("curation.positives"):
                positives = (
                    exploded.join(F.broadcast(self.kpi), on="kpi_id")
                    .withColumn(
                        "question", year_in_question(F.col("question"), F.col("year"), F.col("add_year"))
                    )
                    .filter(F.col("question").isNotNull())
                    .select("source_file", F.col("source_page").alias("page"), "question", "context")
                    .withColumn("label", F.lit(1))
                    .localCheckpoint()
                )
                pos_pages = positives.select(F.col("source_file").alias("pdf_name"), "page").distinct()
                neg_pool = (
                    cleaned_pool.join(pos_pages, on=["pdf_name", "page"], how="left_anti")
                    .withColumn("pool_id", F.concat_ws(":", "pdf_name", "page", "context"))
                    .localCheckpoint()
                )
            with tracer.span("curation.negative_sample"):
                negatives = (
                    negative_sample(
                        positives.select("question").distinct(),
                        neg_pool.select("pool_id", "context"),
                        group_cols=["question"], pool_id="pool_id", k=self.NEG_RATIO,
                        salt="textneg",
                    )
                    .select("question", "context")
                    .withColumn("label", F.lit(0))
                    .localCheckpoint()
                )
            with tracer.span("relational.dedup_keep_first"):
                union = positives.select("question", "context", "label").unionByName(negatives)
                union = union.withColumn("neg_label", F.lit(1) - F.col("label"))
                dataset = dedup_keep_first(
                    union, subset=["question", "context"], order_by=["neg_label"]
                ).select(
                    "question", "context",
                    F.when(F.col("label") == 1, 1).otherwise(0).alias("label"),
                ).localCheckpoint()
            with tracer.span("files.write"):
                write_parquet(dataset, os.path.join(out, "text_dataset"))
            with tracer.span("curation.answer_start"):
                examples = self._examples(dataset)
                with_offsets = examples.withColumn(
                    "answer_start", find_answer_start_udf(F.col("answer"), F.col("context"))
                ).localCheckpoint()
            with tracer.span("reshape.nest_squad"):
                shifted = farm_zero_shift(with_offsets, "context", "answer_start")
                answerable = shifted.filter(F.size("answer_start") > 0)
                train, dev = train_dev_split(answerable, F.col("context"), 0.8, salt="squad")
                train, dev = nest_to_squad(train).localCheckpoint(), nest_to_squad(dev).localCheckpoint()
            with tracer.span("files.write"):
                write_json(train, os.path.join(out, "squad_train"))
                write_json(dev, os.path.join(out, "squad_dev"))
        errors, recall, n_rows = self._check_outputs(out)
        # the layer-at-a-time composition must give the untraced job's output
        ref = self.outputs[max(self.outputs)]
        diffs = {
            part: frames_equal(_read_dir(os.path.join(out, part), "parquet"),
                               _read_dir(os.path.join(ref, part), "parquet"))
            for part in ("dedup_labels", "text_dataset")
        }
        diffs["squad"] = frames_equal(_squad_rows(out), _squad_rows(ref))
        errors += [f"traced {part} differs from the untraced job's: {err}"
                   for part, err in diffs.items() if err]
        written = [
            os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
            if not f.startswith((".", "_"))
        ]
        nbytes = sum(os.path.getsize(f) for f in written)
        return {
            "error": "; ".join(errors) or None,
            "files.scan_s": tracer.busy("files.scan"),
            "files.write_s": tracer.busy("files.write"),
            "files.bytes_written": nbytes,
            "files.files_written": len(written),
            "files.bytes_per_row": nbytes / max(1, n_rows),
            "dedup.signature_busy_s": tracer.busy("dedup.signature"),
            "dedup.candidate_pairs": n_cand,
            "dedup.candidate_precision": n_pairs / max(1, n_cand),
            "dedup.planted_recall": recall,
            "dedup.cluster_busy_s": tracer.busy("dedup.cluster"),
            "dedup.keep_canonical_busy_s": tracer.busy("dedup.keep_canonical"),
            "curation.negative_sample_busy_s": tracer.busy("curation.negative_sample"),
            "curation.answer_start_busy_s": tracer.busy("curation.answer_start"),
            "reshape.nest_squad_busy_s": tracer.busy("reshape.nest_squad"),
            "text.clean_busy_s": tracer.busy("text.clean"),
            "relational.dedup_keep_first_busy_s": tracer.busy("relational.dedup_keep_first"),
            "files.rfc4180_rows_misread": self.rfc4180_probe(),
        }

    def rfc4180_probe(self) -> int:
        """Known defect, measured apart from the job: rows of an RFC 4180
        workbook (doubled quotes) that ``read_annotation_workbooks`` does
        not read back as written."""
        from collections import Counter

        from aicoe_osc_demo_spark.sources.files import read_annotation_workbooks

        root = os.path.join(self.ctx.run_dir, "probe_csv")
        os.makedirs(root)
        rows = gen.write_rfc4180_probe(os.path.join(root, "export.csv"), self.ctx.seed)
        schema = ", ".join(f"{c} string" for c in gen.ANNOTATION_COLUMNS)
        got = read_annotation_workbooks(self.spark, root, gen.ANNOTATION_COLUMNS, schema=schema)
        got = [tuple(r) for r in got.select(*gen.ANNOTATION_COLUMNS).collect()]
        misread = sum((Counter(map(tuple, rows)) - Counter(got)).values())
        return known_defect("RFC 4180 workbook rows misread", misread, len(rows))


def _squad_rows(out: str) -> pd.DataFrame:
    """The SQuAD output of a curation job, one row per (split, context, qa)."""
    rows = []
    for split in ("squad_train", "squad_dev"):
        for doc in _read_dir(os.path.join(out, split), "json").to_dict("records"):
            for p in doc.get("paragraphs") or []:
                for qa in p["qas"]:
                    rows.append((split, str(doc.get("title")), p["context"],
                                 json.dumps(qa, sort_keys=True, default=str)))
    return pd.DataFrame(rows, columns=["split", "title", "context", "qa"])


WORKLOADS = {w.name: w for w in (PdfInference, TrainingCuration)}
