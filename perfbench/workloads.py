"""The benchmark's four seeded workloads.

Each workload builds its inputs from the seed (``setup``), runs one
closed-loop pass of the program's public entry points over them
(``run_pass``), checks one untimed pass against an independent oracle
(``check``), and times its layers one public call at a time
(``trace``).  See README.md for why each workload exists and which
layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from pdf_extraction_spark import corpus, enrich_rules, oracle
from pdf_extraction_spark.operators import warc
from pdf_extraction_spark.operators.docx import docx_to_spans
from pdf_extraction_spark.operators.html import html_to_spans
from pdf_extraction_spark.operators.multimodal import image_header_meta
from pdf_extraction_spark.operators.pdffile import (build_pdf_files,
                                                    files_to_spans,
                                                    pages_from_files)
from pdf_extraction_spark.operators.pdfstream import tokenize_streams
from pdf_extraction_spark.operators.pptx import pptx_to_spans
from pdf_extraction_spark.plans.enrichment import enrich_extracted
from pdf_extraction_spark.plans.fused import assemble_fused
from pdf_extraction_spark.sources.catalog import ParquetStore
from pdf_extraction_spark.sources.checkpoint import (content_hash_col,
                                                     read_metrics,
                                                     read_output,
                                                     run_incremental)

from instruments import materialize, sink, sink_count

GIANT_EVERY = 997      # corpus.generate_docs' giant-doc period
VOCAB = ("the fast key order sort table scan merge part window small "
         "hash join batch stream spark value line data row column "
         "filter group query big slow vector agg customer roof wall "
         "deck beam joist gutter flashing").split()


def documents_table(n: int, seed: int, stream: int) -> pd.DataFrame:
    """``documents(doc_id bigint, text string)``, the table the package's
    closed-form DuckDB oracles read.  The doc_id base is a multiple of
    60, so every seed sees the same mix of the writers' doc_id-modulus
    variants (families, filters, xref flavours) and only the text and
    the id range change."""
    rng = np.random.default_rng([seed, stream])
    base = int(rng.integers(0, 10**6)) * 60
    lens = rng.integers(60, 140, n)
    return pd.DataFrame({
        "doc_id": np.arange(base, base + n, dtype=np.int64),
        "text": [" ".join(rng.choice(VOCAB, k)) for k in lens]})


def duckdb_rows(sql: str, documents: pd.DataFrame) -> list[tuple]:
    import duckdb
    con = duckdb.connect()
    try:
        con.register("documents", documents)
        return con.execute(sql).fetchall()
    finally:
        con.close()


def compare_rows(label: str, got: list[tuple], want: list[tuple]
                 ) -> list[str]:
    got, want = sorted(got), sorted(want)
    if got == want:
        return []
    g, w = set(got), set(want)
    return [f"{label}: {len(got)} rows vs {len(want)} expected; "
            f"{len(g - w)} unexpected, {len(w - g)} missing, e.g. "
            f"{sorted(g ^ w)[:1]}"]


def exploded(spans_df, id_col):
    s = spans_df.select(id_col, F.explode("spans").alias("s"))
    return s.select(id_col, F.col("s.offset").cast("long"),
                    F.col("s.kind"), F.col("s.text"),
                    F.col("s.media_ref"))


def _task_ms(rec: dict) -> list[int]:
    return rec["stages"]["task_ms"] or [0]


class Workload:
    """Base class: sizes, pass bookkeeping and shared trace steps."""

    name = ""
    n_docs = 0
    provides: tuple[str, ...] = ()   # per-layer metric prefixes traced
    # untimed passes after the check pass.  Measured over ten seeds:
    # with one, the first timed pass still ran 5-15% slow (code
    # generation, JVM compilation); the enrichment memo caches need
    # more (Reports)
    warmup_passes = 2

    def __init__(self, spark, seed: int, work: str, nproc: int,
                 scale: float = 1.0) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.n = max(int(self.n_docs * scale), 4 * nproc)
        self.inputs = None
        self.sliced = None
        self.offered = 0          # docs counted by docs_per_s
        self.expected_out = 0     # rows the sink must see per pass

    def release(self) -> None:
        for df in (self.inputs, self.sliced):
            if df is not None:
                df.unpersist()
        self.inputs = self.sliced = None

    def prepare_pass(self) -> None:
        """Untimed preparation before each pass."""

    def run_pass(self, sliced: bool = False) -> int:
        return sink_count(self.pipeline(self.sliced if sliced
                                        else self.inputs))

    def make_slice(self) -> int:
        """Persist a 1/nproc stratified slice in ONE partition (the
        single-core leg of scaling efficiency); returns docs offered."""
        self.sliced = materialize(self.inputs.where(
            self.doc_index() % self.nproc == 0).coalesce(1))
        return self.sliced.count()

    def check(self) -> tuple[list[str], int]:
        """One untimed pass checked against the oracle: (problems, docs
        out).  ``collect`` runs the pass and gathers what ``verify``
        compares, so the self-test can corrupt the gathered output."""
        got = self.collect()
        return self.verify(got), got["docs_out"]

    # -- shared trace steps ------------------------------------------
    # A layer's self time is the wall of the chain's nested prefix that
    # ends with the layer's public call, minus the wall of the prefix
    # before it: inside Spark's pipelined stages, that is the time the
    # layer adds.  Each step fills metrics into ``m`` and returns the
    # self times it measured; a step whose metrics ``m`` already holds
    # (from the requested workload's own chain) is skipped when this
    # workload runs as a side chain.
    def trace_fused(self, tr, upstream, before_s: float, m: dict
                    ) -> list[float]:
        """``upstream`` builds the chain before fused extraction."""
        if "fused.self_s" in m:
            return []
        rec = prefix(tr, "+fused", lambda: assemble_fused(upstream()),
                     spans=F.sum(F.size("spans")))
        fused_metrics(rec, before_s, m)
        return [m["fused.self_s"]]

    def trace_pdf(self, tr, files, m: dict) -> tuple[list[float], float]:
        """parse -> tokenize -> layout+regroup over ``files``; returns
        the self times and the wall of the whole ``files_to_spans``
        prefix.  Layout and regroup have no public entry of their own,
        so ``layout.self_s`` is ``files_to_spans`` minus its tokenize
        prefix."""
        if "pdffile.parse_s" in m:
            return [], 0.0
        parse = prefix(tr, "pdffile.parse", lambda: pages_from_files(files))
        tok = prefix(tr, "+pdfstream.tokenize", lambda: tokenize_streams(
            pages_from_files(files), maps_col="fontmaps"))
        lay = prefix(tr, "+layout", lambda: files_to_spans(files))
        m["pdffile.parse_s"] = parse["wall_s"]
        m["pdffile.pages_out"] = parse["out"]["rows"]
        m["pdffile.bytes_in"] = files.agg(
            F.sum(F.length("pdf"))).first()[0]
        m["pdfstream.tokenize_s"] = tok["wall_s"] - parse["wall_s"]
        m["pdfstream.runs_out"] = tok["out"]["rows"]
        m["layout.self_s"] = lay["wall_s"] - tok["wall_s"]
        m["layout.exchanges"] = lay["stages"]["shuffle_stages"]
        m["layout.shuffle_bytes"] = lay["stages"]["shuffle_write"]
        return ([m["pdffile.parse_s"], m["pdfstream.tokenize_s"],
                 m["layout.self_s"]], lay["wall_s"])


def prefix(tr, name: str, build, **aggs) -> dict:
    """Build one nested prefix of a layer chain and run it to the no-op
    sink, both in its own span (building a plan costs time too: Spark
    analyses each transformation as it is added); ``rec["out"]`` holds
    the observed rows and aggregates."""
    with tr.span(name) as rec:
        rec["out"] = sink(build(), **aggs)
    return rec


def fused_metrics(rec: dict, before_s: float, m: dict) -> None:
    m["fused.self_s"] = rec["wall_s"] - before_s
    m["fused.spans_out"] = rec["out"]["spans"]
    m["fused.task_p50_ms"] = float(np.median(_task_ms(rec)))
    m["fused.task_max_ms"] = max(_task_ms(rec))


# ------------------------------------------------------------ reports

class Reports(Workload):
    """Span corpus -> fused extraction -> enrichment."""

    name = "reports"
    n_docs = 1000
    provides = ("fused", "enrichment")
    # each Python worker's enrichment memo caches keep warming for ~5
    # passes of 1000 docs (pass wall 8.4 s -> 4.1 s on 4 cores); the
    # check pass and three more put the timed ones near the flat part
    warmup_passes = 3

    def setup(self) -> None:
        # No giant doc in the timed corpus: at 1000 docs the one giant
        # (8k-13k spans by seed) is a tenth of the work and sits on the
        # critical path, which moved docs/s by +-15% across seeds.  The
        # check pass still runs and checks a giant doc.
        self.inputs = materialize(corpus.generate_docs(
            self.spark, self.n, seed=self.seed))
        self.offered = self.expected_out = self.n

    def pipeline(self, docs):
        return enrich_extracted(assemble_fused(docs))

    def doc_index(self):
        return F.substring("doc_id", 5, 9).cast("long")

    def giant_doc(self):
        """The seed's first giant doc (index GIANT_EVERY - 1 of
        ``generate_docs(giant_every=GIANT_EVERY)``), renamed apart from
        the timed corpus."""
        name = f"doc_{GIANT_EVERY - 1:09d}"
        return corpus.generate_docs(
            self.spark, GIANT_EVERY, seed=self.seed,
            giant_every=GIANT_EVERY).where(F.col("doc_id") == name) \
            .withColumn("doc_id", F.lit("giant_" + name))

    def collect(self) -> dict:
        rng = np.random.default_rng([self.seed, 1])
        ids = [f"doc_{i:09d}" for i in sorted(
            rng.choice(self.n, min(12, self.n), replace=False).tolist())]
        extracted = materialize(assemble_fused(self.inputs))
        obs = Observation("check")
        enriched = enrich_extracted(extracted).observe(
            obs, F.count(F.lit(1)).alias("rows"))
        got_enr = {r["doc_id"]: r.asDict(recursive=True) for r in
                   enriched.where(F.col("doc_id").isin(ids)).collect()}
        docs_out = int(obs.get["rows"])
        sample = extracted.where(F.col("doc_id").isin(ids))
        inputs = self.inputs.where(F.col("doc_id").isin(ids))
        giant = materialize(self.giant_doc())
        giant_ext = materialize(assemble_fused(giant))
        got_ext = {r["doc_id"]: r.asDict(recursive=True) for r in
                   sample.unionByName(giant_ext).collect()}
        got_enr.update((r["doc_id"], r.asDict(recursive=True)) for r in
                       enrich_extracted(giant_ext).collect())
        docs = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in
                inputs.unionByName(giant).collect()}
        for df in (extracted, giant, giant_ext):
            df.unpersist()
        return {"extracted": got_ext, "enriched": got_enr,
                "inputs": docs, "docs_out": docs_out}

    def verify(self, got: dict) -> list[str]:
        return check_reports(got["extracted"], got["enriched"],
                             got["inputs"])

    def trace(self, tr, m: dict) -> list[float]:
        fused = prefix(tr, "fused", lambda: assemble_fused(self.inputs),
                       spans=F.sum(F.size("spans")),
                       issues=F.sum(F.size("issues")))
        enr = prefix(tr, "+enrichment",
                     lambda: self.pipeline(self.inputs))
        if "fused.self_s" not in m:
            fused_metrics(fused, 0.0, m)
        m["enrichment.self_s"] = enr["wall_s"] - fused["wall_s"]
        m["enrichment.issues_in"] = fused["out"]["issues"]
        m["enrichment.task_max_ms"] = max(_task_ms(enr))
        return [fused["wall_s"], m["enrichment.self_s"]]


_ENRICH_EXACT = ("id", "section", "subsection", "status",
                 "standard_severity", "standard_action",
                 "standard_category", "cost_strategy", "grouped_with")
_ENRICH_FLAGS = ("is_grouped", "is_duplicate",
                 "requires_specialized_labor", "safety_flag")
_ENRICH_FLOATS = ("urgency_score", "complexity_factor",
                  "severity_confidence", "action_confidence",
                  "category_confidence", "strategy_confidence",
                  "data_quality_score")


def check_reports(got_ext: dict, got_enr: dict, inputs: dict
                  ) -> list[str]:
    """Span-sequence equality on (kind, text, media_ref, order) against
    ``oracle.extract_doc``, and enriched issues against
    ``enrich_rules.enrich_document`` over the oracle's issues."""
    problems = []
    for doc_id, spans in sorted(inputs.items()):
        want = oracle.extract_doc(doc_id, spans)
        g, e = got_ext.get(doc_id), got_enr.get(doc_id)
        if g is None or e is None:
            problems.append(f"{doc_id}: missing from output")
            continue
        key = [(s["kind"], s["text"], s["media_ref"], s["order"])
               for s in want["spans"]]
        if key != [(s["kind"], s["text"], s["media_ref"], s["order"])
                   for s in g["spans"]]:
            problems.append(f"{doc_id}: span sequence differs")
        enr = enrich_rules.enrich_document(
            [dict(i) for i in want["issues"]])
        if len(e["issues"]) != len(enr["issues"]):
            problems.append(f"{doc_id}: {len(e['issues'])} enriched "
                            f"issues, expected {len(enr['issues'])}")
            continue
        for gi, wi in zip(e["issues"], enr["issues"]):
            wi = {**wi, "grouped_with": wi.get("grouped_with") or []}
            bad = [k for k in _ENRICH_EXACT if gi[k] != wi.get(k)]
            bad += [k for k in _ENRICH_FLAGS
                    if bool(gi[k]) != bool(wi.get(k))]
            bad += [k for k in _ENRICH_FLOATS
                    if not math.isclose(gi[k], wi[k], abs_tol=1e-9)]
            if bad:
                problems.append(f"{doc_id}: issue {gi['id']} differs "
                                f"on {bad}")
        if e["summary"]["total_issues"] != enr["summary"]["total_issues"] \
                or len(e["groups"]) != len(enr["groups"]):
            problems.append(f"{doc_id}: summary/groups differ")
    return problems


# ----------------------------------------------------------- pdf_files

class PdfFiles(Workload):
    """Raw PDF bytes -> files_to_spans -> fused extraction."""

    name = "pdf_files"
    n_docs = 2000
    provides = ("fused", "pdffile", "pdfstream", "layout")

    def setup(self) -> None:
        self.documents = documents_table(self.n, self.seed, stream=2)
        docs = self.spark.createDataFrame(self.documents) \
            .repartition(2 * self.nproc)
        self.inputs = materialize(build_pdf_files(docs))
        self.offered = self.expected_out = self.n

    def pipeline(self, files):
        return assemble_fused(files_to_spans(files))

    def doc_index(self):
        return F.col("doc_id").cast("long")

    def collect(self) -> dict:
        from pdf_extraction_spark.queries_pdffile import _SQL_SPANS
        spans = materialize(files_to_spans(self.inputs))
        rows = [tuple(r) for r in exploded(
            spans.withColumn("doc_id", F.col("doc_id").cast("long")),
            "doc_id").collect()]
        docs_out = sink_count(assemble_fused(spans))
        spans.unpersist()
        return {"rows": rows, "want": duckdb_rows(_SQL_SPANS,
                                                  self.documents),
                "docs_out": docs_out}

    def verify(self, got: dict) -> list[str]:
        return compare_rows("pdf spans vs _SQL_SPANS", got["rows"],
                            got["want"])

    def trace(self, tr, m: dict) -> list[float]:
        top, spans_s = self.trace_pdf(tr, self.inputs, m)
        return top + self.trace_fused(
            tr, lambda: files_to_spans(self.inputs), spans_s, m)


# --------------------------------------------------------- crawl_mixed

class CrawlMixed(Workload):
    """Mixed WARC containers (html/pdf/docx/pptx + png resources, a
    quarter of the documents captured twice) -> warc_dispatch_spans ->
    fused extraction."""

    name = "crawl_mixed"
    n_docs = 1500
    provides = ("fused", "warc", "html", "docx", "pptx", "multimodal",
                "pdffile", "pdfstream", "layout")

    def setup(self) -> None:
        from pdf_extraction_spark.queries_html import _media_page_expr
        self.documents = documents_table(self.n, self.seed, stream=3)
        d = self.spark.createDataFrame(self.documents)
        pages = d.select("doc_id", F.col("text").alias("t")).select(
            "doc_id", F.col("t").alias("text"),
            F.expr(_media_page_expr("CAST(doc_id AS STRING)"))
            .alias("html"))
        files = warc.build_mixed_warc_files(pages)
        # a revisit is the same capture bytes under another warc_id;
        # "rv-" sorts after the digits, so the copy wins the dedupe
        revisits = files.where(F.pmod(F.xxhash64(
            "warc_id", F.lit(self.seed)), 4) == 0).select(
            F.concat(F.lit("rv-"), "warc_id").alias("warc_id"), "warc")
        self.inputs = materialize(files.unionByName(revisits)
                                  .repartition(2 * self.nproc))
        n_logo = int((self.documents["doc_id"] % 5 == 0).sum())
        self.offered = self.expected_out = self.n + n_logo

    def pipeline(self, files):
        return assemble_fused(warc.warc_dispatch_spans(files))

    def doc_index(self):
        return F.regexp_replace("warc_id", r"\D", "").cast("long")

    def make_slice(self) -> int:
        super().make_slice()
        ids = self.documents["doc_id"]
        picked = ids[ids % self.nproc == 0]
        return len(picked) + int((picked % 5 == 0).sum())   # + png docs

    def collect(self) -> dict:
        from pdf_extraction_spark.queries_warc import _sql_warc_dispatch
        spans = materialize(warc.warc_dispatch_spans(self.inputs))
        rows = [tuple(r) for r in exploded(spans, "doc_id").collect()]
        doc_ids = [r[0] for r in spans.select("doc_id").collect()]
        docs_out = sink_count(assemble_fused(spans))
        spans.unpersist()
        return {"rows": rows, "doc_ids": doc_ids, "docs_out": docs_out,
                "want": duckdb_rows(_sql_warc_dispatch(), self.documents)}

    def verify(self, got: dict) -> list[str]:
        problems = compare_rows("dispatch spans vs _sql_warc_dispatch",
                                got["rows"], got["want"])
        ids = got["doc_ids"]
        if len(ids) != len(set(ids)):
            problems.append(f"revisits did not collapse: {len(ids)} rows "
                            f"for {len(set(ids))} doc_ids")
        return problems

    def trace(self, tr, m: dict) -> list[float]:
        def records():
            return warc.records_from_warc(self.inputs)

        frame = prefix(tr, "warc.frame", records)
        dedupe = prefix(tr, "+warc.dedupe",
                        lambda: warc.dedupe_captures(records()))
        with tr.span("+warc.land") as land:
            landed = warc.dedupe_captures(records()) \
                .localCheckpoint(eager=True)
        # the pipeline itself lands before dispatching, so dispatch and
        # what follows it read the landed records
        def dispatched():
            return warc.dispatch_spans(landed, dedupe=False)

        dispatch = prefix(tr, "warc.dispatch", dispatched)
        m["warc.frame_s"] = frame["wall_s"]
        m["warc.records_out"] = frame["out"]["rows"]
        m["warc.dedupe_s"] = dedupe["wall_s"] - frame["wall_s"]
        m["warc.dedupe_kept_ratio"] = (dedupe["out"]["rows"]
                                       / frame["out"]["rows"])
        m["warc.land_s"] = land["wall_s"] - dedupe["wall_s"]
        m["warc.dispatch_s"] = dispatch["wall_s"]
        top = [m["warc.frame_s"], m["warc.dedupe_s"], m["warc.land_s"],
               m["warc.dispatch_s"]]
        top += self.trace_fused(tr, dispatched, dispatch["wall_s"], m)
        self.trace_families(tr, landed, m)
        return top

    def trace_families(self, tr, landed, m: dict) -> None:
        """Each dispatch family timed on its own persisted slice of the
        landed records (a breakdown of warc.dispatch, not added to the
        layer sum)."""
        resp = landed.where((F.col("warc_type") == "response")
                            & (F.col("http_status") == 200))
        uri = F.col("target_uri").alias("doc_id")

        def family(where, *cols):
            return materialize(resp.where(where).select(uri, *cols))

        ct = F.col("content_type")
        steps = [
            ("html.self_s", html_to_spans,
             family(ct.isin(*warc.HTML_MIMES), F.col("text").alias("html"))),
            ("docx.self_s", docx_to_spans,
             family(ct == warc.DOCX_MIME, F.col("payload").alias("docx"))),
            ("pptx.self_s", pptx_to_spans,
             family(ct == warc.PPTX_MIME, F.col("payload").alias("pptx"))),
        ]
        for metric, fn, df in steps:
            with tr.span(metric.split(".")[0]) as rec:
                sink_count(fn(df))
            m[metric] = rec["wall_s"]
            df.unpersist()
        media = materialize(landed.where(
            (F.col("warc_type") == "resource")
            & F.col("content_type").startswith("image/"))
            .select(uri, "payload"))
        with tr.span("multimodal.sniff") as rec:
            sink_count(image_header_meta(media, bytes_col="payload",
                                         ref_col="doc_id"))
        m["multimodal.sniff_s"] = rec["wall_s"]
        media.unpersist()
        if "pdffile.parse_s" not in m:
            pdfs = family(ct == warc.PDF_MIME,
                          F.col("payload").alias("pdf"))
            self.trace_pdf(tr, pdfs, m)
            pdfs.unpersist()


# -------------------------------------------------------------- resume

class TimedStore:
    """``ParquetStore`` whose writes run inside tracer spans; passed as
    the public ``store=`` argument of ``run_incremental``."""

    def __init__(self, inner: ParquetStore, tr) -> None:
        self.inner, self.tr, self.writes = inner, tr, []

    def __getattr__(self, attr):
        return getattr(self.inner, attr)

    def append(self, df, ident: str) -> None:
        with self.tr.span(f"catalog.append.{ident}") as rec:
            self.inner.append(df, ident)
        self.writes.append(rec)

    def upsert_keys(self, df, ident: str, keys: list[str]) -> None:
        with self.tr.span(f"catalog.upsert.{ident}") as rec:
            self.inner.upsert_keys(df, ident, keys)
        self.writes.append(rec)


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Resume(Workload):
    """run_incremental over a reports corpus whose checkpoint already
    holds ~90% of the docs; every pass starts from a pristine copy."""

    name = "resume"
    n_docs = 800
    provides = ("fused", "checkpoint", "catalog")

    def setup(self) -> None:
        self.pristine = os.path.join(self.work, "resume-pristine")
        self.out = os.path.join(self.work, "resume-pass")
        shutil.rmtree(self.pristine, ignore_errors=True)
        self.inputs = materialize(corpus.generate_docs(
            self.spark, self.n, seed=self.seed))
        held = self.inputs.where(F.pmod(F.xxhash64(
            "doc_id", F.lit(self.seed)), 10) != 0)
        stats = run_incremental(self.spark, held, self.pristine)
        self.offered = self.n
        self.expected_out = self.n - stats["processed"]
        self.stats = None

    def prepare_pass(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.pristine, self.out)

    def run_pass(self, sliced: bool = False, store=None) -> int:
        self.stats = run_incremental(
            self.spark, self.sliced if sliced else self.inputs,
            self.out, store=store)
        return self.stats["processed"]

    def doc_index(self):
        return F.substring("doc_id", 5, 9).cast("long")

    def collect(self) -> dict:
        self.prepare_pass()
        docs_out = self.run_pass()
        data = read_output(self.spark, self.out)
        run = read_metrics(self.spark, self.out).where(
            F.col("run_id") == self.stats["run_id"]).agg(
            F.count(F.lit(1)), F.sum("doc_count")).first()
        return {"out_ids": [r[0] for r in data.select("doc_id").collect()],
                "in_ids": [r[0] for r in
                           self.inputs.select("doc_id").collect()],
                "run_metric_rows": run[0], "run_metric_docs": run[1],
                "docs_out": docs_out}

    def verify(self, got: dict) -> list[str]:
        problems = []
        out, want = sorted(got["out_ids"]), sorted(got["in_ids"])
        if out != want:
            problems.append(f"output holds {len(out)} rows / "
                            f"{len(set(out))} docs, expected each of "
                            f"{len(want)} docs once")
        if not got["run_metric_rows"] \
                or got["run_metric_docs"] != self.expected_out:
            problems.append(f"metrics table gained "
                            f"{got['run_metric_rows']} rows counting "
                            f"{got['run_metric_docs']} docs, expected "
                            f"{self.expected_out}")
        return problems

    def trace(self, tr, m: dict) -> list[float]:
        self.prepare_pass()
        def keyed():
            return self.inputs.withColumn("content_hash",
                                          content_hash_col())

        def todo():
            # the anti-join run_incremental makes before extracting
            seen = ParquetStore(self.out).read(self.spark, "processed")
            return keyed().join(seen.select("doc_id", "content_hash"),
                                ["doc_id", "content_hash"], "left_anti")

        hashed = prefix(tr, "checkpoint.hash", keyed)
        anti = prefix(tr, "+checkpoint.antijoin", todo)
        m["checkpoint.hash_s"] = hashed["wall_s"]
        m["checkpoint.antijoin_s"] = anti["wall_s"] - hashed["wall_s"]
        m["checkpoint.skip_ratio"] = 1 - anti["out"]["rows"] / self.n
        top = [m["checkpoint.hash_s"], m["checkpoint.antijoin_s"]]
        top += self.trace_fused(tr, lambda: todo().drop("content_hash"),
                                anti["wall_s"], m)
        store = TimedStore(ParquetStore(self.out), tr)
        before = _tree_bytes(self.out)
        with tr.span("checkpoint.run_incremental"):
            self.run_pass(store=store)
        m["catalog.append_s"] = sum(r["wall_s"] for r in store.writes)
        m["catalog.bytes_written"] = _tree_bytes(self.out) - before
        return top + [m["catalog.append_s"]]


WORKLOADS = {w.name: w for w in (Reports, PdfFiles, CrawlMixed, Resume)}
