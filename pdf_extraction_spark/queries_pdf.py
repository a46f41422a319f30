"""Gate queries for the PDF content-stream tokenizer
(``operators/pdfstream.py``): raw content-stream bytes -> positioned
runs -> contract spans.

The ``documents`` test table is plain text, so both engines first
derive the SAME deterministic slices of each document's (padded) text;
the Spark side renders them into a real PDF content stream (Td/TD/Tm/
T*/TL positioning, Tf font switches, Tc/Tw/Tz spacing, a kerned TJ
array, the ' and " show operators, literal-string escapes, a hex
string, q/cm/Q graphics state and two XObject ``Do`` placements) and
runs the actual lexer + §9.4 text-object machine over it, while the
oracle computes the expected run table in closed form from the same
slices — every coordinate, advance and effective size is DYADIC
(0.5/5.5/7.5-style factors on integer lengths) so the driver's
bit-exact float hash holds.

``pdf_spans`` continues through ``pdf_to_spans`` (tokenize -> y-down
conversion -> line/block clustering -> interleaved media spans); the
synthetic page's geometry is chosen so the block structure is known
analytically (heading block, a 3-line body block at 14pt leading, a
two-run kerned line, a spaced paragraph, a trailer line, plus one
unconditional and one doc_id%3-conditional figure), letting the oracle
emit the expected span arrays directly.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.pdfstream import pdf_to_spans, tokenize_streams

# constant tail so every slice below is non-empty for every doc (the
# escape round-trip still sees the doc's own parens/backslashes first)
_PAD = " the quick brown fox jumps over the lazy dog" * 5

# 1-based (start, length) slices of the padded text, shared verbatim
# by the stream builder and the oracle arithmetic
_SLICES = {"h_t": (1, 24), "l1": (25, 40), "l2": (65, 40),
           "l3": (105, 40), "k1": (145, 12), "k2": (157, 12),
           "w1": (169, 40)}

# decoded form of the constant trailer literal the stream spells as
# (Esc \( ok \) \\ \101 fin) — gates the escape table + octal decode
_TRAILER_SQL = "'Esc ( ok ) ' || chr(92) || ' A fin'"


def _esc(col: str) -> str:
    """Escape a text slice for embedding in a PDF literal string
    (backslash first, then parens) — Spark-side only; the tokenizer
    must undo this exactly for the oracle's raw slices to match."""
    return (f"replace(replace(replace({col}, chr(92), "
            f"chr(92) || chr(92)), '(', chr(92) || '('), "
            f"')', chr(92) || ')')")


def _stream_expr() -> str:
    """SQL rendering (doc_id, p) -> one content stream."""
    e = {k: _esc(f"substr(p, {a}, {n})") for k, (a, n) in _SLICES.items()}
    return f"""
  'BT /F1 18 Tf 72 700 Td (' || {e['h_t']} || ') Tj '
  || '/F2 11 Tf 14 TL 0 -34 Td (' || {e['l1']} || ') Tj T* ('
  || {e['l2']} || ') Tj (' || {e['l3']} || ') ' || chr(39) || ' '
  || '0 -38 Td [(' || {e['k1']} || ') -500 (' || {e['k2']} || ')] TJ '
  || '2 Tc 4 Tw 50 Tz 0 -28 Td (' || {e['w1']} || ') Tj ET '
  || 'q 1 0 0 1 50 320 cm /Fig0 Do Q '
  || CASE WHEN doc_id % 3 = 0
       THEN 'q 2 0 0 2 306 500 cm /Img1 Do Q ' ELSE '' END
  || 'BT /F3 9 Tf 1 0 0 1 72 96 Tm 8 2 (Esc ' || chr(92) || '( ok '
  || chr(92) || ') ' || chr(92) || chr(92) || ' ' || chr(92)
  || '101 fin) " <48455821> Tj ET'
""".strip()


def _pdf_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.expr(f"COALESCE(text, '') || '{_PAD}'").alias("p")) \
        .select("doc_id", F.expr(_stream_expr()).alias("stream"))


def q_pdf_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched content-stream tokenization: lexer + text-object state
    machine as one map-only Arrow pass (operators/pdfstream.py
    tokenize_streams — zero shuffle, plan-asserted)."""
    runs = tokenize_streams(_pdf_streams(spark, sf_dir))
    return runs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "run_idx", "kind", "text", "media_ref", "font",
        "size", "x", "y", "w", "h") \
        .orderBy("doc_id", "run_idx")


def _sql_slices() -> str:
    cols = ", ".join(f"substr(p, {a}, {n}) AS {k}"
                     for k, (a, n) in _SLICES.items())
    return f"""
b AS (SELECT doc_id, COALESCE(text, '') || '{_PAD}' AS p
      FROM documents),
s AS (SELECT doc_id, {cols},
        CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS c
      FROM b)
""".strip()


# expected-run arithmetic (mirrors machine_runs exactly; every factor
# dyadic): adv = ((0.5*size + Tc)*len + Tw*n_spaces) * Tz/100
_SQL_PDF_RUNS = f"""
WITH {_sql_slices()},
r AS (
  SELECT doc_id, 0 AS run_idx, 'text' AS kind, h_t AS text,
    CAST(NULL AS VARCHAR) AS media_ref, 'F1' AS font, 18.0 AS size,
    72.0 AS x, 700.0 AS y, 9.0 * length(h_t) AS w, 18.0 AS h FROM s
  UNION ALL SELECT doc_id, 1, 'text', l1, NULL, 'F2', 11.0,
    72.0, 666.0, 5.5 * length(l1), 11.0 FROM s
  UNION ALL SELECT doc_id, 2, 'text', l2, NULL, 'F2', 11.0,
    72.0, 652.0, 5.5 * length(l2), 11.0 FROM s
  UNION ALL SELECT doc_id, 3, 'text', l3, NULL, 'F2', 11.0,
    72.0, 638.0, 5.5 * length(l3), 11.0 FROM s
  UNION ALL SELECT doc_id, 4, 'text', k1, NULL, 'F2', 11.0,
    72.0, 600.0, 5.5 * length(k1), 11.0 FROM s
  UNION ALL SELECT doc_id, 5, 'text', k2, NULL, 'F2', 11.0,
    72.0 + 5.5 * length(k1) + 5.5, 600.0, 5.5 * length(k2), 11.0
    FROM s
  UNION ALL SELECT doc_id, 6, 'text', w1, NULL, 'F2', 11.0,
    72.0, 572.0,
    (7.5 * length(w1)
     + 4.0 * (length(w1) - length(replace(w1, ' ', '')))) * 0.5,
    11.0 FROM s
  UNION ALL SELECT doc_id, 7, 'media', NULL, 'Fig0', 'F2', 0.0,
    50.0, 320.0, 1.0, 1.0 FROM s
  UNION ALL SELECT doc_id, 8, 'media', NULL, 'Img1', 'F2', 0.0,
    306.0, 500.0, 2.0, 2.0 FROM s WHERE c = 1
  UNION ALL SELECT doc_id, 8 + c, 'text', {_TRAILER_SQL}, NULL,
    'F3', 9.0, 72.0, 82.0, 82.5, 9.0 FROM s
  UNION ALL SELECT doc_id, 9 + c, 'text', 'HEX!', NULL, 'F3', 9.0,
    154.5, 82.0, 13.0, 9.0 FROM s)
SELECT doc_id, CAST(run_idx AS INT) AS run_idx, kind, text,
       media_ref, font, size, x, y, w, h
FROM r ORDER BY doc_id, run_idx
"""


def q_pdf_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content streams -> contract span arrays: tokenize -> y-down
    layout clustering -> one text span per block + interleaved media
    spans (operators/pdfstream.py pdf_to_spans — the bridge that runs
    the fused extraction pipeline on raw PDF bytes)."""
    spans = pdf_to_spans(_pdf_streams(spark, sf_dir))
    e = spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode("spans").alias("s"))
    return e.select(
        "doc_id",
        F.col("s.offset").cast("long").alias("offset"),
        F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref")) \
        .orderBy("doc_id", "offset")


# block structure known analytically (page height 792, y-down tops:
# heading 74, body block 115 (lines 115/129/143, 3pt gaps), kerned
# line 181, spaced paragraph 209, Img1 290 (c=1), Fig0 471,
# trailer 701) — reading order = offsets 0..5+c
_SQL_PDF_SPANS = f"""
WITH {_sql_slices()},
u AS (
  SELECT doc_id, 0 AS off, 'text' AS kind, h_t AS text,
    '' AS media_ref FROM s
  UNION ALL SELECT doc_id, 1, 'text',
    l1 || chr(10) || l2 || chr(10) || l3, '' FROM s
  UNION ALL SELECT doc_id, 2, 'text', k1 || ' ' || k2, '' FROM s
  UNION ALL SELECT doc_id, 3, 'text', w1, '' FROM s
  UNION ALL SELECT doc_id, 4, 'media', '', 'Img1' FROM s WHERE c = 1
  UNION ALL SELECT doc_id, 4 + c, 'media', '', 'Fig0' FROM s
  UNION ALL SELECT doc_id, 5 + c, 'text',
    {_TRAILER_SQL} || 'HEX!', '' FROM s)
SELECT doc_id, CAST(off AS BIGINT) AS "offset", kind, text, media_ref
FROM u ORDER BY doc_id, "offset"
"""


# ------------------------------------------------- kerned word gate

# fixed-length slices (the pad guarantees every slice is full), so all
# advances below are compile-time constants: size 8 -> 4.0/char,
# size 10 -> 5.0/char
_K_SLICES = {"k1": (1, 10), "k2": (11, 10), "k3": (21, 10),
             "a1": (31, 12), "a2": (43, 12),
             "b1": (55, 8), "b2": (63, 8)}


def _kern_stream_expr() -> str:
    """Three lines probing the gap-aware word-join rule end to end:

    - [(k1) -250 (k2) -1000 (k3)] TJ at 8pt: the -250 kern shifts
      +2.0pt (< 0.3 em = 2.4) -> k1k2 stays ONE word; the -1000 kern
      shifts +8.0pt (> 2.4) -> a word break before k3.
    - (a1) Tj /F2 10 Tf (a2) Tj: font switch mid-line at gap 0 ->
      one word spanning two fonts/sizes (threshold = 0.3 x max size).
    - (b1) Tj then an absolute Tm hop leaving a 12pt gap -> a space
      even with no space glyph anywhere on the line.
    """
    e = {k: _esc(f"substr(p, {a}, {n})")
         for k, (a, n) in _K_SLICES.items()}
    return f"""
  'BT /F1 8 Tf 72 700 Td [(' || {e['k1']} || ') -250 ('
  || {e['k2']} || ') -1000 (' || {e['k3']} || ')] TJ '
  || '0 -40 Td (' || {e['a1']} || ') Tj /F2 10 Tf ('
  || {e['a2']} || ') Tj '
  || '/F1 8 Tf 1 0 0 1 72 600 Tm (' || {e['b1']}
  || ') Tj 1 0 0 1 116 600 Tm (' || {e['b2']} || ') Tj ET'
""".strip()


def q_pdf_kerned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-aware word joining on kerned/font-split show strings
    (operators/layout.py line assembly with space_frac — the
    pdfplumber x_tolerance semantic): TJ kerns inside a word must NOT
    synthesize spaces, inter-word kerns and Tm hops MUST, via the
    default ``pdf_to_spans`` path."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = d.select(
        "doc_id",
        F.expr(f"COALESCE(text, '') || '{_PAD}'").alias("p")) \
        .select("doc_id", F.expr(_kern_stream_expr()).alias("stream"))
    spans = pdf_to_spans(docs)
    e = spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode("spans").alias("s"))
    return e.select(
        "doc_id",
        F.col("s.offset").cast("long").alias("offset"),
        F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref")) \
        .orderBy("doc_id", "offset")


def _k_sql_slices() -> str:
    cols = ", ".join(f"substr(p, {a}, {n}) AS {k}"
                     for k, (a, n) in _K_SLICES.items())
    return f"""
b AS (SELECT doc_id, COALESCE(text, '') || '{_PAD}' AS p
      FROM documents),
s AS (SELECT doc_id, {cols} FROM b)
""".strip()


# expected spans in closed form: line tops 84 / 122 / 184 are >10pt
# apart, so each line is its own block (offsets 0..2); the joins are
# the gap rule applied to the constant geometry in _kern_stream_expr
_SQL_PDF_KERNED = f"""
WITH {_k_sql_slices()},
u AS (
  SELECT doc_id, 0 AS off, k1 || k2 || ' ' || k3 AS t FROM s
  UNION ALL SELECT doc_id, 1, a1 || a2 FROM s
  UNION ALL SELECT doc_id, 2, b1 || ' ' || b2 FROM s)
SELECT doc_id, CAST(off AS BIGINT) AS "offset", 'text' AS kind,
       t AS text, '' AS media_ref
FROM u ORDER BY doc_id, "offset"
"""


# ------------------------------------------------ geometric tables

_T_SLICES = {"h": (1, 14), "c1": (15, 8), "c2": (23, 8),
             "w": (31, 20)}


def _table_stream_expr() -> str:
    """A drawn 3x3 table (header + two data rows) at Tm-positioned
    columns x = 72/240/420, rows y = 680/666/652, between a heading
    and a trailing comment line — no pipe characters anywhere in the
    bytes; the ' | ' markers must come from geometry alone."""
    e = {k: _esc(f"substr(p, {a}, {n})")
         for k, (a, n) in _T_SLICES.items()}
    return f"""
  'BT /F1 12 Tf 72 714 Td (' || {e['h']} || ') Tj '
  || '/F2 10 Tf 1 0 0 1 72 680 Tm (Item) Tj '
  || '1 0 0 1 240 680 Tm (Qty) Tj 1 0 0 1 420 680 Tm (Cost) Tj '
  || '1 0 0 1 72 666 Tm (' || {e['c1']} || ') Tj '
  || '1 0 0 1 240 666 Tm (2) Tj 1 0 0 1 420 666 Tm ($150) Tj '
  || '1 0 0 1 72 652 Tm (' || {e['c2']} || ') Tj '
  || '1 0 0 1 240 652 Tm (5) Tj 1 0 0 1 420 652 Tm ($1,200) Tj '
  || '1 0 0 1 72 600 Tm (' || {e['w']} || ') Tj ET'
""".strip()


def q_pdf_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric table recovery (operators/layout.py detect_tables —
    the pdfplumber 'text' table strategy): a drawn table whose cells
    are Tm-positioned runs with NO delimiter bytes emits as ' | '-joined
    table_row spans, the shape the S5/C6/T6 table operators
    consume."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = d.select(
        "doc_id",
        F.expr(f"COALESCE(text, '') || '{_PAD}'").alias("p")) \
        .select("doc_id", F.expr(_table_stream_expr()).alias("stream"))
    spans = pdf_to_spans(docs, detect_tables=True)
    e = spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode("spans").alias("s"))
    return e.select(
        "doc_id",
        F.col("s.offset").cast("long").alias("offset"),
        F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref")) \
        .orderBy("doc_id", "offset")


# closed form: heading block top 66, table lines top 102/116/130
# (one span per detected row), comment top 182 — five spans in
# y-order; the columns agree exactly so the 6pt buckets match
_SQL_PDF_TABLES = f"""
WITH b AS (SELECT doc_id, COALESCE(text, '') || '{_PAD}' AS p
           FROM documents),
s AS (SELECT doc_id,
        {", ".join(f"substr(p, {a}, {n}) AS {k}"
                   for k, (a, n) in _T_SLICES.items())}
      FROM b),
u AS (
  SELECT doc_id, 0 AS off, h AS t FROM s
  UNION ALL SELECT doc_id, 1, 'Item | Qty | Cost' FROM s
  UNION ALL SELECT doc_id, 2, c1 || ' | 2 | $150' FROM s
  UNION ALL SELECT doc_id, 3, c2 || ' | 5 | $1,200' FROM s
  UNION ALL SELECT doc_id, 4, w FROM s)
SELECT doc_id, CAST(off AS BIGINT) AS "offset", 'text' AS kind,
       t AS text, '' AS media_ref
FROM u ORDER BY doc_id, "offset"
"""


# ------------------------------------------------ ruled-line tables

_R_SLICES = {"r1": (180, 10), "r2": (190, 8), "r3": (198, 6)}


def _ruled_stream_expr() -> str:
    """A drawn (stroked) 3x3 grid — outer ``re`` + inner ``m/l/S``
    lines at x = 72/212/352/492, y = 628/652/676/700 — and, on even
    doc_ids, a second 2x2 grid below it (one line drawn under a
    ``q/cm/Q`` translate to exercise the CTM on path points), plus
    three decoys the detector must ignore: an underline with no
    crossing verticals, a diagonal stroke, and a clipping-only
    rectangle (``W n``).  Cell content is Tm-positioned text; row 2's
    middle cell is EMPTY and its cost cell is TWO runs ('75' 'usd')
    that must join left-to-right."""
    e = {k: _esc(f"substr(p, {a}, {n})")
         for k, (a, n) in _R_SLICES.items()}
    return f"""
  '72 628 420 72 re S '
  || '212 628 m 212 700 l S 352 628 m 352 700 l S '
  || '72 652 m 492 652 l S 72 676 m 492 676 l S '
  || CASE WHEN doc_id % 2 = 0 THEN
       '72 452 200 48 re S 172 452 m 172 500 l S '
       || 'q 1 0 0 1 0 -24 cm 72 500 m 272 500 l S Q ' ELSE '' END
  || '72 580 m 212 580 l S 300 550 m 350 600 l S '
  || '500 550 50 20 re W n '
  || 'BT /F2 10 Tf 76 688 Td (Item) Tj '
  || '1 0 0 1 216 688 Tm (Qty) Tj 1 0 0 1 356 688 Tm (Cost) Tj '
  || '1 0 0 1 76 660 Tm (' || {e['r1']} || ') Tj '
  || '1 0 0 1 216 660 Tm (2) Tj '
  || '1 0 0 1 356 660 Tm (' || {e['r2']} || ') Tj '
  || '1 0 0 1 76 636 Tm (beam) Tj '
  || '1 0 0 1 356 636 Tm (75) Tj 1 0 0 1 395 636 Tm (usd) Tj '
  || CASE WHEN doc_id % 2 = 0 THEN
       '1 0 0 1 76 484 Tm (A) Tj 1 0 0 1 176 484 Tm ('
       || {e['r3']} || ') Tj 1 0 0 1 76 460 Tm (C) Tj ' ELSE '' END
  || '1 0 0 1 90 578 Tm (heading outside) Tj ET'
""".strip()


def q_pdf_ruled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ruled-line table detection (operators/layout.py
    detect_ruled_tables over with_rules tokenization — the pdfplumber
    DEFAULT 'lines' table strategy the reference's
    ``page.extract_tables()`` runs, `src/table_extractor.py:9-56`):
    painted path segments become the cell grid; isolated underlines,
    diagonals and clip paths contribute nothing; stacked grids split
    into separate tables; empty cells hold their column position."""
    from .operators.pdfstream import ruled_table_rows

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = d.select(
        "doc_id",
        F.expr(f"COALESCE(text, '') || '{_PAD}'").alias("p")) \
        .select("doc_id", F.expr(_ruled_stream_expr()).alias("stream"))
    out = ruled_table_rows(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tbl_idx").cast("int").alias("tbl_idx"),
        F.col("row_idx").cast("int").alias("row_idx"),
        F.col("n_rows").cast("int").alias("n_rows"),
        F.col("n_cols").cast("int").alias("n_cols"),
        "table_text") \
        .orderBy("doc_id", "tbl_idx", "row_idx")


_SQL_PDF_RULED = f"""
WITH b AS (SELECT doc_id, COALESCE(text, '') || '{_PAD}' AS p
           FROM documents),
s AS (SELECT doc_id,
        {", ".join(f"substr(p, {a}, {n}) AS {k}"
                   for k, (a, n) in _R_SLICES.items())}
      FROM b),
u AS (
  SELECT doc_id, 0 AS tbl_idx, 0 AS row_idx, 3 AS n_rows, 3 AS n_cols,
         'Item | Qty | Cost' AS t FROM s
  UNION ALL SELECT doc_id, 0, 1, 3, 3, r1 || ' | 2 | ' || r2 FROM s
  UNION ALL SELECT doc_id, 0, 2, 3, 3, 'beam |  | 75 usd' FROM s
  UNION ALL SELECT doc_id, 1, 0, 2, 2, 'A | ' || r3 FROM s
    WHERE doc_id % 2 = 0
  UNION ALL SELECT doc_id, 1, 1, 2, 2, 'C | ' FROM s
    WHERE doc_id % 2 = 0)
SELECT doc_id, CAST(tbl_idx AS INTEGER) AS tbl_idx,
       CAST(row_idx AS INTEGER) AS row_idx,
       CAST(n_rows AS INTEGER) AS n_rows,
       CAST(n_cols AS INTEGER) AS n_cols, t AS table_text
FROM u ORDER BY doc_id, tbl_idx, row_idx
"""


# ------------------------------------------- /Artifact suppression

_A_SLICES = {"a1": (210, 16), "a2": (227, 14)}


def _artifact_stream_expr() -> str:
    """Tagged-PDF pagination chrome around real body content: an
    /Artifact header (page-number text + separator rule, property
    dict carrying the tag), an /Artifact BMC watermark Do, an
    /Artifact footer, one REAL figure, a /P MCID-tagged body line
    that must survive, and two body blocks 60pt apart."""
    e = {k: _esc(f"substr(p, {a}, {n})")
         for k, (a, n) in _A_SLICES.items()}
    return f"""
  '/Artifact << /Type /Pagination /Subtype /Header >> BDC '
  || 'BT /F1 8 Tf 72 770 Td (Page ' || CAST(doc_id % 100 AS STRING)
  || ' of 99 - CONFIDENTIAL) Tj ET 72 760 m 540 760 l S EMC '
  || 'BT /F2 11 Tf 72 700 Td (' || {e['a1']} || ') Tj ET '
  || '/P << /MCID 0 >> BDC BT /F2 11 Tf 72 640 Td ('
  || {e['a2']} || ') Tj ET EMC '
  || 'q 1 0 0 1 60 400 cm /Fig0 Do Q '
  || '/Artifact BMC q 4 0 0 4 150 300 cm /Wm0 Do Q EMC '
  || CASE WHEN doc_id % 2 = 0
       THEN 'q 2 0 0 2 306 320 cm /Img1 Do Q ' ELSE '' END
  || '/Artifact << /Subtype /Footer >> BDC '
  || 'BT /F1 8 Tf 72 40 Td (internal use only) Tj ET EMC'
""".strip()


def q_pdf_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§14.8 marked-content /Artifact suppression — the PDF-side
    boilerplate strip (pdf_to_spans(drop_artifacts=True)): tagged
    running header/footer/watermark content drops, /P-tagged and
    untagged body content plus real figures survive with gapless
    offsets."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = d.select(
        "doc_id",
        F.expr(f"COALESCE(text, '') || '{_PAD}'").alias("p")) \
        .select("doc_id",
                F.expr(_artifact_stream_expr()).alias("stream"))
    spans = pdf_to_spans(docs, drop_artifacts=True)
    e = spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode("spans").alias("s"))
    return e.select(
        "doc_id",
        F.col("s.offset").cast("long").alias("offset"),
        F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref")) \
        .orderBy("doc_id", "offset")


# closed form: body blocks at y-down tops 81 and 141 (60pt apart =
# separate blocks), Fig0 top 391, even docs' Img1 top 470 (h = 2)
_SQL_PDF_ARTIFACTS = f"""
WITH b AS (SELECT doc_id, COALESCE(text, '') || '{_PAD}' AS p
           FROM documents),
s AS (SELECT doc_id,
        {", ".join(f"substr(p, {a}, {n}) AS {k}"
                   for k, (a, n) in _A_SLICES.items())},
        CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS c
      FROM b),
u AS (
  SELECT doc_id, 0 AS off, 'text' AS kind, a1 AS t, '' AS m FROM s
  UNION ALL SELECT doc_id, 1, 'text', a2, '' FROM s
  UNION ALL SELECT doc_id, 2, 'media', '', 'Fig0' FROM s
  UNION ALL SELECT doc_id, 3, 'media', '', 'Img1' FROM s WHERE c = 1)
SELECT doc_id, CAST(off AS BIGINT) AS "offset", kind, t AS text,
       m AS media_ref
FROM u ORDER BY doc_id, "offset"
"""


QUERIES_PDF: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pdf_runs": q_pdf_runs,
    "pdf_spans": q_pdf_spans,
    "pdf_kerned": q_pdf_kerned,
    "pdf_tables": q_pdf_tables,
    "pdf_ruled": q_pdf_ruled,
    "pdf_artifacts": q_pdf_artifacts,
}

ORACLES_PDF: dict[str, str] = {
    "pdf_runs": _SQL_PDF_RUNS,
    "pdf_spans": _SQL_PDF_SPANS,
    "pdf_kerned": _SQL_PDF_KERNED,
    "pdf_tables": _SQL_PDF_TABLES,
    "pdf_ruled": _SQL_PDF_RULED,
    "pdf_artifacts": _SQL_PDF_ARTIFACTS,
}
