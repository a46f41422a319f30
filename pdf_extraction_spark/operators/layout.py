"""Geometric layout reconstruction: positioned text runs -> lines ->
blocks, with font-size-histogram heading detection.

The reference gets this for free from pdfplumber
(`text_extractor.pyc:67-137` calls ``page.extract_text(layout=True)``
and ``extract_words(extra_attrs=['fontname','size'])``, whose public
semantics cluster words into lines by a y tolerance on the word's top
coordinate and join them left-to-right); the north star requires the
same reconstruction over a run table, for corpora that arrive as raw
positioned runs instead of pre-assembled span text.

Input: ``runs(doc_id, text, x0, y0, x1, y1[, size][, font][,
media_ref])`` — one row per word/text run, y increasing downward (PDF
user space, pdfplumber ``top``/``bottom``), ``size`` the font size
when the extractor provides it.

Algorithm — one pure-Python kernel per page (:func:`page_lines`,
:func:`page_units`); every step is a sort plus one linear scan
(single-linkage 1-D clustering = sort + gap threshold):

  1. lines: runs in the total order ``(y0, x0, text, x1, y1, size,
     font)``; a run starts a new line when its top is more than
     ``y_tol`` below the previous run's top (pdfplumber's
     ``y_tolerance``, default 3.0).
  2. line assembly: member runs sorted left-to-right and joined
     (single spaces, or the gap-aware ``space_frac`` rule); line bbox
     = enclosing box; optional ``col_gap`` cells for table detection.
  3. blocks: lines sorted by top; a line starts a new block when the
     whitespace gap from the RUNNING MAX of the previous lines'
     bottoms exceeds ``gap_tol`` (the whitespace-gap rule,
     interval-merge semantics).
  4. headings: per-doc modal font size (the font-size histogram's
     mode, ties broken toward the larger size); a line is heading-like
     when its maximum run size exceeds ``mode + size_slack``.
  5. reading order: text blocks, table lines and media runs ordered by
     ``(y0, x0, kind, text, media_ref)``.

Value semantics are Spark SQL's, so the kernel's output equals the
window/aggregate formulation the DuckDB oracles spell out
(``queries_layout.py``, ``tools/fuzz_layout.py``): ascending order puts
NULL first and NaN last, ``-0.0 == 0.0``, ``x > NaN`` is false and
``NaN > x`` true for every non-NaN ``x``, aggregates skip NULL, the
gap-aware join is a ``concat`` (one NULL text makes the line NULL)
while the single-space, cell and block joins skip NULL texts like
``array_join``.

Scale shape: the kernel runs inside ``mapInArrow``.  Raw PDF files
(``pdffile.files_to_spans``) need no exchange at all — a file's pages
arrive in one row, so parse, tokenize and layout fuse into one
map-only pass.  Run tables (:func:`spans_from_runs`,
:func:`reconstruct_blocks`) and content-stream corpora
(``pdfstream.pdf_to_spans``) pay ONE hash exchange on doc_id, then a
per-partition sort makes each document's rows contiguous and the
kernel streams one document at a time: task state is one document,
and clustering never crosses a page, so a paged corpus bounds the
sort work per page.
"""

from __future__ import annotations

import math
from functools import reduce
from itertools import groupby
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# ------------------------------------------------ Spark value semantics


def _dk(v: float | None) -> tuple:
    """Ascending sort key of a nullable double: NULL first, NaN
    greatest, -0.0 == 0.0."""
    if v is None:
        return (0, 0.0)
    if v != v:
        return (2, 0.0)
    return (1, v)


def _sk(v: str | None) -> tuple:
    """Ascending sort key of a nullable string (code-point order is
    UTF-8 byte order)."""
    return (0, "") if v is None else (1, v)


def _gt(a: float, b: float) -> bool:
    """``a > b`` on non-null doubles with NaN greatest (NaN = NaN)."""
    if a != a:
        return b == b
    return b == b and a > b


def _greater(a: float | None, b: float | None) -> float | None:
    """``greatest(a, b)``: NULL-skipping, NaN greatest, the first
    argument wins a tie — also the running-max step."""
    if a is None:
        return b
    if b is None or not _gt(b, a):
        return a
    return b


def _least(vals) -> float | None:
    """``min`` aggregate: NULL-skipping, NaN only when nothing else."""
    out = None
    for v in vals:
        if v is not None and (out is None or _gt(out, v)):
            out = v
    return out


def _most(vals) -> float | None:
    """``max`` aggregate: NULL-skipping, NaN greatest."""
    return reduce(_greater, vals, None)


def _floor_long(v: float | None) -> int | None:
    """``floor`` of a double as Spark's bigint: NaN -> 0, saturating."""
    if v is None:
        return None
    if v != v:
        return 0
    if v >= 9.223372036854775807e18:
        return 2 ** 63 - 1
    if v <= -9.223372036854775808e18:
        return -2 ** 63
    return math.floor(v)


def _dominant_font(pairs) -> str:
    """Name on the largest run, size ties broken by name: the max of
    ``(coalesce(size, 0), coalesce(font, ''))``."""
    return max((_dk(0.0 if s is None else s), "" if f is None else f)
               for s, f in pairs)[1]


# ---------------------------------------------------------- the kernel

# a text run: (text, x0, y0, x1, y1, size, font)
_T, _X0, _Y0, _X1, _Y1, _SZ, _FONT = range(7)


class _Line:
    """One clustered line of a page (``line_id`` in reading order)."""

    __slots__ = ("line_id", "text", "x0", "y0", "x1", "y1", "max_size",
                 "n_runs", "font", "cells", "is_table", "block_id")


def _run_key(r: tuple) -> tuple:
    return (_dk(r[_Y0]), _dk(r[_X0]), _sk(r[_T]), _dk(r[_X1]),
            _dk(r[_Y1]), _dk(r[_SZ]), _sk(r[_FONT]))


def _assemble(line_id: int, members: list[tuple],
              space_frac: float | None,
              col_gap: float | None) -> _Line:
    """Step 2 for one line.  With ``col_gap`` the line also splits into
    ``cells`` ([x0, text]) wherever the gap from the running max right
    edge exceeds ``col_gap``; runs within a cell join under the same
    word-gap rule as the line text, so the two never disagree."""
    ln = _Line()
    ln.line_id, ln.n_runs = line_id, len(members)
    ln.x0 = _least(r[_X0] for r in members)
    ln.y0 = _least(r[_Y0] for r in members)
    ln.x1 = _most(r[_X1] for r in members)
    ln.y1 = _most(r[_Y1] for r in members)
    ln.max_size = _most(r[_SZ] for r in members)
    ln.font = _dominant_font((r[_SZ], r[_FONT]) for r in members)
    ln.cells, ln.is_table, ln.block_id = None, False, None
    if space_frac is None:
        parts = sorted(members, key=lambda r: (_dk(r[_X0]), _sk(r[_T])))
        ln.text = " ".join(r[_T] for r in parts if r[_T] is not None)
        if col_gap is None:
            return ln
    # (x0, x1, coalesce(size, 0), text) order, folded left-to-right
    # carrying the running max right edge and the previous size; the
    # gap-aware separator is a space only when the gap from that edge
    # exceeds space_frac x the larger neighbour size
    parts = sorted(((r[_X0], r[_X1], 0.0 if r[_SZ] is None else r[_SZ],
                     r[_T]) for r in members),
                   key=lambda p: (_dk(p[0]), _dk(p[1]), _dk(p[2]),
                                  _sk(p[3])))
    x0, px, ps, text = parts[0]
    cells = [[x0, text]]
    for x0, x1, sz, t in parts[1:]:
        gap = None if x0 is None or px is None else x0 - px
        sep = " " if space_frac is None or (gap is not None and _gt(
            gap, float(space_frac) * _greater(ps, sz))) else ""
        if space_frac is not None:
            text = None if text is None or t is None else text + sep + t
        if col_gap is not None:
            if gap is not None and _gt(gap, col_gap):
                cells.append([x0, t])
            else:
                c = cells[-1]
                c[1] = None if c[1] is None or t is None \
                    else c[1] + sep + t
        px, ps = _greater(px, x1), sz
    if space_frac is not None:
        ln.text = text
    if col_gap is not None:
        ln.cells = cells
    return ln


def _lines(runs: list[tuple], y_tol: float, space_frac: float | None,
           col_gap: float | None = None) -> list[_Line]:
    """Steps 1-2: lines in ``line_id`` order."""
    groups: list[list[tuple]] = []
    prev = None
    for r in sorted(runs, key=_run_key):
        top = r[_Y0]
        if prev is None or (top is not None and _gt(top - prev, y_tol)):
            groups.append([r])
        else:
            groups[-1].append(r)
        prev = top
    return [_assemble(i, g, space_frac, col_gap)
            for i, g in enumerate(groups)]


def _assign_blocks(lines: list[_Line], gap_tol: float) -> list[_Line]:
    """Step 3: ``block_id`` per line; returns the lines in block order
    ``(y0, x0, line_id)``.  Running max, not the previous bottom: a
    tall line (dropped cap, inline image glyph) followed by short
    lines must not split a block that still overlaps it."""
    order = sorted(lines, key=lambda ln: (_dk(ln.y0), _dk(ln.x0),
                                          ln.line_id))
    bid, bottom = -1, None
    for ln in order:
        if bottom is None or (ln.y0 is not None
                              and _gt(ln.y0 - bottom, gap_tol)):
            bid += 1
        ln.block_id = bid
        bottom = _greater(bottom, ln.y1)
    return order


def _mark_tables(lines: list[_Line], col_tol: float) -> None:
    """Geometric table detection (the pdfplumber 'text' table-strategy
    idea): a maximal run of vertically adjacent lines (consecutive
    line_ids) with >= 2 cells whose cell starts agree — same column
    count, every cell x0 in the same ``floor(x0 / col_tol)`` bucket —
    is a table when it is at least 2 lines long.  Exact bucket
    equality is deterministic and oracle-expressible: a ragged scan
    whose columns drift across a bucket boundary splits into two
    tables rather than silently misaligning cells."""
    runs: list[list[_Line]] = []
    prev_sig = None
    for ln in lines:
        sig = [_floor_long(None if c[0] is None else c[0] / col_tol)
               for c in ln.cells]
        if len(sig) >= 2:
            if prev_sig is not None and sig == prev_sig:
                runs[-1].append(ln)
            else:
                runs.append([ln])
            prev_sig = sig
        else:
            prev_sig = None
    for run in runs:
        if len(run) >= 2:
            for ln in run:
                ln.is_table = True


def _modal_size(runs: list[tuple]) -> float | None:
    """Step 4's histogram mode (count desc, then the larger size);
    sizes group like Spark's normalized keys (-0.0 is 0.0, one NaN)."""
    counts: dict[tuple, int] = {}
    for r in runs:
        if r[_SZ] is not None:
            k = _dk(r[_SZ])
            counts[k] = counts.get(k, 0) + 1
    if not counts:
        return None
    k = max(counts, key=lambda k: (counts[k], k))
    return math.nan if k[0] == 2 else k[1] + 0.0


def _block_text(lines: list[tuple]) -> str:
    """A block's text: its lines' ``(y0, x0, text)`` in that order,
    joined with newlines, NULL texts skipped (``array_join``)."""
    return "\n".join(t for _, _, t in sorted(
        lines, key=lambda p: (_dk(p[0]), _dk(p[1]), _sk(p[2])))
        if t is not None)


def page_lines(runs: list[tuple], y_tol: float = 3.0,
               gap_tol: float = 10.0, size_slack: float = 0.5,
               with_headings: bool = True,
               space_frac: float | None = None) -> list[tuple]:
    """Line rows of one page, block-assigned, in block order:
    ``(block_id, line_id, text, x0, y0, x1, y1, max_size, n_runs,
    is_heading, font)``."""
    lines = _lines(runs, y_tol, space_frac)
    modal = _modal_size(runs) if with_headings else None
    out = []
    for ln in _assign_blocks(lines, gap_tol):
        head = (modal is not None and ln.max_size is not None
                and _gt(ln.max_size, modal + size_slack))
        out.append((ln.block_id, ln.line_id, ln.text, ln.x0, ln.y0,
                    ln.x1, ln.y1, ln.max_size, ln.n_runs, head, ln.font))
    return out


def page_units(runs: list[tuple], media: list[tuple],
               y_tol: float = 3.0, gap_tol: float = 10.0,
               space_frac: float | None = None,
               detect_tables: bool = False, col_gap: float = 18.0,
               col_tol: float = 6.0) -> list[tuple]:
    """Reading-order span units of one page: text runs -> one unit per
    block (lines joined with newlines), media runs ``(y0, x0,
    media_ref)`` passed through at their own position.  Returns
    ``(y0, x0, kind, text, media_ref, font, size)`` sorted by ``(y0,
    x0, kind, coalesce(text, ''), coalesce(media_ref, ''))``; ``font``
    is the block's dominant font, ``size`` its max run size.

    ``detect_tables=True`` emits every table line (see
    :func:`_mark_tables`) as its own unit whose text is the cells
    joined with ' | ' — the TABLE_ROW_MARKER shape classify_spans
    routes to the S5 table operators — and clusters the remaining
    lines into blocks as usual."""
    lines = _lines(runs, y_tol, space_frac,
                   col_gap if detect_tables else None)
    units = []
    if detect_tables:
        _mark_tables(lines, col_tol)
        units = [(ln.y0, ln.x0, "text",
                  " | ".join(c[1] for c in ln.cells if c[1] is not None),
                  None, ln.font, ln.max_size)
                 for ln in lines if ln.is_table]
        lines = [ln for ln in lines if not ln.is_table]
    for _, blk in groupby(_assign_blocks(lines, gap_tol),
                          key=lambda ln: ln.block_id):
        blk = list(blk)
        units.append((
            _least(ln.y0 for ln in blk), _least(ln.x0 for ln in blk),
            "text", _block_text([(ln.y0, ln.x0, ln.text) for ln in blk]),
            None, _dominant_font((ln.max_size, ln.font) for ln in blk),
            _most(ln.max_size for ln in blk)))
    units += [(y0, x0, "media", None, ref, None, None)
              for y0, x0, ref in media]
    units.sort(key=lambda u: (_dk(u[0]), _dk(u[1]), u[2], u[3] or "",
                              u[4] or ""))
    return units


# --------------------------------------------------- Spark entry points


def arrow_schema(schema: StructType | str) -> "pa.Schema":
    """The Arrow schema of a Spark schema (DDL strings parse through the
    active session)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return to_arrow_schema(schema)


def arrow_batch(rows: list[tuple], schema: "pa.Schema"
                ) -> "pa.RecordBatch":
    """Row tuples -> one Arrow batch of ``schema``: the output side of
    every ``mapInArrow`` kernel on the PDF path."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
        schema=schema)


_NO_DOC = object()


def by_doc(df: DataFrame, kernel: Callable[[object, list[tuple]], list],
           schema: StructType | str) -> DataFrame:
    """ONE hash exchange on ``doc_id`` (the first column of ``df``),
    a per-partition sort that makes each document's rows contiguous,
    then ``kernel(doc_id, rows) -> output rows`` once per document in
    one ``mapInArrow`` pass — the documents stream through the Python
    worker one at a time, whatever the Arrow batch boundaries.  The
    skew and memory unit is the whole document: its rows are held as
    Python tuples in one task, and all of its pages lay out there."""
    out_schema = arrow_schema(schema)

    def run(batches: Iterator["pa.RecordBatch"]
            ) -> Iterator["pa.RecordBatch"]:
        cur, rows = _NO_DOC, []
        for batch in batches:
            out: list[tuple] = []
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                if row[0] != cur:
                    if rows:
                        out += kernel(cur, rows)
                    cur, rows = row[0], []
                rows.append(row)
            yield arrow_batch(out, out_schema)
        if rows:
            yield arrow_batch(kernel(cur, rows), out_schema)

    return df.repartition("doc_id").sortWithinPartitions("doc_id") \
        .mapInArrow(run, schema=schema)


def _doc_type(runs: DataFrame) -> str:
    return runs.schema["doc_id"].dataType.simpleString()


def _run_cols(runs: DataFrame) -> list:
    """doc_id + the kernel's run tuple (text, x0, y0, x1, y1, size,
    font); absent optional columns read as NULL."""
    def opt(name: str, typ: str):
        return (F.col(name) if name in runs.columns
                else F.lit(None)).cast(typ).alias(name)
    return [F.col("doc_id"), F.col("text").cast("string").alias("text"),
            *[F.col(c).cast("double").alias(c)
              for c in ("x0", "y0", "x1", "y1")],
            opt("size", "double"), opt("font", "string")]


def reconstruct_blocks(runs: DataFrame, y_tol: float = 3.0,
                       gap_tol: float = 10.0,
                       size_slack: float = 0.5,
                       with_headings: bool = True,
                       space_frac: float | None = None) -> DataFrame:
    """Full layout parse: runs -> (doc_id, block_id, line_id, text, bbox,
    max_size, n_runs, is_heading[, font]).  One row per LINE,
    block-assigned, in reading order; heading-ness is per line (a
    block's first line may head a body block, as in real documents).
    ``font`` (the line's dominant font) is present when the runs carry
    a ``font`` column.

    ``is_heading`` is False everywhere when the corpus carries no
    ``size`` attribute (the same schema-tolerant fallback contract as
    C2/C3: fontless corpora get fontless semantics), and for a NULL
    doc_id (the per-doc mode joins on doc_id, which NULL never
    matches).  Plan: one hash exchange on doc_id."""
    has_font = "font" in runs.columns
    schema = (f"doc_id {_doc_type(runs)}, block_id bigint, "
              "line_id bigint, text string, x0 double, y0 double, "
              "x1 double, y1 double, max_size double, n_runs bigint, "
              "is_heading boolean" + (", font string" if has_font else ""))

    def kernel(doc_id, rows):
        return [(doc_id, *(ln if has_font else ln[:-1]))
                for ln in page_lines([r[1:] for r in rows], y_tol, gap_tol,
                                     size_slack,
                                     with_headings and doc_id is not None,
                                     space_frac)]

    return by_doc(runs.select(*_run_cols(runs)), kernel, schema)


def spans_from_runs(runs: DataFrame, y_tol: float = 3.0,
                    gap_tol: float = 10.0,
                    with_fonts: bool = False,
                    space_frac: float | None = None,
                    detect_tables: bool = False,
                    col_gap: float = 18.0,
                    col_tol: float = 6.0) -> DataFrame:
    """The bridge from a raw positioned-run corpus to the contract span
    rows the extraction plans consume: text runs are layout-parsed into
    blocks (one span of kind 'text' per block), rows with a non-null
    ``media_ref`` column pass through untouched as kind 'media' spans
    positioned by their own bbox — so images/figures stay interleaved in
    reading order exactly where the layout put them.

    Output: (doc_id, offset, kind, text, media_ref), offset = 0-based
    reading-order position per doc (order: top, then left, with a
    deterministic kind/content tie-break).  ``groupBy(doc_id) +
    sort_array(collect_list(...))`` turns this into the
    ``spans array<struct<kind,text,media_ref,offset>>`` input-hint shape.

    ``with_fonts=True`` adds per-span ``font`` (the block's dominant
    font name, when the runs carry one) and ``size`` (the block's max
    run size) — the optional C2 attributes ``plans/extraction.py
    explode_spans`` reads, so font-driven formatting priority runs
    end-to-end from positioned runs (reference detect_formatting,
    text_extractor.pyc:178-207).

    ``detect_tables=True`` runs geometric table detection first (see
    :func:`page_units`): each detected table LINE becomes its own span
    whose text is the cells joined with ' | ', while the remaining
    lines cluster into blocks as usual (a table whose vertical extent
    is under ``gap_tol`` can bridge the surrounding blocks; real
    tables are taller).  Opt-in: pipe-marked table rows change the
    span stream's shape, which text-span corpora already encode
    explicitly.  Plan: one hash exchange on doc_id."""
    has_font = "font" in runs.columns
    media = (F.col("media_ref") if "media_ref" in runs.columns
             else F.lit(None)).cast("string").alias("media_ref")
    schema = (f"doc_id {_doc_type(runs)}, offset int, kind string, "
              "text string, media_ref string"
              + (", font string, size double" if with_fonts else ""))

    def kernel(doc_id, rows):
        text = [r[1:8] for r in rows if r[8] is None]
        media = [(r[3], r[2], r[8]) for r in rows if r[8] is not None]
        units = page_units(text, media, y_tol, gap_tol, space_frac,
                           detect_tables, col_gap, col_tol)
        return [(doc_id, k, *u[2:5],
                 *(((u[5] if has_font else None), u[6])
                   if with_fonts else ()))
                for k, u in enumerate(units)]

    return by_doc(runs.select(*_run_cols(runs), media), kernel, schema)


def block_text(blocks: DataFrame) -> DataFrame:
    """Collapse line rows (:func:`reconstruct_blocks` output) to one
    row per (doc_id, block_id): lines joined with newlines in reading
    order — the block assembly :func:`page_units` runs —, block bbox,
    line count, and whether any line is a heading — the unit the
    span-classification pipeline consumes.  Plan: one hash exchange on
    doc_id."""
    bid_type = blocks.schema["block_id"].dataType.simpleString()
    schema = (f"doc_id {_doc_type(blocks)}, block_id {bid_type}, "
              "text string, x0 double, y0 double, x1 double, y1 double, "
              "n_lines bigint, has_heading boolean")

    def kernel(doc_id, rows):
        out = []
        rows.sort(key=lambda r: _dk(r[1]))
        for bid, blk in groupby(rows, key=lambda r: r[1]):
            blk = list(blk)
            heads = [r[7] for r in blk if r[7] is not None]
            out.append((doc_id, bid, _block_text([r[2:5] for r in blk]),
                        _least(r[3] for r in blk),
                        _least(r[2] for r in blk),
                        _most(r[5] for r in blk), _most(r[6] for r in blk),
                        len(blk), any(heads) if heads else None))
        return out

    return by_doc(blocks.select(
        "doc_id", "block_id", F.col("y0").cast("double"),
        F.col("x0").cast("double"), F.col("text").cast("string"),
        F.col("x1").cast("double"), F.col("y1").cast("double"),
        F.col("is_heading").cast("boolean")), kernel, schema)


def detect_ruled_tables(runs: DataFrame, *, snap_tol: float = 3.0,
                        join_tol: float = 3.0, row_gap: float = 50.0,
                        min_rows: int = 2,
                        min_cols: int = 2) -> DataFrame:
    """Ruled-line table detection — the pdfplumber DEFAULT table
    strategy ('lines': cells come from drawn rulings, not text
    alignment), which is what the reference's ``page.extract_tables()``
    (`src/table_extractor.py:9-56`) actually runs on bordered report
    tables.  ``spans_from_runs(detect_tables=True)`` is the companion
    'text' strategy for borderless tables.

    Input: ``tokenize_streams(..., with_rules=True)`` output — DEVICE
    space, y UP: text runs (kind='text', origin x/y, extent w/h) plus
    rulings (kind='rule', text 'h'|'v', min-corner x/y, extents w/h).

    Algorithm (all array/higher-order expressions over per-doc ruling
    arrays — rulings per page are tens, so the arrays are tiny even
    when the run table is petabytes):

      1. keep rulings that CROSS >= 2 perpendicular rulings (within
         ``join_tol``) — isolated underlines / box decorations drop;
      2. row boundaries: kept-horizontal y positions, sorted and
         merged within ``snap_tol`` (a border drawn twice snaps to
         one boundary);
      3. tables: maximal boundary groups where consecutive rows are
         <= ``row_gap`` apart — two stacked grids on one page split;
      4. column boundaries per table: kept-vertical x positions whose
         y-span overlaps the table, snapped like rows;
      5. every text run lands in the cell containing its CENTER;
         cell text joins member runs left-to-right with spaces, rows
         join cells with ' | ' (the TABLE_ROW_MARKER shape the
         S5/C6/T6 chain consumes), missing cells render as '' so
         column positions stay aligned, fully-empty rows emit too
         (pdfplumber emits them as all-empty lists).

    Known scope limits (documented, not silent): side-by-side grids
    whose rulings share y positions merge into one column space (the
    'text' strategy or page segmentation separates them), and a table
    inside a Form XObject is detected only because the machine emits
    its rulings at the invocation site — as pdfplumber does.

    Scale shape: ONE pass, ONE exchange, ZERO joins.  A single
    groupBy collects the doc's rulings AND words into arrays
    (map-side partial aggregation applies).  The group is ``doc_id``,
    plus ``page`` when the runs carry one
    (``tokenize_streams(page_col=)``), so each page of a multi-page
    corpus detects in its own coordinate space and per-group state is
    bounded by page size.  The whole grid recovery and cell assembly
    run as higher-order array expressions, and two posexplodes unpack
    (table, row) rows.  An earlier two-branch join formulation re-ran
    the upstream tokenize map once per branch (3 corpus decodes,
    measured) because each branch pruned different columns below its
    exchange and defeated
    ReusedExchange — the single linear tree makes one scan structural
    rather than optimizer-dependent.  Cell assembly visits the
    in-table word array once per cell (O(rows x cols x words) per
    table); real report grids are tens of cells over hundreds of
    words, and the F10 gates (1000 rows / 50 cols) bound the
    downstream consumer, so the quadratic corner needs a pathological
    hand-built page AND survives it linearly in corpus size.

    Returns (doc_id[, page], tbl_idx, row_idx, n_rows, n_cols,
    table_text): one row per table row, ``tbl_idx`` numbering tables
    top-down per group, ``row_idx`` 0-based from the top row.
    """
    J, S, G = float(join_tol), float(snap_tol), float(row_gap)
    # at least one row and one column: below that a "table" has a
    # single boundary per axis and sequence(0, n-2) would infer a
    # NEGATIVE step (Spark's sequence picks the step sign from the
    # bounds) and fabricate rows
    min_rows, min_cols = max(1, int(min_rows)), max(1, int(min_cols))

    is_rule = F.col("kind") == "rule"
    is_word = ((F.col("kind") == "text") & F.col("text").isNotNull()
               & (F.trim("text") != ""))
    keys = ["doc_id", "page"] if "page" in runs.columns else ["doc_id"]
    base = runs.select(
        *keys,
        F.when(is_rule & (F.col("text") == "h"),
               F.struct("x", "y", "w")).alias("hrec"),
        F.when(is_rule & (F.col("text") == "v"),
               F.struct("x", "y", "h")).alias("vrec"),
        F.when(is_word, F.struct(
            "x", "run_idx", "text",
            (F.col("x") + F.col("w") / 2).alias("cx"),
            (F.col("y") + F.col("h") / 2).alias("cy"))).alias("wrec"))
    # collect_list skips the NULLs the when()s leave on other kinds
    grid = base.groupBy(*keys).agg(
        F.collect_list("hrec").alias("hs"),
        F.collect_list("vrec").alias("vs"),
        F.collect_list("wrec").alias("ws"))

    cross_h = (f"filter(hs, r -> size(filter(vs, q -> "
               f"q.x >= r.x - {J} AND q.x <= r.x + r.w + {J} AND "
               f"r.y >= q.y - {J} AND r.y <= q.y + q.h + {J})) >= 2)")
    cross_v = (f"filter(vs, q -> size(filter(hs, r -> "
               f"q.x >= r.x - {J} AND q.x <= r.x + r.w + {J} AND "
               f"r.y >= q.y - {J} AND r.y <= q.y + q.h + {J})) >= 2)")
    # sorted positions merged within tol: single-linkage 1-D snap
    snap = ("aggregate(array_sort({pos}), cast(array() as "
            "array<double>), (acc, p) -> case when size(acc) > 0 "
            "and p - element_at(acc, -1) <= {tol} then acc "
            "else array_append(acc, p) end)")
    ys_expr = snap.format(pos="transform(hk, r -> r.y)", tol=S)
    groups = (f"aggregate({ys_expr}, cast(array() as "
              f"array<array<double>>), (acc, p) -> case "
              f"when size(acc) = 0 then array(array(p)) "
              f"when p - element_at(element_at(acc, -1), -1) > {G} "
              f"then array_append(acc, array(p)) "
              f"else array_append(slice(acc, 1, size(acc) - 1), "
              f"array_append(element_at(acc, -1), p)) end)")
    # per-group column boundaries; a candidate survives with at least
    # min_rows+1 row and min_cols+1 column boundaries.  groups are
    # y-ascending and disjoint, so reverse() numbers tables top-down.
    xs_of = snap.format(
        pos=(f"transform(filter(vk, q -> "
             f"q.y <= element_at(g, -1) + {J} AND "
             f"q.y + q.h >= element_at(g, 1) - {J}), q -> q.x)"),
        tol=S)
    tarr = (f"reverse(filter(transform({groups}, "
            f"g -> struct(g AS ys, {xs_of} AS xs)), "
            f"t -> size(t.ys) >= {int(min_rows) + 1} "
            f"AND size(t.xs) >= {int(min_cols) + 1}))")

    tables = grid.select(
        *keys,
        F.expr(cross_h).alias("hk"), F.expr(cross_v).alias("vk"),
        "ws") \
        .select(*keys, "ws",
                F.posexplode(F.expr(tarr)).alias("tbl_idx", "t")) \
        .select(*keys, F.col("tbl_idx").cast("int").alias("tbl_idx"),
                "t", "ws")

    # row r (0-based from the top) lies between the (size-r)th and
    # (size-r-1)th 1-based boundaries; a word belongs to the cell
    # containing its center, centers exactly on a boundary going to
    # the cell above/left (strict > on the lower bound).  Cells sort
    # member words by (x, run_idx) and join with spaces; rows join
    # cells with ' | '; a row with no words renders as empty cells.
    row_texts = ("transform(sequence(0, size(t.ys) - 2), r -> "
                 "array_join(transform(sequence(0, size(t.xs) - 2), "
                 "c -> array_join(transform(array_sort(filter(ws, "
                 "w -> w.cy > element_at(t.ys, "
                 "cast(size(t.ys) - r - 1 as int)) "
                 "AND w.cy <= element_at(t.ys, "
                 "cast(size(t.ys) - r as int)) "
                 "AND w.cx > element_at(t.xs, cast(c + 1 as int)) "
                 "AND w.cx <= element_at(t.xs, "
                 "cast(c + 2 as int)))), w -> w.text), ' ')), ' | '))")
    return tables.select(
        *keys, "tbl_idx",
        (F.size("t.ys") - 1).cast("int").alias("n_rows"),
        (F.size("t.xs") - 1).cast("int").alias("n_cols"),
        F.posexplode(F.expr(row_texts)).alias("row_idx", "table_text")) \
        .select(*keys, "tbl_idx",
                F.col("row_idx").cast("int").alias("row_idx"),
                "n_rows", "n_cols", "table_text")
