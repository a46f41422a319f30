"""Differential fuzz harness (committed so the campaign is
reproducible — usage: python tools/fuzz_layout.py LO HI):
operators/layout.py (the per-page Python kernel) vs a DuckDB SQL twin
of the same clustering written as window functions, on random run
corpora that hit the tolerance boundaries (y diffs of exactly 3.0,
gaps of exactly 10.0, duplicate (y,x,text) rows, single-run docs,
media interleaves).

Odd seeds are HOSTILE: the value classes where a Python kernel and
Spark SQL could part ways — NULL text, size and font; NaN, ±inf and
-0.0 next to 0.0 as coordinates; fully tied runs; non-ASCII text
(code-point vs UTF-8 byte order); coincident media boxes.  The SQL
twin spells out Spark's semantics where DuckDB's defaults differ:
``NULLS FIRST`` orderings, and ``coalesce(string_agg(..), '')``
because Spark's ``array_join`` renders an all-NULL line as ''.  Those
two classes are also pinned against recorded Spark output in
tests/test_layout.py.

Values travel as Arrow (not pandas) so NULL and NaN stay distinct on
both engines; rows compare with NaN = NaN and -0.0 = 0.0."""
import math
import random
import sys

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))

WORDS = ["roof", "leak", "a", "b", "x", "attic", "vent", "crack"]
SIZES = [8.0, 10.0, 10.0, 10.0, 12.0, 14.0]
NAN, INF = float("nan"), float("inf")
# hostile pools
H_WORDS = WORDS + ["é", "日本", "😀", "ß", "￿", "", None]
H_SIZES = SIZES + [None, NAN, -0.0, 0.0, INF]
H_COORDS = [None, NAN, INF, -INF, -0.0, 0.0]
FONTS = ["F1", "F2", "Helvetica-Bold", ""]

SCHEMA = ("doc_id long, text string, x0 double, y0 double, x1 double, "
          "y1 double, size double, font string, media_ref string")
COLS = ["doc_id", "text", "x0", "y0", "x1", "y1", "size", "font",
        "media_ref"]

ORDER = "y0 NULLS FIRST, x0 NULLS FIRST, text NULLS FIRST, " \
    "x1 NULLS FIRST, y1 NULLS FIRST, size NULLS FIRST, font NULLS FIRST"

SQL_CTE = f"""
tr AS (SELECT * FROM runs WHERE media_ref IS NULL),
-- the total order materialized ONCE: fully tied duplicates get some
-- rank, and both windows below read the same one (two window sorts
-- may order ties differently and split a duplicate pair)
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY {ORDER})
         AS rk
  FROM tr),
lc AS (
  SELECT *, CASE WHEN lag(y0) OVER w IS NULL
                   OR y0 - lag(y0) OVER w > 3.0
            THEN 1 ELSE 0 END AS nl
  FROM rk WINDOW w AS (PARTITION BY doc_id ORDER BY rk)),
lid AS (
  SELECT *, SUM(nl) OVER (PARTITION BY doc_id ORDER BY rk
                          ROWS UNBOUNDED PRECEDING) - 1 AS line_id
  FROM lc),
lines AS (
  SELECT doc_id, line_id,
    coalesce(string_agg(text, ' ' ORDER BY x0 NULLS FIRST,
                        text NULLS FIRST), '') AS text,
    min(x0) AS x0, min(y0) AS y0, max(x1) AS x1, max(y1) AS y1,
    max(size) AS max_size, count(*) AS n_runs,
    max({{'s': coalesce(size, 0.0), 'f': coalesce(font, '')}}).f AS font
  FROM lid GROUP BY doc_id, line_id),
bc AS (
  -- running max of previous bottoms (interval-merge), not lag(y1)
  SELECT *, CASE WHEN max(y1) OVER w2 IS NULL
                   OR y0 - max(y1) OVER w2 > 10.0
            THEN 1 ELSE 0 END AS nb
  FROM lines
  WINDOW w2 AS (PARTITION BY doc_id
                ORDER BY y0 NULLS FIRST, x0 NULLS FIRST, line_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
bid AS (
  SELECT *, SUM(nb) OVER (PARTITION BY doc_id
                          ORDER BY y0 NULLS FIRST, x0 NULLS FIRST,
                                   line_id
                          ROWS UNBOUNDED PRECEDING) - 1 AS block_id
  FROM bc),
mode AS (
  SELECT doc_id, size AS modal_size
  FROM tr WHERE size IS NOT NULL GROUP BY doc_id, size
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY count(*) DESC, size DESC) = 1),
blocks AS (
  SELECT b.doc_id, CAST(b.block_id AS BIGINT) AS block_id,
    CAST(b.line_id AS BIGINT) AS line_id, b.text,
    b.x0, b.y0, b.x1, b.y1, b.max_size,
    CAST(b.n_runs AS BIGINT) AS n_runs,
    coalesce(b.max_size > m.modal_size + 0.5, FALSE) AS is_heading,
    b.font
  FROM bid b LEFT JOIN mode m ON b.doc_id = m.doc_id)
"""

SQL_BLOCKS = f"WITH {SQL_CTE} SELECT * FROM blocks"
SQL_SPANS = f"""
WITH {SQL_CTE},
bt AS (
  SELECT doc_id,
    coalesce(string_agg(text, chr(10) ORDER BY y0 NULLS FIRST,
                        x0 NULLS FIRST, text NULLS FIRST), '') AS text,
    min(x0) AS x0, min(y0) AS y0
  FROM blocks GROUP BY doc_id, block_id),
units AS (
  SELECT doc_id, y0, x0, 'text' AS kind, text,
    CAST(NULL AS VARCHAR) AS media_ref FROM bt
  UNION ALL
  SELECT doc_id, y0, x0, 'media', CAST(NULL AS VARCHAR), media_ref
  FROM runs WHERE media_ref IS NOT NULL)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       ORDER BY y0 NULLS FIRST, x0 NULLS FIRST, kind,
                coalesce(text, ''), coalesce(media_ref, '')) - 1
       AS INT) AS "offset",
  kind, text, media_ref
FROM units
"""


def _coord(rng, hostile: bool, base: float) -> float | None:
    if hostile and rng.random() < 0.08:
        return rng.choice(H_COORDS)
    return base


def gen_runs(rng, n_docs=8, hostile=False, doc_base=0):
    rows = []
    for d in range(n_docs):
        y = 0.0
        prev = None
        for _ in range(rng.randint(1, 40)):
            if hostile and prev is not None and rng.random() < 0.1:
                rows.append(prev)       # a fully tied duplicate
                continue
            # y step: exact-boundary values included
            y += rng.choice([0.0, 0.5, 1.0, 3.0, 3.5, 8.0, 10.0,
                             12.0, 18.0, 30.0])
            x = rng.choice([0.0, 10.0, 50.0, 50.0, 100.0, 7.5])
            media = rng.random() < 0.1
            y0 = _coord(rng, hostile, y)
            x0 = _coord(rng, hostile, x)
            x1 = _coord(rng, hostile, x + rng.choice([5.0, 40.0]))
            y1 = _coord(rng, hostile, y + rng.choice([8.0, 10.0]))
            if media:
                # coincident boxes: refs reuse a small pool
                ref = (f"img:{rng.randint(0, 2)}" if hostile
                       else f"img:{len(rows)}")
                prev = (doc_base + d, None, x0, y0, x1, y1, None, None,
                        ref)
            else:
                prev = (doc_base + d,
                        rng.choice(H_WORDS if hostile else WORDS),
                        x0, y0, x1, y1,
                        rng.choice(H_SIZES if hostile else SIZES),
                        rng.choice(FONTS + ([None] if hostile else [])),
                        None)
            rows.append(prev)
    return rows


def arrow_runs(rows):
    import pyarrow as pa
    types = [pa.int64(), pa.string()] + [pa.float64()] * 5 \
        + [pa.string(), pa.string()]
    return pa.table({c: pa.array([r[i] for r in rows], type=t)
                     for i, (c, t) in enumerate(zip(COLS, types))})


def _canon(v):
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v + 0.0)
    return v


def canon(rows, cols):
    return sorted((tuple(_canon(r[c]) for c in cols) for r in rows),
                  key=repr)


def diverging(spark, rows) -> list[str]:
    """Names of the outputs (blocks, spans) where the kernel and the
    SQL twin disagree on ``rows``."""
    import duckdb

    from pdf_extraction_spark.operators.layout import (reconstruct_blocks,
                                                       spans_from_runs)

    sdf = spark.createDataFrame(rows, SCHEMA)
    con = duckdb.connect()
    con.register("runs", arrow_runs(rows))
    bad = []
    for name, sq, oq in [
        ("blocks", reconstruct_blocks(sdf.where("media_ref IS NULL")
                                      .drop("media_ref")), SQL_BLOCKS),
        ("spans", spans_from_runs(sdf), SQL_SPANS),
    ]:
        cur = con.sql(oq)
        cols = cur.columns
        want = canon([dict(zip(cols, t)) for t in cur.fetchall()], cols)
        got = canon([r.asDict() for r in sq.collect()], cols)
        if got != want:
            bad.append(name)
            g, w = set(got), set(want)
            print(f"  {name}: spark-only {sorted(g - w, key=repr)[:3]}")
            print(f"  {name}: oracle-only {sorted(w - g, key=repr)[:3]}")
    con.close()
    return bad


def main():
    from pdf_extraction_spark.session import get_spark

    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    spark = get_spark(cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for seed in range(lo, hi):
        rows = gen_runs(random.Random(1000 + seed), hostile=seed % 2 == 1)
        for name in diverging(spark, rows):
            bad += 1
            print(f"seed {seed} {name}: DIVERGENCE")
        if seed % 10 == 0:
            print("seed", seed, "ok" if bad == 0 else f"bad={bad}")
    print("DONE divergences:", bad)


if __name__ == "__main__":
    main()
