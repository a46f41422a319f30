"""Differential fuzz harness (committed so the campaign is
reproducible — usage: python tools/fuzz_extraction.py LO HI [plan]):
the random-unicode + keyword-splice campaign from BENCH/BASELINE.md §20,
run through the fused (and optionally exploded/salted) plans against the
pure-python oracle, comparing the FULL output: span sequence, issues,
tables, metadata struct, summary.

This campaign found the 4th tri-engine regex divergence (RE2's ``\\s``
missing ``\\x0b``/``\\x1c-\\x1f``); divergent strings get promoted into
tests/test_extraction_fuzz.py's committed NASTY corpus.

``python tools/fuzz_extraction.py meta LO HI`` runs the metadata campaign
instead, with no Spark: S1/T7 keyword lines with case-fold, space, digit
and mark characters spliced into and around them, through the fused
kernel (``extract_record_batch``: RE2 with the python-re reroute) against
``oracle._extract_metadata``.
"""

from __future__ import annotations

import random
import sys

sys.path.insert(0, __import__("os").path.dirname(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__))))

import pyarrow as pa  # noqa: E402

from pdf_extraction_spark import oracle  # noqa: E402
from pdf_extraction_spark.plans.extraction import assemble  # noqa: E402
from pdf_extraction_spark.plans.fused import (  # noqa: E402
    assemble_fused, extract_record_batch)
from pdf_extraction_spark.plans.salted import assemble_salted  # noqa: E402
from pdf_extraction_spark.session import get_spark  # noqa: E402

ASCII = "abcdefghij KLMNOP 0123456789 .,:;|$-()'\""
UNI_POOLS = [
    "\t\x0b\x0c\x1c\x1d\x1e\x1f    　​",
    "平仮名カタカナ漢字",
    "éëþ́̈",          # latin + combining marks
    "🙂🚰✓¨þ",
    "–—“”‘’",
]
KEYWORDS = [
    "I. STRUCTURAL SYSTEMS", "IV. ELECTRICAL", "A. Foundations",
    "B. Grading", "ix. roman", "Deficient", "not inspected",
    "Comments: leak observed", "safety hazard gas fire immediate",
    "Item | Estimated Cost | Notes", "Roof fix | $500 - $700 | notes",
    "$1,234.56", "99$", "2,450 sqft", "built in 1978",
    "Report Number: RPT-1", "Inspection Date: August 16, 2025",
    "no issues observed - functional", "within normal limits",
    "It is recommended that professionals review this report",
    "NP", "NI", "D", "I", "P",
]


def rand_text(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 10)):
        r = rng.random()
        if r < 0.45:
            parts.append(rng.choice(KEYWORDS))
        elif r < 0.75:
            parts.append("".join(rng.choice(ASCII)
                                 for _ in range(rng.randint(1, 12))))
        else:
            pool = rng.choice(UNI_POOLS)
            parts.append("".join(rng.choice(pool)
                                 for _ in range(rng.randint(1, 6))))
        parts.append(rng.choice([" ", " ", "", "\t", "\x0b", " "]))
    return "".join(parts)


def gen_docs(n_docs: int, seed: int):
    rng = random.Random(seed)
    docs = []
    for d in range(n_docs):
        spans = []
        for i in range(rng.randint(1, 40)):
            if rng.random() < 0.1:
                spans.append({"kind": "media", "text": "",
                              "media_ref": f"img_{d}_{i}.png",
                              "offset": i})
            else:
                spans.append({"kind": "text", "text": rand_text(rng),
                              "media_ref": "", "offset": i})
        rng.shuffle(spans)
        docs.append((f"r{seed}_{d:03d}", spans))
    return docs


def norm(doc: dict) -> tuple:
    return (
        [(s["kind"], s["text"], s["media_ref"], s["order"])
         for s in doc["spans"]],
        [(x["id"], x["section"], x["subsection"], x["status"],
          x["priority"], x["title"], x["description"],
          tuple(x["page_numbers"])) for x in doc["issues"]],
        [(t["page_num"], t["section"], t["table_type"],
          tuple(t["headers"]),
          tuple(tuple(r) for r in t["table_data"])) for t in doc["tables"]],
        tuple(sorted(doc["metadata"].items())),
        tuple(sorted(doc["summary"].items())),
    )


PLANS = {
    "exploded": assemble,
    "fused": assemble_fused,
    "salted": lambda df: assemble_salted(df, chunk_spans=16),
}


# Characters where python re and RE2 can disagree: case-fold specials
# (dotted/dotless I, long s, Kelvin sign), non-ASCII and ASCII-control
# spaces, non-ASCII decimal digits, letters, combining marks, NUL.
META_SPLICE = ["\u0130", "\u0131", "\u017f", "\u212a", "\xa0", "\u3000",
               "\x85", "\x0b", "\x1c", "\u0663", "\u06f7", "\uff13",
               "\u00e9", "\u00fe", "\u0301", "\u0345", "\x00"]
META_LINES = [
    "Report Number: RPT-{n}", "Inspection Date: August {n}, 2025",
    "Date: {n}/01/2024", "{n} Main St, Houston, TX 77002",
    "{n} Oak Ave, Austin, TX 78701", "12 Elm Rd, Reno, NV 89501",
    "Square Feet: 2,{n}", "{n}45 sq ft", "Living Area: 1,{n}",
    "Year Built: 19{n}", "built in 19{n}", "circa 18{n}", "{n} story",
    "Stories: {n}", "two story home", "Property Type: Single Family,",
    "Style: ranch;", "townhome", "Lot Size: 8,{n} sq ft",
    "lot: 0.{n} acres", "{n} bedrooms", "Bedrooms: {n}", "2.5 baths",
    "Bathrooms: {n}", "Location: {n} Kirby Dr, Houston", "Houston, Texas",
    "Repair Pricer",
]


def splice_line(rng: random.Random) -> str:
    """One metadata keyword line with splice characters inserted next to
    (or substituted for) its letters, digits and spaces."""
    line = rng.choice(META_LINES).format(n=rng.randint(0, 99))
    out = []
    for c in line:
        r = rng.random()
        if r < 0.06:
            out.append(rng.choice(META_SPLICE))
        elif r < 0.12 and (c.isalnum() or c == " "):
            out.append(rng.choice(META_SPLICE))
            continue
        out.append(c)
    return "".join(out)


def gen_meta_docs(n_docs: int, seed: int):
    """Docs whose first three pages carry spliced metadata lines."""
    rng = random.Random(seed)
    docs = []
    for d in range(n_docs):
        spans = []
        for off in sorted(rng.sample(range(3 * oracle.LINES_PER_PAGE),
                                     rng.randint(1, 24))):
            text = " ".join(splice_line(rng)
                            for _ in range(rng.randint(1, 3)))
            spans.append({"kind": "text", "text": text, "media_ref": "",
                          "offset": off})
        docs.append((f"m{seed}_{d:03d}", spans))
    return docs


_SPANS_T = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32())]))


def meta_divergences(docs) -> list[str]:
    """Doc ids whose fused-kernel metadata differs from the oracle's."""
    rb = pa.RecordBatch.from_arrays(
        [pa.array([d for d, _ in docs], pa.string()),
         pa.array([spans for _, spans in docs], _SPANS_T)],
        names=["doc_id", "spans"])
    got = extract_record_batch(rb).column("metadata").to_pylist()
    return [d for (d, spans), g in zip(docs, got)
            if g != oracle._extract_metadata(spans)]


def main_meta(lo: int, hi: int) -> None:
    bad = 0
    for seed in range(lo, hi):
        for doc_id in meta_divergences(gen_meta_docs(30, seed)):
            bad += 1
            print(f"seed {seed} doc {doc_id}: METADATA DIVERGENCE")
    print("DONE divergences:", bad)


def main() -> None:
    if sys.argv[1] == "meta":
        main_meta(int(sys.argv[2]), int(sys.argv[3]))
        return
    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    plans = ([sys.argv[3]] if len(sys.argv) > 3 and sys.argv[3] != "all"
             else list(PLANS))
    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for seed in range(lo, hi):
        docs = gen_docs(30, seed)
        sdf = spark.createDataFrame(
            [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in spans]) for d, spans in docs],
            "doc_id string, spans array<struct<kind string, text string,"
            " media_ref string, offset int>>").repartition(4)
        want = {d: norm(oracle.extract_doc(d, spans))
                for d, spans in docs}
        for plan in plans:
            got = {r["doc_id"]: norm(r.asDict(recursive=True))
                   for r in PLANS[plan](sdf).collect()}
            for doc_id, w in want.items():
                if got[doc_id] != w:
                    bad += 1
                    print(f"seed {seed} plan {plan} doc {doc_id}:"
                          " DIVERGENCE")
                    for i, part in enumerate(
                            ["spans", "issues", "tables", "meta",
                             "summary"]):
                        if got[doc_id][i] != w[i]:
                            print(" part", part)
                            print("  spark", str(got[doc_id][i])[:400])
                            print("  oracle", str(w[i])[:400])
        if seed % 10 == 0:
            print("seed", seed, "ok" if bad == 0 else f"bad={bad}")
    print("DONE divergences:", bad)


if __name__ == "__main__":
    main()
