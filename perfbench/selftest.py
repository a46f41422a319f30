"""Self-test of the benchmark harness on tiny inputs.

    python3 perfbench/selftest.py

For every workload (``resume`` included): the untimed correctness pass
must accept the program's real output, must reject a deliberately
corrupted copy of it (a dropped document, an altered span text, a
duplicated document), and a pass whose output loses one document must
read as doc loss.  Exits 1 if any of that fails.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402

TINY_DOCS = 48


def _first(d: dict):
    return sorted(d)[0]


def _alter_text(row: tuple) -> tuple:
    doc_id, off, kind, text, ref = row
    return (doc_id, off, kind, (text or "") + "~", ref)


def corruptions(name: str, got: dict) -> dict[str, dict]:
    """Corrupted copies of one workload's gathered check output."""
    out = {}
    if name == "reports":
        doc = _first(got["extracted"])
        dropped = copy.deepcopy(got)
        del dropped["extracted"][doc]
        out["dropped doc"] = dropped
        altered = copy.deepcopy(got)
        spans = altered["extracted"][doc]["spans"]
        i = next(k for k, s in enumerate(spans) if s["text"])
        spans[i]["text"] += "~"
        out["altered span text"] = altered
        issues = copy.deepcopy(got)
        enr = next(e for e in issues["enriched"].values() if e["issues"])
        enr["issues"][0]["standard_category"] = "~"
        out["altered enriched issue"] = issues
    elif name in ("pdf_files", "crawl_mixed"):
        doc = got["rows"][0][0]
        out["dropped doc"] = {**got, "rows": [r for r in got["rows"]
                                              if r[0] != doc]}
        text_row = next(i for i, r in enumerate(got["rows"]) if r[3])
        rows = list(got["rows"])
        rows[text_row] = _alter_text(rows[text_row])
        out["altered span text"] = {**got, "rows": rows}
        if name == "crawl_mixed":
            out["uncollapsed revisit"] = {
                **got, "doc_ids": got["doc_ids"] + got["doc_ids"][:1]}
    else:
        ids = got["out_ids"]
        out["dropped doc"] = {**got, "out_ids": ids[1:]}
        out["duplicated doc"] = {**got, "out_ids": ids + ids[:1]}
        out["no metrics rows"] = {**got, "run_metric_rows": 0}
    return out


def lossy(wl) -> None:
    """Make every later pass of ``wl`` lose exactly one document."""
    from pyspark.sql import functions as F
    if wl.name == "resume":
        from pdf_extraction_spark.sources.catalog import ParquetStore
        held = ParquetStore(wl.pristine).read(wl.spark, "processed")
        new = wl.inputs.join(held, "doc_id", "left_anti").first()["doc_id"]
        wl.inputs = wl.inputs.where(F.col("doc_id") != new)
        return
    pipeline = wl.pipeline
    wl.pipeline = lambda df: pipeline(df).limit(wl.expected_out - 1)


def selftest(spark, work: str, nproc: int) -> list[str]:
    from workloads import WORKLOADS
    failures = []
    for name, cls in WORKLOADS.items():
        wl = cls(spark, seed=7, work=work, nproc=nproc,
                 scale=TINY_DOCS / cls.n_docs)
        wl.setup()
        got = wl.collect()
        problems = wl.verify(got)
        if problems or got["docs_out"] != wl.expected_out:
            failures.append(f"{name}: real output rejected: {problems} "
                            f"({got['docs_out']} of {wl.expected_out})")
        for label, bad in corruptions(name, got).items():
            if not wl.verify(bad):
                failures.append(f"{name}: {label} was accepted")
            else:
                print(f"ok  {name}: {label} rejected")
        lossy(wl)
        _, outs, _ = run.timed_passes(wl, 0)
        lost = run.lost_docs(wl, outs)
        ratio = lost / (wl.offered * len(outs))
        if lost != len(outs):
            failures.append(f"{name}: a pass losing one doc read as "
                            f"{lost} lost over {len(outs)} passes")
        else:
            print(f"ok  {name}: lossy passes read doc_loss_ratio "
                  f"{ratio:.4f}")
        wl.release()
    return failures


def main() -> int:
    tmp_root = os.path.join(run.ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=tmp_root)
    run.hermetic_env(work)
    from pdf_extraction_spark.session import get_spark
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench-selftest", cores=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        failures = selftest(spark, work, nproc)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    for f in failures:
        print(f"FAIL {f}")
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
