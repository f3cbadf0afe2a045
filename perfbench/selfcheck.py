#!/usr/bin/env python3
"""Self-check of the benchmark's output checkers.

    python3 perfbench/selfcheck.py [--seed 424242]

Run from the root of a checkout. For each workload it sets up once with
the given seed (by default one never used while the benchmark was built),
runs one iteration and requires the check to pass. It then corrupts the
written output on disk, reads it back the way an iteration does, and
requires the check to fail:

* extract_search: one byte of one extracted text is changed, and
  (separately) one chunk is dropped from one selected text;
* curate_incremental: one exact re-crawl is resurrected into the curated
  sink.

Prints one line per case and exits 1 if any case misbehaves.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _rewrite(spark, path, transform, partition_by=None):
    """Replace the parquet dataset at `path` with transform(df)."""
    tmp = path + ".corrupt"
    writer = transform(spark.read.parquet(path)).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def _replace_text(url, text):
    from pyspark.sql import functions as F

    def transform(df):
        return df.withColumn("text", F.when(F.col("url") == url, F.lit(text))
                             .otherwise(F.col("text")))
    return transform


def corrupt_extracted_byte(spark, workload, out):
    url = next(u for u, (_, err) in workload.expected.items() if err is None)
    text = workload.expected[url][0]
    bad = ("X" if text[0] != "X" else "Y") + text[1:]
    _rewrite(spark, os.path.join(out, "extracted"), _replace_text(url, bad),
             partition_by="part_id")


def drop_selected_chunk(spark, workload, out):
    from sift_spark.core.pipeline import prepare_chunks

    for url, selected in workload.selected.items():
        _, chunks = prepare_chunks(workload.expected[url][0],
                                   workload.qparams)
        chunk = next((c.strip() for c in chunks
                      if c.strip() and c.strip() in selected), None)
        if chunk:
            _rewrite(spark, os.path.join(out, "select"),
                     _replace_text(url, selected.replace(chunk, "", 1)))
            return
    raise RuntimeError("no selected chunk to drop")


def resurrect_recrawl(spark, workload, out):
    from pyspark.sql import functions as F

    doc_id = min(workload.corpus.ids("recrawl"))
    curated = os.path.join(out, "curated")
    (spark.read.parquet(curated).limit(1)
     .withColumn("doc_id", F.lit(doc_id).cast("long"))
     .withColumn("text", F.lit(workload.corpus.text[doc_id]))
     .write.mode("append").parquet(curated))


CASES = {
    "extract_search": [("one byte of one extracted text changed",
                        corrupt_extracted_byte),
                       ("one selected chunk dropped", drop_selected_chunk)],
    "curate_incremental": [("one exact re-crawl resurrected",
                            resurrect_recrawl)],
}


def main(argv=None):
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--seed", type=int, default=424242)
    args = parser.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import harness

    work = os.path.join(ROOT, ".perfbench_work", f"selfcheck-{os.getpid()}")
    harness.prepare_env(ROOT, work)
    ok = True
    try:
        from perfbench.run import Steps
        from perfbench.workloads import WORKLOADS

        spark, _ = harness.start_session(work)
        for name, cases in CASES.items():
            workload = WORKLOADS[name](args.seed)
            workload.setup(spark, os.path.join(work, name, "setup"))
            workload.attach(spark)
            workload.prepare_oracle(spark)
            out = os.path.join(work, name, "out")
            bad = workload.check(workload.run(spark, out,
                                              Steps(spark, "selfcheck")))
            ok &= not bad
            print(f"{name} seed {args.seed}: clean output "
                  f"{'passes' if not bad else f'FAILS: {bad[:3]}'}")
            for i, (label, corrupt) in enumerate(cases):
                if i:  # start each case from a clean output
                    shutil.rmtree(out)
                    workload.run(spark, out, Steps(spark, "selfcheck"))
                corrupt(spark, workload, out)
                bad = workload.check(workload.read(spark, out))
                ok &= bool(bad)
                print(f"{name}: {label}: "
                      f"{'caught: ' + bad[0][1] if bad else 'NOT CAUGHT'}")
        spark.stop()
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print("selfcheck", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
