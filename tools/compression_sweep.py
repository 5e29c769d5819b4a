"""Parquet codec sweep for the quads sink: size + write/scan cost.

At 100 TB the quads table's codec choice is a first-order storage/IO
decision. This sweep writes the same sf-scale quads table under each
codec (with the sink's production layout, plans.lineage.store_layout:
one file per url bucket, sorted by (pred, subj) so dictionary/RLE
collapse the boilerplate-heavy pred column) and measures bytes, write
wall, and full-scan wall. Prints one JSON line; BENCH.md records the
findings.

Usage: python tools/compression_sweep.py [sf_dir] [amplify]
(amplify defaults to 50 so the table is big enough that codec cost,
not JVM warmth, dominates the timings; a warm-up write runs first.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, files in os.walk(path) for f in files)


def main() -> None:
    from pyspark.sql import functions as F

    from jsonld_streaming_parser_js_spark.operators.parse import (
        pages_to_quads)
    from jsonld_streaming_parser_js_spark.sources.pages import (
        CONTEXTS, pages_from_documents)
    from jsonld_streaming_parser_js_spark.sources.session import get_spark

    from jsonld_streaming_parser_js_spark.plans.lineage import (
        store_layout, with_bucket)

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    spark = get_spark(app="codec-sweep", cores=16)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # the sink's own layout helper: how rows split into files changes
    # dictionary/RLE run lengths, so any other layout would misstate the
    # ratios the sink actually achieves
    quads = store_layout(with_bucket(
        pages_to_quads(pages_from_documents(spark, sf, amplify=amplify),
                       CONTEXTS), buckets)).persist()
    n = quads.count()

    results = {}
    work = tempfile.mkdtemp(prefix="codec_sweep_")
    try:
        # warm-up write+scan: JIT/committer warmth must not be billed to
        # the first codec in the list
        (quads.write.mode("overwrite").partitionBy("bucket")
         .parquet(os.path.join(work, "warm")))
        spark.read.parquet(os.path.join(work, "warm")).count()
        for codec, level in [("snappy", None), ("zstd", 3), ("zstd", 9),
                             ("gzip", None), ("uncompressed", None)]:
            tag = codec if level is None else f"{codec}-{level}"
            out = os.path.join(work, tag)
            if level is not None:
                # parquet-mr reads the zstd level from the Hadoop conf
                # (spark.io.compression.* is the SHUFFLE codec and is a
                # static conf besides)
                (spark.sparkContext._jsc.hadoopConfiguration()
                 .set("parquet.compression.codec.zstd.level", str(level)))
            t0 = time.time()
            (quads.write.mode("overwrite").partitionBy("bucket")
             .option("compression", codec).parquet(out))
            t_write = time.time() - t0
            t0 = time.time()
            scanned = spark.read.parquet(out).agg(
                F.count("*")).first()[0]
            t_scan = time.time() - t0
            assert scanned == n
            results[tag] = {"bytes": dir_bytes(out),
                            "write_sec": round(t_write, 2),
                            "scan_sec": round(t_scan, 2)}
        base = results["uncompressed"]["bytes"]
        for tag, r in results.items():
            r["ratio_vs_uncompressed"] = round(base / r["bytes"], 2)
        print(json.dumps({"n_quads": n, "sf": sf, "codecs": results}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        quads.unpersist()


if __name__ == "__main__":
    main()
