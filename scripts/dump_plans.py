"""Dump .explain("formatted") plans of the engine's key queries into
PLANS.md with notes on the physical properties that matter at scale
(pushdown, broadcast, codegen spans, shuffle counts)."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.01"

NOTES = {
    "encode_staged": """The encode path's one shuffle: `Exchange hashpartitioning(_ck, 8)`
feeding the Python/Arrow encode node (`MapInArrow`) directly — there is
NO JVM Sort node: the kernel sorts each partition with pyarrow (same
total order on the unique keys, ~1/20th the cost of Spark's row
sorter). Everything upstream of the exchange is whole-stage codegen;
the parquet scan reads all six columns because all are encoded (no
waste). The Project tags each row with its chunk (`_ck`) and its FSST
reuse group (`_g`, `table._reuse_group`); the bytes depend on the
groups only. The exchange has fewer tasks than groups for a small
input (`table._encode_tasks`), and every task runs whole groups —
each PySpark task pays a fixed ~0.27 s on top of its work (4-vCPU
host, PySpark 4.1).
At sf0.01 on local[8] both counts resolve to the chunk count (8),
while a 4M-chunk table schedules ~10⁵ right-sized tasks whose kernels
each slice multiple `_ck` groups (chunk identity = the `_ck` value, so
chunk bytes, resume and manifests stay partition-count-independent).""",
    "decode_read_table": """Decode is a parallelized local scan: the file list (one row per
manifest-selected chunk) is a local relation, which `LocalTableScan`
splits into min(chunks, cores) contiguous partitions, and each task
`MapInArrow`s its chunk files back to rows — one Python stage. There
is NO shuffle — chunk pruning and column projection happened before
the plan was built (manifest min/max + blob selection), which is why
nothing appears as PushedFilters here: the pushdown lives a level
above Spark's scan.""",
    "chunk_skip_source": """The residual exact filter after manifest pruning. Catalyst pushes
the comparison into the parquet scan of the decoded stream's source
when reading raw parquet (see PushedFilters on the lineitem scan in
the oracle-side equivalents); on the encoded table the coarse pruning
is manifest-level and the fine filter is this `Filter` node.""",
    "ann_cosine": """`ResolvedHint (strategy=broadcast)` → `BroadcastNestedLoopJoin` —
the 5 query vectors are broadcast to every executor, so the 500-row
(at 100 TB: billions-row) embedding side never shuffles. The cosine
arithmetic (`zip_with`/`aggregate`) stays in the JVM (no Python).""",
    "dedup_ngram": """Shingle inverted-index self-join with the stop-shingle cap CODED
into the plan: a document-frequency aggregate feeds a semi-join-shaped
filter (`df <= max_shingle_df`) BEFORE the pair self-join, so one
ubiquitous shingle can no longer fan out O(df²) pairs or hot-key the
shuffle. AQE coalesces the post-shuffle partitions at runtime.""",
    "rle_runs": """Two-level run counting — NO `Exchange SinglePartition` anywhere:
`Exchange rangepartitioning(l_orderkey, l_linenumber)` + per-partition
sort feeds a vectorized Arrow kernel emitting per-partition run
partials; the only window (`Window [lag(last_flag)]`) runs over the
O(partitions) boundary table, whose size is the partition count, not
the data.""",
    "profile_stats": """ONE scan: `Expand` + a single `HashAggregate` computes count,
11 null-counts and 11 exact distincts together (Catalyst's
multi-distinct expansion), then `Generate stack(...)` unpivots. The
old shape ran 11 separate jobs over the same table. The final
`Exchange SinglePartition` merges the 35 partial-aggregate buffers
into the one output row — the unavoidable (and O(partitions)-sized)
tail of any global aggregate, not a data shuffle.""",
    "simhash": """Entirely JVM-side: explode → xxhash64 → ONE partial-aggregated
`HashAggregate` with 64 sum(±1) bit votes (map-side combine before the
doc_id exchange), signature assembled from disjoint shiftleft bits in
the projection. No BatchEvalPython / ArrowEvalPython node anywhere —
the old per-document applyInPandas fold is gone.""",
    "dedup_embedding": """COST-BASED plan (r5): at this fixture's n=500 (≤ the 16384-vector
crossover) the dumped plan is the EXACT arm — one
`BroadcastNestedLoopJoin` over the id-ordered pair triangle with the
JVM-codegen cosine rerank; below the crossover brute force costs less
than the LSH machinery's own candidate volume (~4096·n reranks + 16
signature passes + two joins) and is recall-exact. Above the
crossover the registered plan is the LSH arm (pytest forces it via
exact_max=0): signatures from a vectorized `MapInPandas`, candidates
from a (tbl, bucket) equi-join (`Exchange hashpartitioning(tbl,
bucket)`), exact cosine rerank only on same-bucket pairs — shuffle
volume O(n·tables), not O(n²) — with the r4 hot-bucket star cap coded
into the plan (buckets wider than the cap contribute STAR pairs
through two reps instead of all-pairs).""",
    "dedup_embedding_lsh": """The LSH arm itself (exact_max=0 — the registered plan above the
16384-vector crossover), dumped so the at-scale plan stays auditable:
vectorized `MapInPandas` signatures, (tbl, bucket) equi-join
candidates, hot-bucket star cap (the union subtrees), exact cosine
rerank. The only shuffles are the (tbl, bucket) hash exchanges —
O(n·tables) rows.""",
}


def capture_explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from parquet_go_spark import pipeline as P
    from parquet_go_spark import queries as Q

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # the encode and decode plans are the Spark jobs': a write or read
    # this small would otherwise run on the driver
    # (manifest._driver_encode, manifest._driver_decode)
    from parquet_go_spark import manifest
    manifest.DRIVER_ENCODE_MAX_BYTES = 0
    manifest.DRIVER_DECODE_MAX_RAW_BYTES = 0

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    # the REAL staged plan (kernel-side sort, task/chunk decoupling)
    import tempfile

    from parquet_go_spark.table import _stage_encode
    staged, _ = _stage_encode(
        df, tempfile.mkdtemp(), ("l_orderkey", "l_linenumber"), 8,
        262_144, 65_536, False, None, "", (),
    )

    plans = [
        ("encode_staged", "Encode path: scan → hash-chunk exchange → encode UDF",
         staged),
        ("decode_read_table", "Decode path: manifest-pruned chunk list → MapInArrow",
         Q.q_decode_chunks(spark, SF)),
        ("chunk_skip_source", "Chunk-skip + residual filter",
         Q.q_chunk_skip_filter(spark, SF)),
        ("ann_cosine", "Broadcast similarity search",
         P.ann_cosine_topk(spark, SF)),
        ("dedup_ngram", "Shingle-join near-dup (stop-shingle capped)",
         P.dedup_ngram_jaccard(spark, SF)),
        ("rle_runs", "Run segmentation, two-level (no SinglePartition)",
         Q.q_rle_runs(spark, SF)),
        ("profile_stats", "Per-column profile, one scan",
         Q.q_profile_stats(spark, SF)),
        ("simhash", "SimHash, JVM-side bit votes",
         P.simhash(spark, SF)),
        ("dedup_embedding", "Embedding near-dup, LSH-blocked",
         P.dedup_embedding(spark, SF)),
        ("dedup_embedding_lsh", "Embedding near-dup, forced LSH arm",
         P.dedup_embedding_df(P._embeddings(spark, SF), exact_max=0)),
    ]

    out = ["# PLANS — physical plans of the key paths\n",
           "Generated by `python scripts/dump_plans.py` (sf0.01). "
           "Notes call out the property that matters at 1000-executor "
           "scale.\n"]
    for key, title, d in plans:
        out.append(f"\n## {title}\n")
        out.append(NOTES[key].strip() + "\n")
        out.append("\n```\n" + capture_explain(d).strip() + "\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
