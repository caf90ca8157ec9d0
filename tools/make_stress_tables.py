"""Generate the 100k-row stress tables used by tools/stress_bench.py.

Replicates the sf0.1 embeddings/documents tables `copies`× with shifted
ids into /tmp/big_embeddings and /tmp/big_docs. Documents keep their
text verbatim, so the corpus is exact duplicate families — the
adversarial shape for dedup/clustering cells (every replica of a doc
lands in the same LSH buckets and the candidate graph is dense).

Usage: python tools/make_stress_tables.py [target_rows=100000]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BIG_EMB = "/tmp/big_embeddings"
BIG_DOCS = "/tmp/big_docs"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    target = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000

    from pyspark.sql import functions as F

    from vectordb_from_scratch_spark.session import build_session
    from vectordb_from_scratch_spark.sources import load_table

    spark = build_session("make_stress_tables")

    emb = load_table(spark, SF_DIR, "embeddings")
    docs = load_table(spark, SF_DIR, "documents")
    n_emb = emb.count()
    n_docs = docs.count()
    c_emb = max(1, target // n_emb)
    c_docs = max(1, target // n_docs)

    def rep(n):
        return spark.range(n).select(F.col("id").alias("__rep"))

    big_emb = emb.crossJoin(rep(c_emb)).select(
        (F.col("vec_id") + F.col("__rep") * n_emb).alias("vec_id"),
        *[c for c in emb.columns if c != "vec_id"],
    )
    big_docs = docs.crossJoin(rep(c_docs)).select(
        (F.col("doc_id") + F.col("__rep") * n_docs).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    )
    big_emb.repartition(32).write.mode("overwrite").parquet(BIG_EMB)
    big_docs.repartition(32).write.mode("overwrite").parquet(BIG_DOCS)
    print(
        f"wrote {n_emb * c_emb} embeddings -> {BIG_EMB}, "
        f"{n_docs * c_docs} docs -> {BIG_DOCS}"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
