"""IVF ANN recall, TF-IDF sanity, CLI (S5 parity), multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectordb_from_scratch_spark.cli import run as cli_run
from vectordb_from_scratch_spark.operators import ann, knn, multimodal, textops


def _recall(exact_rows, approx_rows) -> float:
    ex, ap = {}, {}
    for r in exact_rows:
        ex.setdefault(r.query_id, set()).add(r.id)
    for r in approx_rows:
        ap.setdefault(r.query_id, set()).add(r.id)
    return sum(len(ex[q] & ap.get(q, set())) for q in ex) / sum(len(v) for v in ex.values())


def test_ivf_recall_and_knob(embeddings):
    probes = embeddings.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    exact = knn.knn(embeddings, probes, k=10).collect()
    centers, assigned = ann.build_ivf(embeddings, n_lists=8)
    assert len(centers) == 8
    hi = ann.ann_knn_ivf(assigned, centers, probes, k=10, n_probe=6).collect()
    lo = ann.ann_knn_ivf(assigned, centers, probes, k=10, n_probe=1).collect()
    r_hi, r_lo = _recall(exact, hi), _recall(exact, lo)
    assert r_hi >= 0.85, f"IVF n_probe=6 recall {r_hi:.3f}"
    assert r_hi >= r_lo  # n_probe is the ef-style recall knob


def test_tfidf_top_terms(spark):
    rows = [
        (0, "apple apple apple banana", "en", "s", 10),
        (1, "banana cherry cherry", "en", "s", 10),
        (2, "apple banana cherry durian", "en", "s", 10),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    res = textops.tfidf_top_terms(docs, top=2).collect()
    by_doc = {}
    for r in res:
        by_doc.setdefault(r.doc_id, []).append(r)
    top0 = sorted(by_doc[0], key=lambda r: r.rank)[0]
    assert top0.term == "apple"          # tf=3 of a 2-doc term beats everything
    assert all(len(v) == 2 for v in by_doc.values())
    for rows_ in by_doc.values():
        s = sorted(rows_, key=lambda r: r.rank)
        assert s[0].tfidf >= s[1].tfidf


def test_cli_roundtrip(spark, tmp_path, capsys):
    d = str(tmp_path / "store")
    assert cli_run(["--data-dir", d, "insert", "a", "1.0,0.0", "--meta", "color=red"], spark) == 0
    assert cli_run(["--data-dir", d, "insert", "b", "0.0,1.0"], spark) == 0
    assert cli_run(["--data-dir", d, "count"], spark) == 0
    assert cli_run(["--data-dir", d, "search", "0.9,0.1", "--k", "1"], spark) == 0
    assert cli_run(["--data-dir", d, "delete", "b"], spark) == 0
    assert cli_run(["--data-dir", d, "list"], spark) == 0
    out = capsys.readouterr().out.splitlines()
    assert "inserted a" in out
    assert "2" in out                      # count
    assert any(line.startswith("a (") for line in out)  # search hit with distance
    assert out[-1] == "a"                  # list after delete


def test_cli_delete_missing_returns_error(spark, tmp_path, capsys):
    d = str(tmp_path / "store2")
    cli_run(["--data-dir", d, "insert", "a", "1.0,0.0"], spark)
    assert cli_run(["--data-dir", d, "delete", "zz"], spark) == 1
    assert "not found" in capsys.readouterr().err


def test_multimodal_decode_schema(documents):
    payloads = documents.limit(20).select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    meta = multimodal.decode_metadata(payloads)
    assert meta.schema.simpleString() == (
        "struct<doc_id:bigint,media:struct<width:int,height:int,channels:int,codec:string>,n_bytes:bigint>"
    )
    rows = meta.collect()
    assert len(rows) == 20
    for r in rows:
        assert 16 <= r.media.width <= 1024 and r.media.width % 16 == 0
        assert r.media.codec in {"jpeg", "png", "webp", "raw"}
        assert r.n_bytes > 0


def test_multimodal_frame_sampling_one_to_many(documents):
    payloads = documents.limit(5).select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    frames = multimodal.sample_frames(payloads, every_n_bytes=32, max_frames=3).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == 5
    for doc_frames in by_doc.values():
        assert 1 <= len(doc_frames) <= 3
        assert [f.frame_idx for f in sorted(doc_frames, key=lambda x: x.frame_idx)] == list(
            range(len(doc_frames))
        )
        assert all(len(f.frame_md5) == 32 for f in doc_frames)


def test_cli_fragments_verb(spark, tmp_path, capsys):
    """`fragments` drops the quoted excerpt and keeps the superset +
    unrelated docs, writing a parquet the next stage can read."""
    quote = "the five boxing wizards jump quickly tonight again"
    article = (
        "opening words of a longer article " + quote +
        " closing words with more unique commentary about engines"
    )
    src = str(tmp_path / "frag_src")
    dest = str(tmp_path / "frag_out")
    spark.createDataFrame(
        [(1, article), (2, quote), (3, "unrelated standalone body of text")],
        "doc_id long, text string",
    ).write.parquet(src)
    assert cli_run(["fragments", src, dest, "--threshold", "0.9"], spark) == 0
    out = capsys.readouterr().out
    assert "kept 2 of 3 rows (1 fragments dropped)" in out
    kept = {r.doc_id for r in spark.read.parquet(dest).collect()}
    assert kept == {1, 3}
