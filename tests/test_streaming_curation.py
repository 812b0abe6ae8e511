"""Streaming curation monitors: running per-source stats and Gopher-gate
pass rates over a document stream must agree exactly with the batch
rollups over the same data, and keep updating as new batches land."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from bread_spark.streaming.curation import corpus_stats_stream, quality_monitor_stream

DOCS_SCHEMA = "doc_id long, source string, text string"


def _write(src, name, rows):
    with open(os.path.join(src, name), "w") as f:
        for doc_id, source, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "source": source, "text": text}) + "\n")


def _run_complete(spark, src, ckpt, table, fn):
    stream = spark.readStream.schema(DOCS_SCHEMA).json(src)
    q = (
        fn(stream)
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {r["source"]: r.asDict() for r in spark.sql(f"SELECT * FROM {table}").collect()}


def _varied(prefix: str, n: int = 60) -> str:
    """n distinct alphabetic words laced with stopwords — passes every
    Gopher rule (long enough, non-repetitive, alpha-only, stopworded)."""
    words = []
    for i in range(n):
        words.append("the" if i % 7 == 0 else f"{prefix}{chr(97 + i % 26)}word{i}x")
    return " ".join(words).replace("0", "o").replace("1", "l").replace(
        "2", "t"
    ).replace("3", "e").replace("4", "f").replace("5", "s").replace(
        "6", "x"
    ).replace("7", "v").replace("8", "g").replace("9", "n")


BATCH1 = [
    (1, "s1", _varied("qm")),
    (2, "s1", "zz qq ww"),  # short, no stopwords → fails the gate
    (3, "s2", _varied("sun")),
]
BATCH2 = [
    (4, "s2", "xx yy"),  # fails
    (5, "s3", _varied("new")),
]


def test_corpus_stats_stream_matches_batch(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck1")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    out = _run_complete(spark, src, ckpt, "css_t1", corpus_stats_stream)

    batch = {
        r["source"]: r.asDict()
        for r in corpus_stats_stream(
            spark.createDataFrame(BATCH1, DOCS_SCHEMA)
        ).collect()
    }
    assert out == batch

    # a second batch lands → the running stats absorb it (complete mode
    # over the same checkpoint reprocesses only the new file)
    _write(src, "b2.json", BATCH2)
    out2 = _run_complete(spark, src, ckpt, "css_t2", corpus_stats_stream)
    batch2 = {
        r["source"]: r.asDict()
        for r in corpus_stats_stream(
            spark.createDataFrame(BATCH1 + BATCH2, DOCS_SCHEMA)
        ).collect()
    }
    assert out2 == batch2
    assert out2["s1"]["n_docs"] == 2 and "s3" in out2


def test_quality_monitor_stream_matches_batch_gate(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck2")
    os.makedirs(src)
    _write(src, "b1.json", BATCH1)
    _write(src, "b2.json", BATCH2)
    out = _run_complete(spark, src, ckpt, "qms_t1", quality_monitor_stream)

    from bread_spark.functions.text import gopher_quality_gate_df

    batch_docs = spark.createDataFrame(BATCH1 + BATCH2, DOCS_SCHEMA)
    batch = {
        r["source"]: (r["n"], r["p"])
        for r in gopher_quality_gate_df(batch_docs, keep=("source",))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("passes"), 1).otherwise(0)).alias("p"),
        )
        .collect()
    }
    assert {s: (d["n_docs"], d["n_passing"]) for s, d in out.items()} == batch
    # the short gibberish docs fail, the long stopword-rich docs pass
    assert out["s1"]["n_passing"] == 1 and out["s1"]["n_docs"] == 2
    assert out["s3"]["pass_rate"] == 1.0


def test_ngram5_stream_agrees_with_batch_and_floors_oov(spark, tmp_path):
    """Stream docs drawn FROM the base corpus (every n-gram in-vocab)
    must score EXACTLY what the batch 5-gram scorer assigns them — the
    safe left-join ratios reduce to the batch arithmetic when every
    count exists. A doc made of tokens the base never saw hits the OOV
    floor: every position scores log10(LM_OOV_FLOOR) exactly."""
    import datetime

    from bread_spark.extensions.curation import (
        lm_counts,
        ngram_counts_df,
        ngram_logprob_scores_df,
    )
    from bread_spark.io import load_table
    from bread_spark.streaming.curation import (
        LM_OOV_FLOOR,
        ngram5_score_stream_against_base,
    )
    from tests.conftest import SF_DIR
    import math

    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    uni, big, tri, quad = (lm_counts(spark, SF_DIR, k) for k in range(1, 5))
    quint = ngram_counts_df(base, 5).localCheckpoint()

    sample = {r["doc_id"]: r["text"] for r in base.limit(8).collect()}
    ts = datetime.datetime(2024, 8, 1, 12, 0).isoformat()
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for doc_id, text in sample.items():
            f.write(json.dumps({"doc_id": doc_id, "ts": ts, "payload": text}) + "\n")
        f.write(
            json.dumps(
                {"doc_id": 999_999, "ts": ts, "payload": "zxqv1 zxqv2 zxqv3"}
            )
            + "\n"
        )

    sink = str(tmp_path / "sink")

    def _run():
        stream = spark.readStream.schema(
            "doc_id long, ts timestamp, payload string"
        ).json(src)
        q = (
            ngram5_score_stream_against_base(stream, uni, big, tri, quad, quint)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    # append mode holds rows until the watermark passes — push it
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write(
            json.dumps(
                {
                    "doc_id": 0,
                    "ts": datetime.datetime(2024, 8, 2, 12, 0).isoformat(),
                    "payload": "later",
                }
            )
            + "\n"
        )
    _run()

    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logp"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        r["doc_id"]: (r["n_tokens"], r["mean_logp"])
        for r in ngram_logprob_scores_df(base, 5, [uni, big, tri, quad])
        .filter(F.col("doc_id").isin(list(sample)))
        .collect()
    }
    for doc_id in sample:
        assert got[doc_id] == want[doc_id], doc_id
    # the all-OOV doc: 3 tokens, every position floored
    assert got[999_999] == (3, round(math.log10(LM_OOV_FLOOR), 6))


# ---------------------------------------------------------------------------
# streaming boilerplate gate (frozen-base twin of boilerplate_filtered_corpus)
# ---------------------------------------------------------------------------


def test_boilerplate_gate_stream_strips_base_furniture(spark, tmp_path):
    """A chunk that is boilerplate in the BASE corpus (≥2 distinct base
    docs) is stripped from every arriving document; fresh chunks pass;
    a document that is ALL boilerplate emits no row — matching the batch
    operator's semantics against the same frozen table."""
    import datetime

    from bread_spark.extensions.curation import CHUNK_TOKENS as W
    from bread_spark.streaming.curation import (
        base_boilerplate_table,
        boilerplate_gate_stream_against_base,
    )

    BASE_TS = datetime.datetime(2024, 3, 1)
    m = datetime.timedelta(minutes=1)
    h = datetime.timedelta(hours=1)
    tok = lambda pfx, k=W: " ".join(f"{pfx}{i}" for i in range(k))

    boiler_chunk = tok("nav")  # exactly one W-token chunk
    base = spark.createDataFrame(
        [
            (1, boiler_chunk + " " + tok("pageone")),
            (2, boiler_chunk + " " + tok("pagetwo")),
            (3, tok("onlyonce") + " " + tok("pagethree")),
        ],
        "doc_id long, text string",
    )
    boiler = base_boilerplate_table(base).localCheckpoint()
    assert boiler.count() == 1  # only the nav chunk repeats across docs

    src, ckpt, sink = (str(tmp_path / d) for d in ("src", "ckpt", "sink"))
    os.makedirs(src)

    fresh = tok("fresh")
    with open(os.path.join(src, "b1.json"), "w") as f:
        for event_id, ts, payload in [
            (10, BASE_TS, boiler_chunk + " " + fresh),  # stripped to fresh
            (11, BASE_TS + m, boiler_chunk),  # all boilerplate → no row
            (12, BASE_TS + 2 * m, tok("novel") + " " + tok("novelb")),  # untouched
        ]:
            f.write(
                json.dumps(
                    {"event_id": event_id, "ts": ts.isoformat(), "payload": payload}
                )
                + "\n"
            )

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, payload string"
        ).json(src)
        q = (
            boilerplate_gate_stream_against_base(stream, base_boiler=boiler)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # advance event time far past the lateness horizon so windows finalize
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write(
            json.dumps(
                {
                    "event_id": 99,
                    "ts": (BASE_TS + 3 * h).isoformat(),
                    "payload": tok("late"),
                }
            )
            + "\n"
        )
    run()

    rows = {r["event_id"]: r for r in spark.read.parquet(sink).collect()}
    assert 11 not in rows  # all-boilerplate doc dropped entirely
    assert rows[10]["n_chunks"] == 2 and rows[10]["n_kept"] == 1
    assert rows[10]["text"] == fresh
    assert rows[12]["n_chunks"] == 2 and rows[12]["n_kept"] == 2


# ---------------------------------------------------------------------------
# The incremental curated_corpus_v2 composition (VERDICT r8 #6)
# ---------------------------------------------------------------------------


def test_v2_member_gate_chain_composes(spark, tmp_path):
    """The incremental path of `curated_corpus_v2` composes: chain the
    member gates' STREAMING twins in production order — boilerplate
    gate → span gate + frozen-base 5-gram scorer (both reading the
    rebuilt text) → threshold verdict → split assignment — over an
    arriving batch, each stage a real availableNow streaming query
    whose output feeds the next stage's source. The surviving-doc set,
    rebuilt text, and split labels must equal the batch chain (the
    same member exprs evaluated as plain DataFrames) on the same input
    against the SAME staged base tables — so any member twin whose
    stream execution drifts from its batch form now fails the
    COMPOSITION, not just its own pin.

    v2's corpus-global stages (quantile bucket split, within-corpus
    first-occurrence dedup, packing) are batch-only by design and
    re-run on snapshots (the v2 docstring's division of labor); the
    frozen-base threshold stands in for the bucket gate exactly as the
    streaming scorer's docstring prescribes.

    Analytic facts hard-coded so a both-sides drift cannot slip by:
    101 has its base-boilerplate chunk stripped and survives on the
    rebuilt remainder; 102 is all boilerplate and emits no row at
    stage 1; 103 is recycled base content — span coverage 1.0, killed;
    104 is shorter than the span width (passes the span stage by
    absence, the documented semantics) and survives; 105 is all-OOV —
    floored at exactly log10(LM_OOV_FLOOR), killed by the threshold."""
    import datetime
    import math

    from bread_spark.extensions.curation import (
        CHUNK_TOKENS as W,
        _chunk_expr,
        ngram_counts_df,
    )
    from bread_spark.extensions.dedup import (
        SPAN_W,
        _span_windows,
        span_keep_expr,
    )
    from bread_spark.functions.text import _split_assignment
    from bread_spark.streaming.curation import (
        LM_OOV_FLOOR,
        base_boilerplate_table,
        boilerplate_gate_stream_against_base,
        ngram5_score_stream_against_base,
    )
    from bread_spark.streaming.dedup import (
        base_span_table,
        span_gate_stream_against_base,
    )

    tok = lambda pfx, k: " ".join(f"{pfx}{i}" for i in range(k))
    boiler_chunk = tok("nav", W)
    recycled = tok("recycled", W)
    permuted = " ".join(reversed(recycled.split()))  # in-vocab, span-fresh
    base = spark.createDataFrame(
        [
            (1, boiler_chunk + " " + tok("pageone", W)),
            (2, boiler_chunk + " " + tok("pagetwo", W)),
            (3, recycled),
        ],
        "doc_id long, text string",
    )
    # staged base tables — one freeze shared by stream AND batch sides
    boiler = base_boilerplate_table(base).localCheckpoint()
    spans = base_span_table(base).localCheckpoint()
    uni_f, big_f, tri_f, quad_f, quint_f = (
        ngram_counts_df(base, k).localCheckpoint() for k in range(1, 6)
    )

    deltas = [
        (101, boiler_chunk + " " + permuted),  # stripped, survives
        (102, boiler_chunk),  # all boilerplate -> no stage-1 row
        (103, recycled),  # recycled base content -> span-killed
        (104, "recycled0 recycled5 recycled9"),  # < SPAN_W, survives
        (105, tok("zxqoov", 20)),  # all OOV -> floored -> killed
    ]
    T = datetime.datetime(2024, 5, 1, 12, 0)
    H3 = datetime.timedelta(hours=3)
    CUT = round(math.log10(LM_OOV_FLOOR), 6)  # keep iff mean_logp > CUT

    def _stream_stage(tag, rows, fn, schema, late_payload):
        """Run one member twin as a REAL streaming query: json source,
        availableNow, parquet sink, rerun after a late sentinel row so
        the watermark finalizes the real windows (the idiom every
        individual twin test uses)."""
        src = str(tmp_path / f"{tag}_src")
        ckpt = str(tmp_path / f"{tag}_ckpt")
        sink = str(tmp_path / f"{tag}_sink")
        os.makedirs(src)

        def run():
            q = (
                fn(spark.readStream.schema(schema).json(src))
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        with open(os.path.join(src, "b1.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        run()
        with open(os.path.join(src, "b2.json"), "w") as f:
            f.write(
                json.dumps(
                    {
                        "doc_id": 900,
                        "ts": (T + H3).isoformat(),
                        "payload": late_payload,
                    }
                )
                + "\n"
            )
        run()
        return spark.read.parquet(sink).filter("doc_id < 900")

    # stage 1: boilerplate gate over the arriving batch
    s1 = _stream_stage(
        "bp",
        [
            {"doc_id": d, "ts": (T + datetime.timedelta(minutes=i)).isoformat(),
             "payload": text}
            for i, (d, text) in enumerate(deltas)
        ],
        lambda st: boilerplate_gate_stream_against_base(
            st, base_boiler=boiler, id_col="doc_id"
        ),
        "doc_id long, ts timestamp, payload string",
        tok("latefill", 3),
    ).select("doc_id", "text").localCheckpoint()

    # stages 2+3 both consume stage 1's STREAM OUTPUT (the rebuilt text)
    s1_rows = [
        {"doc_id": r["doc_id"], "ts": T.isoformat(), "payload": r["text"]}
        for r in s1.collect()
    ]
    # the two gates are independent consumers of s1 — run their
    # streaming queries CONCURRENTLY (separate sources/checkpoints/
    # sinks; structured-streaming queries coexist on one session)
    import concurrent.futures as cf

    with cf.ThreadPoolExecutor(max_workers=2) as ex:
        f2 = ex.submit(
            _stream_stage,
            "span",
            s1_rows,
            lambda st: span_gate_stream_against_base(
                st, base_spans=spans, id_col="doc_id"
            ),
            "doc_id long, ts timestamp, payload string",
            tok("latespan", SPAN_W),
        )
        f3 = ex.submit(
            _stream_stage,
            "lm",
            s1_rows,
            lambda st: ngram5_score_stream_against_base(
                st, uni_f, big_f, tri_f, quad_f, quint_f
            ),
            "doc_id long, ts timestamp, payload string",
            tok("latelm", 2),
        )
        s2 = f2.result().select("doc_id", "keep").localCheckpoint()
        s3 = f3.result().select("doc_id", "mean_logp").localCheckpoint()

    # verdict combination + split assignment (pure projections)
    streamed = (
        s1.join(s2, "doc_id", "left")
        .join(s3, "doc_id", "left")
        .filter(F.coalesce("keep", F.lit(True)) & (F.col("mean_logp") > CUT))
    )
    streamed_final = {
        r["doc_id"]: (r["split"], r["text"])
        for r in _split_assignment(streamed).select(
            "doc_id", "split", "text"
        ).collect()
    }

    # ---- the batch chain: same member exprs, same staged bases ----
    delta_df = spark.createDataFrame(deltas, "doc_id long, text string")
    chunked = (
        delta_df.select(
            "doc_id",
            F.posexplode(F.expr(_chunk_expr("text", W))).alias("idx", "chunk"),
        )
        .withColumn("chash", F.unhex(F.md5(F.col("chunk").cast("binary"))))
    )
    rebuilt = (
        chunked.join(F.broadcast(boiler), "chash", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(sort_array(collect_list(struct(idx, chunk))), "
                    "s -> s.chunk)"
                ),
                " ",
            ).alias("text")
        )
    )
    span_verdict = (
        _span_windows(rebuilt)
        .join(spans.withColumn("__hit", F.lit(1)), "span", "left")
        .groupBy("doc_id")
        .agg(
            span_keep_expr(
                F.sum(F.coalesce("__hit", F.lit(0))), F.count(F.lit(1))
            ).alias("keep")
        )
    )
    # frozen-base scorer evaluated as a plain batch DataFrame (watermark
    # and event-time window are inert on batch input — same arithmetic)
    batch_scores = ngram5_score_stream_against_base(
        rebuilt.withColumn("ts", F.lit(T).cast("timestamp")).select(
            "doc_id", "ts", F.col("text").alias("payload")
        ),
        uni_f, big_f, tri_f, quad_f, quint_f,
    ).select("doc_id", "mean_logp")
    batch_surv = (
        rebuilt.join(span_verdict, "doc_id", "left")
        .join(batch_scores, "doc_id", "left")
        .filter(F.coalesce("keep", F.lit(True)) & (F.col("mean_logp") > CUT))
    )
    batch_final = {
        r["doc_id"]: (r["split"], r["text"])
        for r in _split_assignment(batch_surv).select(
            "doc_id", "split", "text"
        ).collect()
    }

    assert streamed_final == batch_final
    # the analytic facts (guard against a both-sides drift)
    assert set(streamed_final) == {101, 104}
    assert streamed_final[101][1] == permuted  # boilerplate stripped
    s1_ids = {r["doc_id"] for r in s1.collect()}
    assert 102 not in s1_ids  # all-boilerplate doc emits no row
    assert {r["doc_id"]: r["keep"] for r in s2.collect()}[103] is False
    s3_scores = {r["doc_id"]: r["mean_logp"] for r in s3.collect()}
    assert s3_scores[105] == CUT  # every position floored exactly
    assert 104 not in {r["doc_id"] for r in s2.collect()}  # < SPAN_W
