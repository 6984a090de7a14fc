"""Streaming curation — the batch curate_corpus decision surface applied to
a continuous ingest stream (round-4 task #8).

Three pieces, each matching the batch result byte-identically (tested in
tests/test_full_stream.py):

1. **Stateless gate + classifier stage** — the Gopher gates, repetition
   ratio, and the hashed linear classifier are all expressible as PER-ROW
   pure Column expressions (``classifier.quality_score_expr``), so they
   apply unchanged to a ``readStream`` projection: append mode, no
   watermark, no state. This is the shape that scales to any ingest rate —
   zero shuffles in the streaming plan.
2. **Model-based stages via epoch-idempotent foreachBatch** — the unigram
   LM score joins a PRE-TRAINED static model table
   (``classifier.lm_fit`` offline → ``unigram_lm_score_static``), the
   production CCNet shape (the LM trains on a reference corpus, not the
   stream). Stream-static broadcast join + doc-keyed aggregation run on
   each micro-batch inside ``foreachBatch`` with the engine's
   epoch-idempotent write pattern (an epoch that retries overwrites its own
   output, never duplicates it — same contract as
   extract_stream.start_full_extract_stream).
3. **Near-dup within watermark** — each arriving doc carries its bottom-s
   shingle sketch as a per-row expression (``dedup.row_sketch``); documents
   whose sketch matches an earlier arrival inside the watermark are dropped
   by ``dropDuplicatesWithinWatermark`` keyed on the SKETCH (what batch
   verification certifies — never the raw MinHash signature, the
   small-vocab collision trap in CLAUDE.md). State is bounded by the
   watermark horizon — crawl-scale safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gnosis_ocr_spark.functions.classifier import (
    quality_score_expr,
    unigram_lm_score_static,
)
from gnosis_ocr_spark.functions.dedup import SHINGLE_WORDS, row_sketch
from gnosis_ocr_spark.functions.text import (
    gopher_flags,
    repetition_bp,
    token_count,
    tokens,
)

CURATE_STREAM_SCHEMA = "doc_id long, text string, warc_ts timestamp"


def stateless_curation_columns(df: DataFrame) -> DataFrame:
    """Gates + repetition + classifier as one per-row projection — valid on
    a stream or a batch frame alike (that equivalence IS the test)."""
    ltoks = F.filter(tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 0)
    return df.withColumn("_ltoks", ltoks).select(
        "doc_id",
        # filtered-token count — token_count() counts empty boundary
        # tokens on newline-framed text; the batch plan (plans/curate.py)
        # and its oracle count the filtered set, and the stream must agree
        F.size(F.col("_ltoks")).cast("int").alias("n_tokens"),
        repetition_bp(F.col("text"), toks=F.col("_ltoks")).alias("rep2_bp"),
        *gopher_flags(F.col("text"), toks=F.col("_ltoks")),
        *quality_score_expr(F.col("_ltoks")),
    )


def start_curation_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    lm_table: DataFrame,
    oov_mb: int,
    keep_mean_mb: int = -9000,
    lang_model: DataFrame | None = None,
):
    """readStream(parquet docs) → per-row gates/classifier + static-LM score
    → epoch-idempotent parquet. Returns the started query (availableNow).

    ``lang_model`` (classifier.lang_id_fit table) optionally adds a
    ``lang`` column via the trained backend — the same stream-static
    broadcast-join + doc-keyed-agg shape as the LM stage, so it is
    micro-batch-safe by construction (asserted stream == batch in
    tests/test_full_stream.py)."""
    stream = spark.readStream.schema(CURATE_STREAM_SCHEMA).parquet(in_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        gated = stateless_curation_columns(batch_df).withColumnRenamed(
            "keep", "keep_model"
        )
        lm = unigram_lm_score_static(
            batch_df, lm_table, oov_mb, keep_mean_mb=keep_mean_mb
        ).select("doc_id", "sum_logp_mb", "keep_lm")
        # the composed decision conjoins EVERY flag this stage computes
        # — the Gopher gates were previously computed but not folded into
        # keep, so gate-failing docs leaked through with keep=true. The
        # batch plan additionally conjoins the full gopher_repetition caps
        # and the dedup legs (doc-keyed aggregates; the stream's analog is
        # near_dup_within_watermark) — documented scope difference.
        ok_gates = (
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio")
            & F.col("ok_bullet_lines")
            & F.col("ok_ellipsis_lines")
            & F.col("ok_alpha_words")
        )
        out = gated.join(lm, "doc_id").withColumn(
            "keep", ok_gates & F.col("keep_model") & F.col("keep_lm")
        )
        if lang_model is not None:
            from gnosis_ocr_spark.functions.classifier import lang_id_predict

            pred = lang_id_predict(batch_df, lang_model).withColumnRenamed(
                "lang_pred", "lang"
            )
            out = out.join(pred, "doc_id")
        # epoch-idempotent write: a retried epoch replaces ITS OWN files
        (
            out.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_dir)
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def near_dup_within_watermark(
    docs: DataFrame,
    watermark: str = "30 minutes",
    shingle_words: int = SHINGLE_WORDS,
    sketch_size: int = 256,
) -> DataFrame:
    """Streaming near-dup filter: the FIRST document with each bottom-s
    shingle sketch inside the watermark horizon survives; later sketch-equal
    arrivals drop. Sketch equality certifies content equality for docs with
    ≤ sketch_size distinct shingles and near-identity above (the same
    bottom-s contract the batch verifier uses). Per-key state evicts as the
    event-time watermark passes — bounded memory at crawl scale."""
    ltoks = F.filter(tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 0)
    keyed = (
        docs.withColumn("_ltoks", ltoks)
        # the second _ltoks reference is load-bearing: an alias referenced
        # once is re-inlined by CollapseProject and the tokenizer would
        # re-run per HOF element inside row_sketch (the repo's measured
        # 44x quadratic gotcha)
        .withColumn("_ntok", F.size("_ltoks"))
        .withColumn("sk", row_sketch(F.col("_ltoks"), shingle_words, sketch_size))
    )
    marked = keyed.withWatermark("warc_ts", watermark)
    # docs too short to shingle (< shingle_words tokens, or NULL text) all
    # share the EMPTY sketch — keying them through dropDuplicates would
    # collapse every distinct short doc into one survivor. They bypass the
    # near-dup filter (exact dedup is their instrument, as in batch).
    deduped = marked.filter(F.size("sk") > 0).dropDuplicatesWithinWatermark(
        ["sk"]
    )
    short = marked.filter(F.size("sk") == 0)
    return deduped.unionByName(short).drop("_ltoks", "_ntok")
