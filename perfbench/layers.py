"""Per-layer spans: each layer's public functions called on a staged input
and forced with a noop write, named by the module that owns them.

A traced run spans only the layers its workload reaches: the extraction
layers on ``crawl_submit`` and ``light_resume``, the curation layers on
``curate_dedup``. The prediction table in README.md says which workload is
expected to move which metric.
"""

from __future__ import annotations

import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spans import PY_BOOT, PY_RUN, PY_SENT, ROWS_OUT, Tracer

MB = 2**20
HEAVY_ROUTES = ("pdf", "tiff", "image")


def _dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / MB


def _staged(spark, frame: DataFrame, path: Path, tr: Tracer, name: str) -> DataFrame:
    """Materialize a layer's input as parquet (a traced 'prep' span, not a
    layer metric) so the next layer's span does not recompute it."""
    with tr.span(f"prep.{name}"):
        frame.write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def extraction_layers(tr: Tracer, spark, docs: DataFrame, work: Path,
                      resume_from: Path) -> tuple[dict[str, float], Path, dict]:
    """routing → office_extract (light branch) ∪ skew → pdf_split (split,
    raster+OCR) → layout, then the run layer around it, resumed from a copy of
    ``resume_from``, an output directory whose done manifest already holds
    part of ``docs``. Returns the metrics, the resumed run's output directory
    and the counts run_extraction returned."""
    from gnosis_ocr_spark.operators.layout import assemble_documents
    from gnosis_ocr_spark.operators.office_extract import light_extract_udf
    from gnosis_ocr_spark.operators.pdf_split import raster_ocr_pages, split_pdf_text_pages
    from gnosis_ocr_spark.operators.routing import with_route
    from gnosis_ocr_spark.operators.skew import salted_repartition
    from gnosis_ocr_spark.plans.pipeline import extract_corpus
    from gnosis_ocr_spark.plans.run import MANIFEST_SCHEMA, run_extraction
    from gnosis_ocr_spark.sources import tables

    m: dict[str, float] = {}
    m["tables.scan_s"] = tr.run("tables.scan", lambda: docs).wall_s
    routed = with_route(docs)
    m["routing.route_s"] = tr.run("routing.route", lambda: routed.select("url", "route")).wall_s

    light = tr.run("office_extract.light", lambda: (
        routed.filter(~F.col("route").isin(*HEAVY_ROUTES))
        .withColumn("_lx", light_extract_udf(F.col("html"), F.col("route")))
        .select("url", "_lx.extracted_text", "_lx.n_pages", "route")
    ))
    m["office_extract.busy_s"] = light.task_run_s
    m["office_extract.python_s"] = light.metric(PY_RUN)
    m["office_extract.arrow_sent_mb"] = light.metric(PY_SENT) / MB

    heavy = routed.filter(F.col("route").isin(*HEAVY_ROUTES)).select("url", "html")
    skew = tr.run("skew.repartition", lambda: salted_repartition(heavy))
    m["skew.repartition_s"] = skew.wall_s
    m["skew.shuffle_write_mb"] = skew.shuffle_write_mb

    split = tr.run("pdf_split.split", lambda: split_pdf_text_pages(
        salted_repartition(heavy), with_route=True))
    m["pdf_split.split_s"] = split.wall_s
    m["pdf_split.split_python_s"] = split.metric(PY_RUN)
    m["pdf_split.split_task_max_over_median"] = split.max_over_median_task()
    pages_n = split.metric(ROWS_OUT, "MapInPandas")
    m["pdf_split.pages"] = pages_n

    pages = _staged(spark, split_pdf_text_pages(salted_repartition(heavy), with_route=True),
                    work / "pages", tr, "pages")
    ocr = tr.run("pdf_split.raster_ocr", lambda: raster_ocr_pages(
        pages.repartition("url", "page_no"), with_confidence=True))
    m["pdf_split.raster_ocr_s"] = ocr.wall_s
    m["pdf_split.raster_ocr_python_s"] = ocr.metric(PY_RUN)
    m["pdf_split.raster_ocr_ms_per_page"] = (
        1e3 * m["pdf_split.raster_ocr_python_s"] / pages_n if pages_n else 0.0
    )
    m["pdf_split.raster_ocr_task_max_over_median"] = ocr.max_over_median_task()

    ocred = _staged(spark, raster_ocr_pages(pages.repartition("url", "page_no"),
                                            with_confidence=True),
                    work / "ocred", tr, "ocred")
    asm = tr.run("layout.assemble", lambda: assemble_documents(ocred))
    m["layout.assemble_s"] = asm.wall_s
    m["layout.shuffle_read_mb"] = asm.shuffle_read_mb

    # the run layer: run_extraction against extract_corpus on the same
    # (still to do) documents; the difference is what the run layer adds
    out = work / "run_out"
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(resume_from, out)
    before_mb = _dir_mb(out)
    manifest = f"{out}/done_manifest"
    done = tables.read_or_empty(spark, manifest, MANIFEST_SCHEMA).select("url")
    anti = tr.run("run.antijoin", lambda: docs.join(done, "url", "left_anti"))
    m["run.antijoin_s"] = anti.wall_s
    ext = tr.run("run.extract_corpus", lambda: extract_corpus(
        docs.join(done, "url", "left_anti"), with_confidence=True))
    with tr.span("run.run_extraction"):
        stats = run_extraction(spark, docs, str(out), run_id="traced")
    run = tr.spans[-1]
    m["run.overhead_s"] = run.wall_s - ext.wall_s
    m["run.tag_python_s"] = run.metric(PY_RUN, "MapInPandas", "tag")
    m["run.write_s"] = sum(
        dur for dur, nodes in run.executions
        if any(n.name.startswith("Execute InsertIntoHadoopFsRelationCommand") for n in nodes)
    )
    m["run.bytes_written_mb"] = _dir_mb(out) - before_mb
    return m, out, stats


def curation_layers(tr: Tracer, spark, docs: DataFrame, work: Path,
                    host_cap: int, threshold: float) -> dict[str, float]:
    """text → classifier → urls → dedup (exact, sketches, clusters, LSH
    precision), then the composed curate_corpus plan."""
    from gnosis_ocr_spark.functions.classifier import quality_score, unigram_lm_score
    from gnosis_ocr_spark.functions.dedup import (
        duplicate_clusters_seeded,
        exact_duplicates,
        lsh_candidate_pairs,
        minhash_near_duplicates,
        minhash_signature,
        shingle_sketches,
    )
    from gnosis_ocr_spark.functions.sampling import cap_per_group
    from gnosis_ocr_spark.functions.text import (
        gopher_flags,
        gopher_repetition,
        lang_id,
        repetition_bp,
        tokens,
    )
    from gnosis_ocr_spark.functions.urls import canonicalize_url, url_host
    from gnosis_ocr_spark.plans.curate import curate_corpus

    m: dict[str, float] = {}
    base = docs.select("doc_id", "text")

    def enrich():
        lt = F.filter(tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 0)
        return base.withColumn("_lt", lt).select(
            "doc_id",
            F.size("_lt").alias("n_tokens"),
            lang_id(F.col("text"), toks=F.col("_lt")).alias("lang"),
            repetition_bp(F.col("text"), toks=F.col("_lt")).alias("rep2_bp"),
            *gopher_flags(F.col("text"), toks=F.col("_lt")),
        )

    m["text.enrich_s"] = tr.run("text.enrich", enrich).wall_s
    m["text.gopher_repetition_s"] = tr.run(
        "text.gopher_repetition",
        lambda: gopher_repetition(base, top_ns=(2,), dup_ns=(5,))).wall_s
    m["classifier.quality_s"] = tr.run("classifier.quality", lambda: quality_score(base)).wall_s
    m["classifier.lm_s"] = tr.run("classifier.lm", lambda: unigram_lm_score(base)).wall_s

    def quota():
        urls = docs.select(
            "doc_id",
            canonicalize_url(F.col("url")).alias("canonical_url"),
            url_host(F.col("url")).alias("host"),
        )
        return cap_per_group(urls, "host", "canonical_url", host_cap, tiebreak_col="doc_id")

    m["urls.host_quota_s"] = tr.run("urls.host_quota", quota).wall_s

    m["dedup.exact_s"] = tr.run("dedup.exact", lambda: exact_duplicates(base)).wall_s
    dup = _staged(spark, exact_duplicates(base), work / "dup", tr, "dup")
    reps = base.join(
        dup.filter(F.col("doc_id") == F.col("canonical_id")).select("doc_id"),
        "doc_id", "left_semi",
    )
    m["dedup.sketch_s"] = tr.run(
        "dedup.sketch", lambda: shingle_sketches(reps, "doc_id", "text")).wall_s
    clusters = tr.run("dedup.clusters", lambda: duplicate_clusters_seeded(
        base, dup, threshold=threshold))
    m["dedup.clusters_s"] = clusters.wall_s
    m["dedup.cc_jobs"] = clusters.jobs
    with tr.span("dedup.lsh_pairs"):
        cands = lsh_candidate_pairs(minhash_signature(reps, "doc_id", "text")).count()
        verified = minhash_near_duplicates(reps, threshold=threshold).count()
    m["dedup.lsh_precision"] = verified / cands if cands else 0.0

    # curate_corpus clusters eagerly while it builds the frame, so the
    # frame is built inside the span
    with tr.span("curate.compose"):
        composed = curate_corpus(
            docs, url_col="url", max_docs_per_host=host_cap,
            near_dup=True, near_dup_threshold=threshold,
        )
        composed.write.format("noop").mode("overwrite").save()
    m["curate.compose_s"] = tr.spans[-1].wall_s
    plan = composed._jdf.queryExecution().executedPlan().toString()
    m["curate.exchanges"] = len(re.findall(r"\b(?:Broadcast)?Exchange\b", plan))
    return m


def spark_totals(span, slots: int) -> dict[str, float]:
    """Whole-pass Spark metrics of one traced end-to-end pass."""
    return {
        "spark.python_boot_s": span.metric(PY_BOOT),
        "spark.task_run_s": span.task_run_s,
        "spark.task_cpu_s": span.task_cpu_s,
        "spark.gc_s": span.gc_s,
        "spark.spill_mb": span.spill_mb,
        "spark.idle_slot_share": max(0.0, 1.0 - span.task_run_s / (span.wall_s * slots)),
    }
