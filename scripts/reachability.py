#!/usr/bin/env python
"""Static reachability of ``gnosis_ocr_spark/`` from the repo's entry points.

    python scripts/reachability.py     # lists unreached defs; exit 1 if any

Entry points (roots): ``__spark_entry__.py`` (which reaches every query in
``plans/driver_queries.py``), ``bench.py``, the benchmark (``perfbench/``),
``scripts/submit_extract.py``, ``run_extraction`` and every public function
of ``gnosis_ocr_spark/streaming/``.

Rule: a top-level def (function or class) of a package module is reached
when its name appears in reached code, as a bare name, an attribute or an
identifier-shaped string constant. Reached code is a root, the body of a
reached def (a class's whole body), and the module-level statements of every
package module that reached code imports. Names are matched across modules
and import lists do not count as uses, so the rule errs toward calling code
reached, never toward calling live code dead.

Every top-level def must be reached or listed in ``KEEP`` with its reason;
a ``KEEP`` entry for a def that is reached or gone is an error too.
Stdlib only.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "gnosis_ocr_spark"

ROOT_FILES = ("__spark_entry__.py", "bench.py", "scripts/submit_extract.py")
ROOT_DIRS = ("perfbench",)
ROOT_DEFS = {"gnosis_ocr_spark/plans/run.py": ("run_extraction",)}
PUBLIC_ROOT_DIRS = ("gnosis_ocr_spark/streaming",)

TEST_REFERENCE = "test reference implementation"
FIXTURE = "fixture writer"
READ_API = "public read API"
LATER = "deletion candidate for a later change"

KEEP: dict[str, str] = {
    "gnosis_ocr_spark/corpus.py:write_corpus": FIXTURE,
    "gnosis_ocr_spark/functions/aes.py:_decrypt_block": TEST_REFERENCE,
    "gnosis_ocr_spark/functions/classifier.py:lang_id_fit": LATER,
    "gnosis_ocr_spark/functions/classifier.py:lm_fit": TEST_REFERENCE,
    "gnosis_ocr_spark/functions/codec_jpeg.py:decode_baseline_jpeg": LATER,
    "gnosis_ocr_spark/functions/codec_jpeg.py:exif_app1": FIXTURE,
    "gnosis_ocr_spark/functions/codec_jpx.py:encode_block_bypass": FIXTURE,
    "gnosis_ocr_spark/functions/codec_media.py:build_ico": FIXTURE,
    "gnosis_ocr_spark/functions/codec_media.py:build_webp_lossy_header": FIXTURE,
    "gnosis_ocr_spark/functions/codec_pdf.py:build_pdf_tounicode": FIXTURE,
    "gnosis_ocr_spark/functions/codec_pdf.py:extract_pages": TEST_REFERENCE,
    "gnosis_ocr_spark/functions/codec_tiff.py:_split_jpeg_datastream": FIXTURE,
    "gnosis_ocr_spark/functions/codec_tiff.py:encode_tiff_gray16": FIXTURE,
    "gnosis_ocr_spark/functions/codec_tiff.py:encode_tiff_gray_jpeg": FIXTURE,
    "gnosis_ocr_spark/functions/codec_tiff.py:encode_tiff_gray_pages": FIXTURE,
    "gnosis_ocr_spark/functions/codec_tiff.py:encode_tiff_gray_tiled": FIXTURE,
    "gnosis_ocr_spark/functions/codec_tiff.py:encode_tiff_palette": FIXTURE,
    "gnosis_ocr_spark/functions/codec_tiff.py:encode_tiff_rgb": FIXTURE,
    "gnosis_ocr_spark/functions/codec_tiff.py:tiff_dimensions": LATER,
    "gnosis_ocr_spark/functions/codec_tiff.py:tiff_num_pages": LATER,
    "gnosis_ocr_spark/functions/codec_vp8.py:rgb_to_yuv420": FIXTURE,
    "gnosis_ocr_spark/functions/dedup.py:char_ngrams": TEST_REFERENCE,
    "gnosis_ocr_spark/functions/dedup.py:word_shingles": TEST_REFERENCE,
    "gnosis_ocr_spark/functions/sampling.py:cap_tokens_per_group": LATER,
    "gnosis_ocr_spark/functions/sampling.py:mixture_sample": LATER,
    "gnosis_ocr_spark/functions/sampling.py:sample_fraction": LATER,
    "gnosis_ocr_spark/functions/scalar.py:human_size": LATER,
    "gnosis_ocr_spark/functions/scalar.py:to_json_manifest": LATER,
    "gnosis_ocr_spark/functions/scalar.py:trim_text": LATER,
    "gnosis_ocr_spark/functions/scalar.py:utf8_decode": LATER,
    "gnosis_ocr_spark/functions/scalar.py:utf8_encode": LATER,
    "gnosis_ocr_spark/functions/similarity.py:_pq_codes_col": LATER,
    "gnosis_ocr_spark/functions/similarity.py:_pq_init": LATER,
    "gnosis_ocr_spark/functions/similarity.py:cosine_topk_quantized": LATER,
    "gnosis_ocr_spark/functions/similarity.py:kmeans_centroids": LATER,
    "gnosis_ocr_spark/functions/similarity.py:pq_codebooks": LATER,
    "gnosis_ocr_spark/functions/similarity.py:pq_cosine_topk": LATER,
    "gnosis_ocr_spark/functions/similarity.py:pq_encode": LATER,
    "gnosis_ocr_spark/functions/similarity.py:quantize_embeddings": LATER,
    "gnosis_ocr_spark/functions/similarity.py:signs_col": LATER,
    "gnosis_ocr_spark/functions/text.py:remove_hot_spans": LATER,
    "gnosis_ocr_spark/functions/text.py:segment_cjk": LATER,
    "gnosis_ocr_spark/functions/text.py:winnowing_fingerprints": LATER,
    "gnosis_ocr_spark/functions/urls.py:canonicalize_url_py": TEST_REFERENCE,
    "gnosis_ocr_spark/operators/aggregates.py:high_water_progress": LATER,
    "gnosis_ocr_spark/operators/aggregates.py:latest_sessions": LATER,
    "gnosis_ocr_spark/operators/aggregates.py:ocr_results_map": LATER,
    "gnosis_ocr_spark/operators/aggregates.py:running_high_water": LATER,
    "gnosis_ocr_spark/operators/chunks.py:complete_docs": LATER,
    "gnosis_ocr_spark/operators/feed_extract.py:_SitemapWalk": LATER,
    "gnosis_ocr_spark/operators/feed_extract.py:_sitemap_bytes": LATER,
    "gnosis_ocr_spark/operators/feed_extract.py:build_sitemap": FIXTURE,
    "gnosis_ocr_spark/operators/feed_extract.py:build_sitemap_index": FIXTURE,
    "gnosis_ocr_spark/operators/feed_extract.py:looks_like_sitemap": LATER,
    "gnosis_ocr_spark/operators/feed_extract.py:parse_sitemap": LATER,
    "gnosis_ocr_spark/operators/feed_extract.py:sitemap_urls": LATER,
    "gnosis_ocr_spark/operators/html_extract.py:_MetaExtractor": LATER,
    "gnosis_ocr_spark/operators/html_extract.py:extract_html_meta": LATER,
    "gnosis_ocr_spark/operators/html_extract.py:extract_html_meta_udf": LATER,
    "gnosis_ocr_spark/operators/html_extract.py:with_extracted_html": LATER,
    "gnosis_ocr_spark/operators/html_extract.py:with_html_meta": LATER,
    "gnosis_ocr_spark/operators/office_extract.py:office_text_col": LATER,
    "gnosis_ocr_spark/operators/pdf_split.py:pdf_page_count_udf": LATER,
    "gnosis_ocr_spark/operators/pdf_split.py:split_pdf_pages": LATER,
    "gnosis_ocr_spark/operators/robots.py:_allowed_compiled": LATER,
    "gnosis_ocr_spark/operators/robots.py:_compile_group": LATER,
    "gnosis_ocr_spark/operators/robots.py:_pattern_re": LATER,
    "gnosis_ocr_spark/operators/robots.py:build_robots": FIXTURE,
    "gnosis_ocr_spark/operators/robots.py:parse_robots": LATER,
    "gnosis_ocr_spark/operators/robots.py:robots_allowed": LATER,
    "gnosis_ocr_spark/operators/robots.py:robots_filter": LATER,
    "gnosis_ocr_spark/operators/robots.py:rules_for_agent": LATER,
    "gnosis_ocr_spark/plans/driver_queries.py:q_winnow_fingerprints": LATER,
    "gnosis_ocr_spark/plans/run.py:canonical_results": READ_API,
    "gnosis_ocr_spark/sources/tables.py:compact": LATER,
    "gnosis_ocr_spark/sources/tables.py:delete_run": LATER,
    "gnosis_ocr_spark/sources/tables.py:write_bucketed": FIXTURE,
    "gnosis_ocr_spark/sources/tables.py:write_documents_as": FIXTURE,
    "gnosis_ocr_spark/sources/warc.py:_content_decode": LATER,
    "gnosis_ocr_spark/sources/warc.py:_dechunk": LATER,
    "gnosis_ocr_spark/sources/warc.py:_gunzip_members": LATER,
    "gnosis_ocr_spark/sources/warc.py:_parse_warc_impl": LATER,
    "gnosis_ocr_spark/sources/warc.py:build_warc": FIXTURE,
    "gnosis_ocr_spark/sources/warc.py:parse_warc_bytes": LATER,
    "gnosis_ocr_spark/sources/warc.py:warc_records": LATER,
}


def _module_name(path: Path, repo: Path) -> str:
    rel = path.relative_to(repo).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


class _Uses(ast.NodeVisitor):
    """Names a block of code uses, and the package modules it imports."""

    def __init__(self) -> None:
        self.names: set[str] = set()
        self.modules: set[str] = set()

    def visit_Name(self, node: ast.Name) -> None:
        self.names.add(node.id)

    def visit_Attribute(self, node: ast.Attribute) -> None:
        self.names.add(node.attr)
        self.generic_visit(node)

    def visit_Constant(self, node: ast.Constant) -> None:
        if isinstance(node.value, str) and node.value.isidentifier():
            self.names.add(node.value)

    def visit_Import(self, node: ast.Import) -> None:
        for alias in node.names:
            self.modules.add(alias.name)

    def visit_ImportFrom(self, node: ast.ImportFrom) -> None:
        base = node.module or ""
        self.modules.add(base)
        for alias in node.names:
            # `from pkg import module` imports a module; `from m import x
            # as y` hides the original name, so count it as used
            self.modules.add(f"{base}.{alias.name}")
            if alias.asname and alias.asname != alias.name:
                self.names.add(alias.name)


def _defs(tree: ast.Module) -> list[ast.AST]:
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    return [n for n in tree.body if isinstance(n, kinds)]


def analyze(repo: Path = REPO) -> tuple[list[str], set[str]]:
    """(unreached def keys not in KEEP, all unreached def keys); a key is
    ``"<path relative to the repo>:<def name>"``."""
    modules: dict[str, tuple[str, ast.Module]] = {}
    by_name: dict[str, list[tuple[str, ast.AST]]] = {}
    for path in sorted((repo / PACKAGE).rglob("*.py")):
        rel = str(path.relative_to(repo))
        tree = _parse(path)
        modules[_module_name(path, repo)] = (rel, tree)
        for node in _defs(tree):
            by_name.setdefault(node.name, []).append((rel, node))
    rel_to_module = {rel: mod for mod, (rel, _) in modules.items()}

    reached: set[str] = set()
    work: list[ast.AST | str] = []
    for name in ROOT_FILES:
        work.append(_parse(repo / name))
    for d in ROOT_DIRS:
        work.extend(_parse(p) for p in sorted((repo / d).rglob("*.py")))
    for mod, (rel, tree) in modules.items():
        wanted = ROOT_DEFS.get(rel, ())
        public = any(rel.startswith(d + "/") for d in PUBLIC_ROOT_DIRS)
        for node in _defs(tree):
            if node.name in wanted or (public and not node.name.startswith("_")):
                reached.add(f"{rel}:{node.name}")
                work.append(node)
                work.append(mod)

    loaded: set[str] = set()
    while work:
        item = work.pop()
        if isinstance(item, str):  # a module: run its module-level code
            if item in loaded or item not in modules:
                continue
            loaded.add(item)
            tree = modules[item][1]
            defs = _defs(tree)
            item = ast.Module(
                body=[n for n in tree.body if n not in defs], type_ignores=[]
            )
        uses = _Uses()
        uses.visit(item)
        work.extend(m for m in uses.modules if m in modules)
        for name in uses.names:
            for rel, node in by_name.get(name, ()):
                key = f"{rel}:{name}"
                if key not in reached:
                    reached.add(key)
                    work.append(node)
                    work.append(rel_to_module[rel])

    every = {f"{rel}:{n.name}" for rel, tree in modules.values() for n in _defs(tree)}
    return sorted(every - reached - set(KEEP)), every - reached


def problems() -> list[str]:
    """Every def that is neither reached nor kept, and every stale KEEP entry."""
    unreached, dead = analyze()
    out = [f"unreached: {k}" for k in unreached]
    out += [f"KEEP entry is reached or gone: {k}" for k in sorted(set(KEEP) - dead)]
    return out


def main() -> int:
    found = problems()
    for line in found:
        print(line)
    print(f"{len(found)} problem(s)")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
