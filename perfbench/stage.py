"""Stage one workload's seeded input and its by-construction goldens.

Runs in its own process, before the measuring process starts, so input
generation never lands in ``setup_s``:

    python3 perfbench/stage.py --workload crawl_submit --seed 3 --size full \
        --cache .perfbench/cache

prints the staged directory on stdout. The directory is keyed by workload,
size, seed and a hash of the generator sources (this file and
``gnosis_ocr_spark/corpus.py``); ``_SUCCESS`` is written last, and a directory
without it is a partial build that is deleted and rebuilt.

Every staged directory holds ``docs/`` (the input table, several parquet files
so the scan splits across slots) and ``meta.json``; the extraction workloads
add ``golden.parquet`` (url, expected_text, n_pages).

``curate_dedup`` draws its base documents from ``data/sf0.1-documents-text.parquet``:
the ``doc_id`` and ``text`` columns of the sf0.1 ``documents`` table that the
driver queries (``curate_compose`` among them) run over, 5,000 documents.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import random
import re
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path.cwd()))

HERE = Path(__file__).resolve().parent
CURATE_BASE = HERE / "data" / "sf0.1-documents-text.parquet"

# Input sizes. "full" is what the benchmark measures; "smoke" is the tiny
# input of the smoke mode. The crawl mix repeats every 20 rows, so its n is a
# multiple of 20.
SIZES = {
    "full": {
        "crawl_submit": {"n": 40},
        "light_resume": {"n_gen": 40, "n_office": 220},
        "curate_dedup": {"n_base": 600},
    },
    "smoke": {
        "crawl_submit": {"n": 20},
        "light_resume": {"n_gen": 20, "n_office": 26},
        "curate_dedup": {"n_base": 100},
    },
}

# Skew PDFs get 50..SKEW_MAX_PAGES pages. The corpus default (120) lets the
# two skew documents of a 40-row input swing the whole pass by ~2x from one
# seed to the next, and they sit on the pass's critical path; pinning them at
# 50 pages keeps the work per seed comparable.
SKEW_MAX_PAGES = 50

# generate_rows url kinds that route to the light (non-PDF, non-image) branch
LIGHT_KINDS = {"doc", "attach", "empty", "mojibake", "mislabeled"}

N_DOC_FILES = 8
PLANTED_ID0 = 10000  # planted documents' ids start above every base doc_id
CHAIN_LEN = 4  # v1 (an original doc) plus three one-word drifts
CHAIN_MIN_WORDS = 60  # one changed word keeps shingle Jaccard >= 0.89


def _source_hash() -> str:
    h = hashlib.sha256()
    for p in (Path(__file__), Path.cwd() / "gnosis_ocr_spark" / "corpus.py", CURATE_BASE):
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _url_kind(url: str) -> str:
    return url.rsplit("/", 1)[-1].split("-", 1)[0]


def _write_docs(out: Path, rows) -> None:
    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    _write_split(out / "docs", pa.table({
        "url": [r.url for r in rows],
        "warc_ts": [r.warc_ts for r in rows],
        "html": [r.html for r in rows],
        "text": [r.text for r in rows],
        "lang": [r.lang for r in rows],
    }, schema=schema))
    pq.write_table(pa.table({
        "url": [r.url for r in rows],
        "expected_text": [r.expected_text for r in rows],
        "n_pages": pa.array([r.n_pages for r in rows], pa.int32()),
    }), out / "golden.parquet")


def _write_split(path: Path, table: pa.Table) -> None:
    """Round-robin the rows over N_DOC_FILES files so the scan has one input
    split per slot, as a real multi-file table would."""
    path.mkdir(parents=True)
    idx = list(range(table.num_rows))
    for f in range(N_DOC_FILES):
        pq.write_table(table.take(idx[f::N_DOC_FILES]), path / f"part-{f:05d}.parquet")


def _done_half(urls, seed: int) -> list[str]:
    """The seeded half of the urls a resumed run finds in its done manifest."""
    urls = sorted(urls)
    return sorted(random.Random(f"done-{seed}").sample(urls, len(urls) // 2))


def stage_crawl(out: Path, seed: int, n: int) -> dict:
    from gnosis_ocr_spark.corpus import generate_rows

    rows = generate_rows(n, seed=seed, skew_max_pages=SKEW_MAX_PAGES)
    _write_docs(out, rows)
    # the traced run resumes its run-layer spans from this half
    return {"n_docs": len(rows), "done_urls": _done_half((r.url for r in rows), seed)}


def stage_light(out: Path, seed: int, n_gen: int, n_office: int) -> dict:
    from gnosis_ocr_spark.corpus import generate_rows, office_rows

    rows = [
        r for r in generate_rows(n_gen, seed=seed, skew_max_pages=SKEW_MAX_PAGES)
        if _url_kind(r.url) in LIGHT_KINDS
    ] + office_rows(n_office, seed=seed)
    _write_docs(out, rows)
    return {"n_docs": len(rows), "done_urls": _done_half((r.url for r in rows), seed)}


def messy_url(doc_id: int) -> str:
    """The crawl-style url ``driver_queries.q_curate_compose`` gives a
    document: mixed-case host, optional ``www.`` and default port, tracking
    and reordered query parameters, fragments; 50 hosts by ``doc_id % 50``."""
    d = doc_id
    return (
        "https://" + ("WWW." if d % 4 == 0 else "") + f"host{d % 50}.Example.org"
        + (":443" if d % 5 == 0 else "") + f"/doc/{d}"
        + ("?utm_source=x&b=2&a=1" if d % 2 == 0 else "?a=1&b=2")
        + ("#frag" if d % 7 == 0 else "")
    )


def _exact_key(text: str) -> str:
    """exact_duplicates' grouping key: trimmed, whitespace-collapsed, lower-case."""
    return re.sub(r"\s+", " ", text.strip(" ")).lower()


def stage_curate(out: Path, seed: int, n_base: int) -> dict:
    """A seeded sample of ``n_base`` documents of the sf0.1 ``documents``
    table plus planted duplicates: verbatim copies of a seeded tenth of the
    sample, and near-dup drift chains v1≈v2≈…≈vk that change one word per
    step. Planted documents get ids from PLANTED_ID0 up. Each copy's expected
    ``canonical_id`` is the smallest id whose text has its exact-dedup key,
    which is its original unless the table itself already holds that text."""
    base = pq.read_table(CURATE_BASE).to_pylist()
    vocab = sorted({w for r in base for w in r["text"].split()})
    rng = random.Random(f"curate-{seed}")
    sample = sorted(rng.sample(base, n_base), key=lambda r: r["doc_id"])
    ids = [r["doc_id"] for r in sample]
    texts = {r["doc_id"]: r["text"] for r in sample}
    by_key: dict[str, list[int]] = {}
    for i in ids:
        by_key.setdefault(_exact_key(texts[i]), []).append(i)

    originals = rng.sample(ids, n_base // 10)
    copies: dict[int, int] = {}
    next_id = PLANTED_ID0
    for orig in originals:
        copies[next_id] = min(by_key[_exact_key(texts[orig])])
        texts[next_id] = texts[orig]
        next_id += 1
    # chain heads: long enough that one changed word keeps them near-dups,
    # and neither copied nor sharing their text with another document
    long_ids = [i for i in ids if len(texts[i].split()) >= CHAIN_MIN_WORDS
                and i not in set(originals) and len(by_key[_exact_key(texts[i])]) == 1]
    heads = rng.sample(long_ids, min(len(long_ids), max(1, n_base // 50)))
    chains: list[list[int]] = []
    for head in heads:
        chain, words = [head], texts[head].split()
        for _ in range(CHAIN_LEN - 1):
            words = list(words)
            pos = rng.randrange(len(words))
            words[pos] = rng.choice([w for w in vocab if w != words[pos]])
            chain.append(next_id)
            texts[next_id] = " ".join(words)
            next_id += 1
        chains.append(chain)

    all_ids = sorted(texts)
    _write_split(out / "docs", pa.table({
        "doc_id": pa.array(all_ids, pa.int64()),
        "text": [texts[i] for i in all_ids],
        "url": [messy_url(i) for i in all_ids],
    }))
    return {
        "n_docs": len(all_ids),
        "copies": {str(k): v for k, v in copies.items()},
        "chains": chains,
    }


STAGERS = {
    "crawl_submit": stage_crawl,
    "light_resume": stage_light,
    "curate_dedup": stage_curate,
}


def stage(workload: str, seed: int, size: str, cache: Path) -> Path:
    params = SIZES[size][workload]
    key = "-".join(
        [workload, size, *(f"{k}{v}" for k, v in sorted(params.items())),
         f"s{seed}", _source_hash()]
    )
    out = cache / key
    if (out / "_SUCCESS").is_file():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    meta = STAGERS[workload](out, seed, **params)
    (out / "meta.json").write_text(json.dumps(meta))
    (out / "_SUCCESS").write_text("")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(STAGERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    ap.add_argument("--cache", required=True)
    args = ap.parse_args()
    print(stage(args.workload, args.seed, args.size, Path(args.cache)))


if __name__ == "__main__":
    main()
