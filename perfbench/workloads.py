"""The three workloads: what one pass is, what set-up precedes the passes,
and the correctness checks run on the passes' outputs after timing.

Each pass calls a public entry point of the product on the staged input:
``plans.run.run_extraction`` (what ``scripts/submit_extract.py`` runs) for the
two extraction workloads, ``plans.curate.curate_corpus`` for curation.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

from host import CpuTimes

# curate_dedup's crawl-balancing quota; the staged corpus averages ~14 docs
# on each of its 50 url hosts, so a cap of 12 drops some
HOST_CAP = 12
NEAR_DUP_THRESHOLD = 0.8


@dataclass
class Pass:
    name: str
    wall_s: float
    docs: int
    pages: int
    cpu: CpuTimes
    out: Path
    stats: dict = field(default_factory=dict)


@dataclass
class Check:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def add(self, attempted: int, failed: int, note: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append(f"{note}: {failed}/{attempted}")


class Workload:
    """One workload bound to a live session and a staged input."""

    # untimed full passes after session start: the cold pass compiles every
    # plan, later ones let the JIT settle
    warmup_passes = 1
    # typical warm pass time on a 4-vCPU host; a run makes
    # round(--seconds / nominal_pass_s) timed passes, at least two
    nominal_pass_s = 5.0
    # urls a pass finds already in its output's done manifest
    resumed_done = 0

    def __init__(self, spark, staged: Path, work: Path):
        self.spark = spark
        self.staged = staged
        self.work = work
        self.meta = json.loads((staged / "meta.json").read_text())
        self.docs_path = str(staged / "docs")

    def prepare(self) -> None:
        """Untimed state a pass starts from (part of set-up)."""

    def _timed(self, name: str, body) -> Pass:
        out = self.work / "passes" / name
        shutil.rmtree(out, ignore_errors=True)
        self.before_pass(out)
        c0, t0 = CpuTimes.read(), time.perf_counter()
        stats = body(str(out))
        t1, c1 = time.perf_counter(), CpuTimes.read()
        docs, pages = self.work_done(name, out, stats)
        return Pass(name, t1 - t0, docs, pages, c1 - c0, out, stats or {})

    def before_pass(self, out: Path) -> None:
        pass

    def run_pass(self, name: str) -> Pass:
        raise NotImplementedError

    def work_done(self, name: str, out: Path, stats) -> tuple[int, int]:
        """(docs, pages) the pass completed, read from its own output after
        the clock has stopped."""
        raise NotImplementedError

    def check(self, passes: list[Pass]) -> Check:
        raise NotImplementedError


class _Extraction(Workload):
    def read_docs(self):
        from gnosis_ocr_spark.sources.tables import read_documents

        return read_documents(self.spark, self.docs_path)

    def run_pass(self, name: str) -> Pass:
        from gnosis_ocr_spark.plans.run import run_extraction

        return self._timed(
            name, lambda out: run_extraction(self.spark, self.read_docs(), out, run_id=name)
        )

    def work_done(self, name: str, out: Path, stats) -> tuple[int, int]:
        """Processed docs as run_extraction returns them; pages summed from
        the page_count of the pass's own rows in the run's metrics table."""
        metrics = pq.read_table(out / "metrics", columns=["run_id", "page_count"]).to_pylist()
        return stats["processed"], sum(r["page_count"] for r in metrics if r["run_id"] == name)

    def resume_base(self) -> Path:
        """An output directory whose done manifest already holds the staged
        seeded half of the urls, written by an untimed earlier run."""
        from pyspark.sql import functions as F

        from gnosis_ocr_spark.plans.run import run_extraction

        base = self.work / "resume_base"
        if not (base / "done_manifest").exists():
            shutil.rmtree(base, ignore_errors=True)
            done = self.read_docs().filter(F.col("url").isin(self.meta["done_urls"]))
            run_extraction(self.spark, done, str(base), run_id="earlier")
        return base

    def check(self, passes: list[Pass]) -> Check:
        chk = Check()
        for p in passes:
            self.check_run(chk, p.name, p.out, p.stats, self.resumed_done)
        return chk

    def check_run(self, chk: Check, name: str, out: Path, stats: dict,
                  resumed_done: int) -> None:
        """Byte identity of every url's text and page count against the
        by-construction goldens, each url exactly once in ``results/``; and
        resume accounting: ``processed + skipped_done == n`` with
        ``skipped_done`` equal to the urls planted in the done manifest."""
        golden = pq.read_table(self.staged / "golden.parquet").to_pylist()
        want = {g["url"]: (g["expected_text"], g["n_pages"]) for g in golden}
        got: dict[str, list] = {}
        res = pq.read_table(out / "results", columns=["url", "extracted_text", "n_pages"])
        for r in res.to_pylist():
            got.setdefault(r["url"], []).append((r["extracted_text"], r["n_pages"]))
        bad = sum(1 for u, w in want.items() if got.get(u) != [w])
        bad += sum(1 for u in got if u not in want)
        chk.add(len(want), bad, f"{name} byte identity")
        n = self.meta["n_docs"]
        bad = (abs(stats["processed"] + stats["skipped_done"] - n)
               + abs(stats["skipped_done"] - resumed_done))
        chk.add(n, bad, f"{name} resume accounting {stats}, {resumed_done} planted")


class CrawlSubmit(_Extraction):
    """run_extraction into a fresh output directory over the full crawl mix."""

    warmup_passes = 3
    nominal_pass_s = 3.3


class LightResume(_Extraction):
    """A resumed run_extraction over HTML/office/feed documents whose seeded
    half is already in the done manifest; every pass starts from a fresh copy
    of that half-done output directory."""

    nominal_pass_s = 2.5

    def prepare(self) -> None:
        self.base = self.resume_base()
        self.resumed_done = len(self.meta["done_urls"])

    def before_pass(self, out: Path) -> None:
        shutil.copytree(self.base, out)


class CurateDedup(Workload):
    """curate_corpus with near-dup clustering and a per-host quota, written
    out as parquet, over a corpus with planted copies and drift chains."""

    nominal_pass_s = 9.0

    def frame(self):
        return self.spark.read.parquet(self.docs_path)

    def run_pass(self, name: str) -> Pass:
        from gnosis_ocr_spark.plans.curate import curate_corpus

        def body(out: str) -> None:
            curate_corpus(
                self.frame(), url_col="url", max_docs_per_host=HOST_CAP,
                near_dup=True, near_dup_threshold=NEAR_DUP_THRESHOLD,
            ).write.mode("overwrite").parquet(out)

        return self._timed(name, body)

    def work_done(self, name: str, out: Path, stats) -> tuple[int, int]:
        # curation documents are single-page text, so pages == docs here
        n = sum(pq.read_metadata(f).num_rows for f in out.glob("*.parquet"))
        return n, n

    @staticmethod
    def rows(out: Path) -> dict[int, dict]:
        return {r["doc_id"]: r for r in pq.read_table(out).to_pylist()}

    def check(self, passes: list[Pass]) -> Check:
        """Every planted verbatim copy names its original (or the table's
        older copy of the same text) as canonical_id, and every document's
        output row is identical across passes."""
        copies = {int(k): v for k, v in self.meta["copies"].items()}
        chk, first = Check(), None
        for p in passes:
            rows = self.rows(p.out)
            bad = sum(1 for c, o in copies.items() if rows.get(c, {}).get("canonical_id") != o)
            chk.add(len(copies), bad, f"{p.name} planted copies")
            digests = {
                d: hashlib.sha256(repr(sorted(r.items())).encode()).hexdigest()
                for d, r in rows.items()
            }
            if first is None:
                first = digests
                chk.add(self.meta["n_docs"], abs(self.meta["n_docs"] - len(rows)),
                        f"{p.name} row count")
            else:
                ids = first.keys() | digests.keys()
                bad = sum(1 for d in ids if first.get(d) != digests.get(d))
                chk.add(len(ids), bad, f"{p.name} output digest vs first pass")
        return chk

    def planted_recall(self, out: Path) -> float:
        """Share of planted drift-chain members (v2..vk) whose
        near_dup_canonical is their chain's head."""
        rows = self.rows(out)
        members = [(c[0], m) for c in self.meta["chains"] for m in c[1:]]
        hit = sum(1 for head, m in members if rows[m]["near_dup_canonical"] == head)
        return hit / len(members)


WORKLOADS = {
    "crawl_submit": CrawlSubmit,
    "light_resume": LightResume,
    "curate_dedup": CurateDedup,
}
