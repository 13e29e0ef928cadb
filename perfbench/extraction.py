"""extract_textual_resume: ``run_extraction`` end to end.

Inputs are a ``corpus.make_document`` corpus written to parquet; the
program reads it back with ``read_documents_raw``. Every pass resumes
into its own copy of an out_dir that commits half the docs, writes all
four sinks and is checked: every doc committed exactly once, no doc
failed, every image ``media_ref`` resolvable, and exactly the
uncommitted half re-extracted. A seeded doc sample is compared
span-for-span with the serial ``extract_document`` oracle.

``--seed`` drives the docs the passes extract, except the codec docs:
a handful of pure-Python codec decodes dominate a resume pass, so their
page counts must not swing with the seed. The resume workload's
committed half does not depend on the seed either: it and the out_dir
that commits it (the snapshot) are built once per checkout and program
version, then copied into every run. The codec docs and their serial
spans are cached the same way.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pdf_toolkit_spark.corpus import DOC_CLASSES

SINKS = ("media", "spans", "lineage", "metrics")
COMMITTED_SEED = 0
DOCS_SCHEMA = pa.schema([pa.field("doc_id", pa.string(), False),
                         pa.field("pdf_bytes", pa.binary(), False),
                         pa.field("n_pages", pa.int32(), False)])


@dataclass(frozen=True)
class Corpus:
    profile: str
    n_docs: int
    mega_every: int
    jpeg_every: int

    def is_codec(self, i: int) -> bool:
        return i % self.jpeg_every == 0

    def is_committed(self, i: int) -> bool:
        """The snapshot commits docs 1, 2 (mod 4): half the corpus, and none
        of the codec docs (multiples of ``jpeg_every``) or mega-PDFs (199,
        399, 599), so the passes decode every codec and chunk every
        mega-PDF."""
        return i % 4 in (1, 2)


# 700 docs: every 100th carries a scan codec, so all seven codec slots
# are present. Mega-PDFs are rarer than in the "scan" profile: at one in
# 50, the seven a pass extracted held more pages than its 343 other docs.
CORPUS = Corpus("textual", n_docs=700, mega_every=200, jpeg_every=100)


def doc_index(doc_id: str) -> int:
    return int(doc_id[3:])


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet")) if path.exists() else 0


def sink_bytes(out_dir: Path) -> dict[str, int]:
    return {s: dir_bytes(out_dir / s) for s in SINKS}


def snapshot_key(root: Path, corpus: Corpus) -> str:
    """Changes with the program's source and the corpus definition."""

    h = hashlib.sha256(repr((corpus, COMMITTED_SEED)).encode())
    for f in sorted((root / "pdf_toolkit_spark").rglob("*.py")):
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def make_doc(corpus: Corpus, i: int, seed: int) -> dict:
    """Doc ``i``: codec docs from COMMITTED_SEED, the rest from ``seed``."""

    from pdf_toolkit_spark.corpus import make_document

    return make_document(i, seed=COMMITTED_SEED if corpus.is_codec(i) else seed,
                         mega_every=corpus.mega_every, profile=corpus.profile,
                         jpeg_every=corpus.jpeg_every)


def write_docs(corpus: Corpus, ids: list[int], seed: int, path: Path, prefix: str,
               parts: int, keep=frozenset(), made=None) -> tuple[dict, dict, dict]:
    """Generate docs ``ids`` (or take them from ``made``, by index) and
    write them into ``path`` as ``parts`` parquet files of documents_raw
    rows, split by id range the way ``corpus_dataframe`` splits a corpus
    over its partitions. Returns pages and PDF sizes by doc id, and the
    PDF bytes of the docs in ``keep``."""

    made = made or {}
    path.mkdir(parents=True, exist_ok=True)
    n_pages, pdf_len, kept = {}, {}, {}
    bounds = [len(ids) * k // parts for k in range(parts + 1)]
    for k in range(parts):
        docs = [made[i] if i in made else make_doc(corpus, i, seed)
                for i in ids[bounds[k]:bounds[k + 1]]]
        for d in docs:
            n_pages[d["doc_id"]] = d["n_pages"]
            pdf_len[d["doc_id"]] = len(d["pdf_bytes"])
            if d["doc_id"] in keep:
                kept[d["doc_id"]] = d["pdf_bytes"]
        table = pa.table({"doc_id": [d["doc_id"] for d in docs],
                          "pdf_bytes": [d["pdf_bytes"] for d in docs],
                          "n_pages": [d["n_pages"] for d in docs]}, schema=DOCS_SCHEMA)
        pq.write_table(table, path / f"{prefix}-{k:05d}.parquet")
    return n_pages, pdf_len, kept


class Extraction:
    """Inputs, set-up steps, timed passes and checks for one workload."""

    def __init__(self, name: str, seed: int, work: Path, state: Path, root: Path) -> None:
        self.corpus = CORPUS
        self.seed = seed
        self.work = work
        self.corpus_path = work / "corpus"
        self.snapshot = state / f"snapshot-{name}-{snapshot_key(root, self.corpus)}"
        self.n_runs = 0
        c = self.corpus
        self.doc_ids = [f"doc{i:06d}" for i in range(c.n_docs)]
        self.committed = {d for d in self.doc_ids if c.is_committed(doc_index(d))}
        self.todo = [d for d in self.doc_ids if d not in self.committed]
        self.sample_ids = self.sample()

    # -- inputs (untimed) --------------------------------------------------
    def prepare(self, parts: int) -> None:
        """Generate the seeded docs to extract, then the serial oracle's
        spans for the sample. Runs while the JVM starts."""

        codec_docs, codec_spans = self.codec_docs()
        ids = [doc_index(d) for d in self.todo]
        self.n_pages, self.pdf_len, self.sample_pdfs = write_docs(
            self.corpus, ids, self.seed, self.corpus_path, "todo", parts,
            keep=frozenset(self.sample_ids), made=codec_docs)
        seeded, _, _ = self.serial_spans([d for d in self.sample_ids if d not in codec_spans])
        self.expected = {**codec_spans, **seeded}

    def codec_docs(self) -> tuple[dict, dict]:
        """The codec docs by index, and their serial spans by doc id. Both
        are most of the input work and do not depend on the seed, so they
        are built once per checkout and program version, like the
        snapshot."""

        from pdf_toolkit_spark.corpus import corpus_config
        from pdf_toolkit_spark.extract import extract_document

        cache = self.snapshot.with_name(f"{self.snapshot.name}-codec-docs.pkl")
        if cache.exists():
            return pickle.loads(cache.read_bytes())
        c = self.corpus
        docs = {i: make_doc(c, i, self.seed) for i in range(0, c.n_docs, c.jpeg_every)}
        spans = {d["doc_id"]: extract_document(d["pdf_bytes"], corpus_config())["spans"]
                 for d in docs.values()}
        cache.parent.mkdir(parents=True, exist_ok=True)
        tmp = cache.with_name(f"{cache.name}.tmp{os.getpid()}")
        tmp.write_bytes(pickle.dumps((docs, spans)))
        tmp.rename(cache)
        return docs, spans

    def add_committed(self, spark, parts: int) -> bool:
        """Put the committed half into the input, after building it and
        the snapshot that commits it with a fresh ``run_extraction`` if
        this checkout has none yet. Returns whether it built one."""

        from pdf_toolkit_spark.corpus import corpus_config
        from pdf_toolkit_spark.spark.input import read_documents_raw
        from pdf_toolkit_spark.spark.job import run_extraction

        built = not self.snapshot.exists()
        if built:
            tmp = self.snapshot.with_name(f"{self.snapshot.name}.tmp{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            ids = [doc_index(d) for d in sorted(self.committed)]
            write_docs(self.corpus, ids, COMMITTED_SEED, tmp / "committed", "committed", parts)
            run_extraction(spark, read_documents_raw(spark, str(tmp / "committed")),
                           corpus_config(), out_dir=str(tmp / "out"), run_id="snapshot")
            tmp.rename(self.snapshot)
        for f in (self.snapshot / "committed").iterdir():
            shutil.copy(f, self.corpus_path / f.name)
        return built

    # -- set-up steps (timed as setup_s) -----------------------------------
    def warm_up(self, spark) -> None:
        """A small job over the input (listing, footer and scan). The
        first full pass after set-up is reported on its own as cold_s."""

        from pdf_toolkit_spark.spark.input import read_documents_raw

        read_documents_raw(spark, str(self.corpus_path)).select("doc_id", "n_pages").count()

    def restore(self) -> Path:
        """A fresh copy of the half-committed snapshot."""

        out = self.work / "out"
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.snapshot / "out", out)
        return out

    # -- one timed pass ----------------------------------------------------
    def run_pass(self, spark, out: Path) -> dict:
        from pdf_toolkit_spark.corpus import corpus_config
        from pdf_toolkit_spark.spark.input import read_documents_raw
        from pdf_toolkit_spark.spark.job import run_extraction

        before = sink_bytes(out)
        self.n_runs += 1
        t0 = time.perf_counter()
        result = run_extraction(spark, read_documents_raw(spark, str(self.corpus_path)),
                                corpus_config(), out_dir=str(out),
                                run_id=f"pass{self.n_runs}", resume=True)
        wall = time.perf_counter() - t0
        after = sink_bytes(out)
        return {"wall_s": wall, "metrics": result.metrics,
                "sink_bytes": {s: after[s] - before[s] for s in SINKS}}

    # -- checks ------------------------------------------------------------
    def check_pass(self, out: Path, res: dict) -> tuple[int, dict]:
        """Failed-doc count for one pass, plus its exact resume counts."""

        m = res["metrics"]
        spans = pq.read_table(out / "spans", columns=["doc_id", "spans"])
        ids = spans.column("doc_id").to_pylist()
        counts: dict[str, int] = {}
        for d in ids:
            counts[d] = counts.get(d, 0) + 1
        expected = set(self.doc_ids)
        bad = {d for d in expected if counts.get(d, 0) != 1}
        extra = set(counts) - expected
        media_refs = pq.read_table(out / "media", columns=["media_ref"]).column("media_ref")
        media = set(media_refs.to_pylist())
        new_refs: set[str] = set()
        for doc_id, doc_spans in zip(ids, spans.column("spans").to_pylist()):
            refs = {s["media_ref"] for s in doc_spans if s["kind"] == "image"}
            if not refs <= media:
                bad.add(doc_id)
            if doc_id not in self.committed:
                new_refs |= refs
        failed = len(bad | extra) + int(m["docs_failed"])
        if m["docs_processed"] != len(self.todo):
            failed += abs(len(self.todo) - m["docs_processed"])
        docs_skipped = len(self.doc_ids) - m["docs_processed"] - m["docs_failed"]
        if docs_skipped != len(self.committed):
            failed += abs(docs_skipped - len(self.committed))
        want_pages = sum(self.n_pages[d] for d in self.todo)
        if m["pages_parsed"] != want_pages:
            print(f"[perfbench] pages_parsed {m['pages_parsed']} != {want_pages}")
            failed += 1
        snapshot_media = pq.read_table(self.snapshot / "out" / "media",
                                       columns=["media_ref"]).num_rows
        lineage = pq.read_table(out / "lineage", columns=["run_id", "doc_id"],
                                filters=pc.field("run_id") == m["run_id"])
        # docs this pass extracted that have no lineage row from it: a known
        # program defect, reported but not counted (README.md, "Known defect")
        missing = len(set(self.todo) - set(lineage.column("doc_id").to_pylist()))
        if missing:
            print(f"[perfbench] known defect: {missing} extracted docs have no lineage row")
        exact = {
            "resume.docs_skipped": docs_skipped,
            "resume.media_refs_skipped": len(new_refs) - (len(media_refs) - snapshot_media),
            "sink.lineage.docs_missing": missing,
        }
        return failed, exact

    def sample(self) -> list[str]:
        """Seeded, from the docs the passes extract: every codec doc, one
        mega-PDF and one doc of each class."""

        rng = np.random.default_rng([self.seed, 7])
        c = self.corpus
        mega = [d for d in self.todo
                if doc_index(d) % c.mega_every == c.mega_every - 1]
        codec = [d for d in self.todo if c.is_codec(doc_index(d))]
        plain = [d for d in self.todo if d not in mega and d not in codec]
        picks = set(codec)
        picks.add(mega[int(rng.integers(len(mega)))])
        for k in range(len(DOC_CLASSES)):
            members = [d for d in plain if doc_index(d) % len(DOC_CLASSES) == k]
            picks.add(members[int(rng.integers(len(members)))])
        return sorted(picks)

    def serial_spans(self, ids=None, tracer=None) -> tuple[dict, int, float]:
        """The serial oracle over the sample, or the docs ``ids`` of it:
        (spans by doc id, pages, seconds), optionally under a
        :class:`serial_trace.Tracer`."""

        from pdf_toolkit_spark.corpus import corpus_config
        from pdf_toolkit_spark.extract import extract_document

        cfg = corpus_config()
        spans, pages = {}, 0
        t0 = time.perf_counter()
        with tracer if tracer is not None else contextlib.nullcontext():
            for doc_id in self.sample_ids if ids is None else ids:
                got = extract_document(self.sample_pdfs[doc_id], cfg)
                spans[doc_id] = got["spans"]
                pages += got["n_pages"]
        return spans, pages, time.perf_counter() - t0

    def sample_mismatches(self, out: Path, expected: dict) -> int:
        """Sampled docs whose committed spans differ from ``expected``."""

        got = pq.read_table(out / "spans", columns=["doc_id", "spans"],
                            filters=pc.field("doc_id").isin(list(expected)))
        got_by_id = dict(zip(got.column("doc_id").to_pylist(), got.column("spans").to_pylist()))
        bad = [d for d, want in expected.items() if got_by_id.get(d) != want]
        for doc_id in bad:
            print(f"[perfbench] span mismatch on {doc_id}")
        return len(bad)


def pass_layers(log, tag: str) -> dict[str, float]:
    """Per-layer Spark numbers for the stages of one tagged pass.

    The UDF stage is the one computing MapInPandas outside any sink
    execution (with AQE the cached records relation is built in a query
    stage of its own). Stages of that execution submitted before it feed
    it: the input scan and the resume anti-join. A sink execution that
    recomputes the records relation is charged to that sink."""

    from eventlog import summarize

    stages = log.select(**{"perfbench.pass": tag})
    udf_stages = [s for s in stages if s.runs_udf and log.sink_of(s) is None]
    first_udf = min((s.stage_id for s in udf_stages), default=-1)
    udf_exec = {s.execution for s in udf_stages}
    anti = [s for s in stages if s.execution in udf_exec and s.stage_id < first_udf]
    by_sink: dict[str, list] = {}
    for s in stages:
        by_sink.setdefault(log.sink_of(s) or "", []).append(s)
    udf, spans = summarize(udf_stages), summarize(by_sink.get("spans", []))
    media = summarize(by_sink.get("media", []))
    return {
        "spark.job.udf.busy_s": udf["busy_s"],
        "spark.job.udf.tasks": udf["tasks"],
        "spark.job.udf.max_task_share": udf["max_task_share"],
        "spark.job.udf.gc_ms": udf["gc_ms"],
        "spark.job.spans.busy_s": spans["busy_s"],
        "spark.job.spans.tasks": spans["tasks"],
        "spark.job.spans.max_task_share": spans["max_task_share"],
        "spark.job.spans.shuffle_bytes": spans["shuffle_bytes"],
        "sink.media.busy_s": media["busy_s"],
        "sink.media.shuffle_bytes": media["shuffle_bytes"],
        "sink.lineage.busy_s": summarize(by_sink.get("lineage", []))["busy_s"],
        "sink.metrics.busy_s": summarize(by_sink.get("metrics", []))["busy_s"],
        "spark.job.records.persist_bytes": sum(log.cached.get(tag, {}).values()),
        "spark.stages.spill_bytes": summarize(stages)["spill_bytes"],
        "resume.anti_join_busy_s": summarize(anti)["busy_s"],
    }
