"""The benchmark's workloads and the four parts they are made of.

A part is one engine entry point over seeded inputs of its own:

- ``convert_mix``: the ``make_synth_doc`` span corpus through
  ``convert.convert``;
- ``media_decode``: encoded images through ``ops.multimodal.decode_pixels``;
- ``crawl_resume``: gzip WARCs through ``ingest.docs_from_warc_dir`` and
  ``pipeline.run_convert_job``, crashed mid-job and resumed;
- ``near_dup``: planted near-duplicates through ``ops.dedup.minhash_dupes``.

A workload runs one or more parts in one session, their passes taking turns
(:func:`harness.timed_rounds`). Each part runs alone under its own name; the
benchmark's two workloads are ``crawl_resume`` (the write path) and
``convert_dedup_media`` (the three in-memory parts in turn).

Each part has a ``prepare`` function (seeded input generation in this
process, before any session exists) and a class that loads the inputs into
Spark, gives the warm-up and timed pass, checks the outputs and, when traced,
drains each layer's stage on its own.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd

from . import gen
from .harness import CORES, Timing, Tracer, drain, median, timed_rounds

#: convert_mix size: seeded docs on top of the 2000-doc golden slice; a
#: multiple of ``corpus.MEGA_DOC_EVERY``, so every seed has the same number
#: of mega docs
MIX_DOCS = 10000
#: convert_mix docs re-converted in-process for the span-sequence check
MIX_CHECK_SAMPLE = 3000
#: crawl_resume shape
CRAWL_FILES, CRAWL_PAGES_PER_FILE, CRAWL_MALFORMED = 6, 400, 2
CRAWL_BUCKETS, CRAWL_WAVES, CRAWL_FAIL_AFTER, CRAWL_RESUME_WAVES = 16, 2, 1, 1
#: minimum PSNR (dB) of a decoded JPEG against its source at quality 90
JPEG_PSNR_FLOOR = 30.0
#: minimum share of planted near-duplicate pairs minhash_dupes must find
DUP_RECALL_FLOOR = 0.98
DUP_THRESHOLD = 0.7
#: near_dup background docs (unique text) around the planted groups
DUP_BACKGROUND = 2000
#: media_decode JPEGs re-decoded in-process for the PSNR check
MEDIA_JPEG_CHECKS = 4
#: timed rounds an untimed run makes at least, however long they take: a
#: part's passes still get faster for several passes after the warm-up, so
#: the median of two passes leans on the slower first one, and runs that fit
#: two passes in a slow spell and three otherwise read far apart
MIN_ROUNDS = 3

KERNEL_KINDS = ("pdf", "docx", "epub", "pptx", "xlsx", "html", "csv",
                "ipynb", "text", "interleaved")


@dataclass
class Check:
    """What one part's output checks found."""
    attempted: int             # items whose output was checked
    failed: int                # ... and found missing, duplicated or wrong
    recall: float              # expected outputs found / expected outputs
    bytes_in: int
    bytes_out: int
    ok: bool = True            # part-specific check beyond ``failed``
    extra: dict[str, float] = field(default_factory=dict)   # printed only


@dataclass
class Outcome:
    items: int                 # input items one round finishes
    timing: Timing
    checks: dict[str, Check]
    layers: dict[str, float] = field(default_factory=dict)  # traced run

    @property
    def docs_per_sec(self) -> float:
        return self.items / self.timing.wall

    @property
    def attempted(self) -> int:
        return sum(c.attempted for c in self.checks.values())

    @property
    def failed(self) -> int:
        return sum(c.failed for c in self.checks.values())

    @property
    def ok(self) -> bool:
        return all(c.ok for c in self.checks.values())

    @property
    def recall(self) -> float:
        """The lowest recall of the parts, so that a loss in any shows."""
        return min(c.recall for c in self.checks.values())

    @property
    def bytes_out_per_byte_in(self) -> float:
        return (sum(c.bytes_out for c in self.checks.values())
                / sum(c.bytes_in for c in self.checks.values()))

    @property
    def extra(self) -> dict[str, float]:
        return {k: v for c in self.checks.values() for k, v in c.extra.items()}


def _md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


# span-sequence identity (kind, text, media_ref, order) as one string, built
# the same way in Spark SQL and in Python
_FS, _RS = "\x1f", "\x1e"
_SPANS_JOINED = (
    f"concat_ws('{_RS}', transform(out_spans, s -> concat_ws('{_FS}', "
    "coalesce(s.kind, ''), coalesce(s.text, ''), coalesce(s.media_ref, ''), "
    "cast(s.offset as string))))")


def _spans_md5(spans) -> str:
    return _md5(_RS.join(
        _FS.join((s["kind"] or "", s["text"] or "", s["media_ref"] or "",
                  str(s["offset"]))) for s in spans))


def _kernel_kind(spans) -> str:
    from marky_spark.kernels import MEDIA_KINDS

    kinds = [s["kind"] for s in spans]
    return "interleaved" if any(k in MEDIA_KINDS for k in kinds) else kinds[0]


def _time_kernels(docs: list[tuple[str, list, float]]) -> tuple[dict, float]:
    """Single-thread in-process ``convert_document`` over ``docs``
    ([(doc_id, spans, weight)]): per-kind µs/doc and the mix docs/sec of
    the workload's corpus. ``weight`` is how many corpus docs each timed doc
    stands for, so that a sample which over-represents some docs (the
    mega-doc tail) still gives the corpus's means."""
    from marky_spark.convert import convert_document

    total: Counter = Counter()
    count: Counter = Counter()
    for doc_id, spans, weight in docs:
        t0 = time.perf_counter()
        convert_document(doc_id, spans)
        dt = time.perf_counter() - t0
        kind = _kernel_kind(spans)
        total[kind] += weight * dt
        count[kind] += weight
    per_kind = {f"kernels.us_per_doc.{k}": 1e6 * total[k] / count[k]
                for k in KERNEL_KINDS if count[k]}
    return per_kind, sum(count.values()) / sum(total.values())


def _convert_stages(docs_df, tracer: Tracer) -> dict[str, float]:
    """Drain the three stages of ``convert.convert`` one at a time: the
    scan plus the JVM-side span sort, the same plus an Arrow hand-off to a
    Python function that reads every batch and yields nothing, and the
    whole conversion."""
    from pyspark.sql import functions as F

    from marky_spark.convert import convert

    sorted_df = docs_df.withColumn(
        "spans", F.expr("array_sort(spans, (a, b) -> a.offset - b.offset)"))
    with tracer.span("convert.scan_prep_s"):
        drain(sorted_df)
    with tracer.span("convert.arrow_in_s"):
        drain(sorted_df.mapInPandas(_read_batches, schema="n long"))
    with tracer.span("convert.stage_s"):
        drain(convert(docs_df))
    return {k: tracer.seconds(k) for k in
            ("convert.scan_prep_s", "convert.arrow_in_s", "convert.stage_s")}


def _read_batches(batches):
    for pdf in batches:
        for spans in pdf["spans"]:
            len(spans)
    return iter(())


# ---------------------------------------------------------------------------
# convert_mix
# ---------------------------------------------------------------------------

def convert_mix_prepare(seed: int, work_dir: str) -> dict:
    from marky_spark.corpus import make_synth_doc

    indices = [i for a, b in gen.convert_mix_ranges(seed, MIX_DOCS)
               for i in range(a, b)]
    return {"docs": [make_synth_doc(i) for i in indices], "seed": seed}


class ConvertMix:
    """The span corpus, persisted, through ``convert.convert``. The warm-up
    pass is the checked pass; a timed pass drains the full output."""

    settle = 1  # the first pass after the warm-up is still a fifth slower

    def __init__(self, spark, inp: dict):
        from pyspark.sql import functions as F

        from marky_spark.corpus import MEGA_DOC_EVERY
        from marky_spark.schema import INPUT_SCHEMA

        self.docs = inp["docs"]
        self.items = len(self.docs)
        self.corpus = spark.createDataFrame(
            pd.DataFrame(self.docs, columns=["doc_id", "spans"]),
            INPUT_SCHEMA).repartition(2 * CORES).persist()
        self.bytes_in = self.corpus.select(F.sum(F.expr(  # fills the cache
            "aggregate(spans, 0L, (a, s) -> a + octet_length(coalesce("
            "s.text, '')))"))).first()[0]
        # a seeded sample plus every mega doc is re-converted in-process
        rng = random.Random(inp["seed"])
        self.ref = {d["doc_id"]: d
                    for d in rng.sample(self.docs, MIX_CHECK_SAMPLE)}
        self.mega = {d["doc_id"] for d in self.docs
                     if int(d["doc_id"][4:]) % MEGA_DOC_EVERY == 0
                     and d["doc_id"] != "doc-0000000000"}
        self.ref.update((d["doc_id"], d) for d in self.docs
                        if d["doc_id"] in self.mega)
        self.kernel_docs: list[tuple[str, list, float]] = []

    def warm(self):
        from pyspark.sql import functions as F

        from marky_spark.convert import convert

        return convert(self.corpus).select(
            "doc_id", "status", F.md5("markdown").alias("md5"),
            F.length("markdown").alias("n_chars"),
            F.octet_length("markdown").alias("n_bytes"),
            F.md5(F.expr(_SPANS_JOINED)).alias("spans_md5")).collect()

    def run_pass(self) -> None:
        from marky_spark.convert import convert

        drain(convert(self.corpus))

    def check(self, results: list) -> Check:
        """Every doc exactly once and ok; the golden slice's binary docs
        match their frozen md5s; the sample matches in-process
        ``convert_document`` span for span."""
        from marky_spark.convert import convert_document
        from marky_spark.frozen_golden import BINARY_GOLDEN

        rows = results[0]
        expected = {d["doc_id"] for d in self.docs}
        seen = Counter(r["doc_id"] for r in rows)
        bad = {d for d, c in seen.items() if c != 1 or d not in expected}
        bad |= expected - set(seen)
        golden = {d: (m, c) for entries in BINARY_GOLDEN.values()
                  for d, m, c in entries}
        # corpus docs each sampled doc stands for, in the kernel timing
        weight = ((self.items - len(self.mega))
                  / (len(self.ref) - len(self.mega)))
        bytes_out = 0
        for r in rows:
            d = r["doc_id"]
            bytes_out += r["n_bytes"] or 0
            if r["status"] != "ok" or (d in golden and
                                       golden[d] != (r["md5"], r["n_chars"])):
                bad.add(d)
            if d in self.ref:
                spans = self.ref[d]["spans"]
                want = convert_document(d, spans)
                self.kernel_docs.append(
                    (d, spans, 1.0 if d in self.mega else weight))
                if (want["status"], _md5(want["markdown"]),
                        _spans_md5(want["out_spans"])) != (
                        r["status"], r["md5"], r["spans_md5"]):
                    bad.add(d)
        return Check(attempted=len(expected), failed=len(bad),
                     recall=1 - len(bad) / len(expected),
                     bytes_in=self.bytes_in, bytes_out=bytes_out)

    def layers(self, tracer: Tracer, wall: float) -> tuple[dict, float]:
        layers = _convert_stages(self.corpus, tracer)
        with tracer.span("kernels"):
            per_kind, mix_1t = _time_kernels(self.kernel_docs)
        layers.update(per_kind)
        layers["kernels.mix_1t_docs_per_sec"] = mix_1t
        layers["convert.parallel_efficiency"] = \
            self.items / wall / (CORES * mix_1t)
        return layers, (wall - layers["convert.arrow_in_s"]
                        - self.items / mix_1t / CORES)

    def close(self) -> None:
        self.corpus.unpersist()


# ---------------------------------------------------------------------------
# crawl_resume
# ---------------------------------------------------------------------------

def crawl_resume_prepare(seed: int, work_dir: str) -> dict:
    warc_dir = os.path.join(work_dir, "warc")
    made = gen.write_warc_dir(warc_dir, seed, CRAWL_FILES,
                              CRAWL_PAGES_PER_FILE, CRAWL_MALFORMED)
    made["dir"] = warc_dir
    made["work"] = work_dir
    return made


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def _crawl_cycle(spark, docs, out_dir: str) -> float:
    """Crash the job after its first wave, then resume it. Returns the
    resume's wall."""
    from marky_spark.pipeline import run_convert_job

    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        run_convert_job(spark, docs, out_dir, n_buckets=CRAWL_BUCKETS,
                        waves=CRAWL_WAVES, fail_after_wave=CRAWL_FAIL_AFTER)
        raise AssertionError("the injected failure did not fire")
    except RuntimeError as exc:
        if "injected failure" not in str(exc):
            raise
    t0 = time.perf_counter()
    run_convert_job(spark, docs, out_dir, n_buckets=CRAWL_BUCKETS,
                    waves=CRAWL_RESUME_WAVES)
    return time.perf_counter() - t0


class CrawlResume:
    """A pass is one crash-and-resume cycle of ``run_convert_job`` over the
    WARC directory, and so is the warm-up. A cycle is mostly the fixed cost
    of the jobs' Spark stages, so a warm-up over a smaller crawl would cost
    as much, and it leaves the first full cycle a tenth slower than the
    next."""

    settle = 0

    def __init__(self, spark, inp: dict):
        from marky_spark.ingest import docs_from_warc_dir

        self.spark = spark
        self.inp = inp
        self.docs = docs_from_warc_dir(spark, inp["dir"])
        self.out_dir = os.path.join(inp["work"], "job")
        self.drops = {f"{name}#drop" for name in inp["malformed"]}
        self.items = len(inp["pages"]) + len(self.drops)
        self.kernel_docs: list[tuple[str, list, float]] = []

    def run_pass(self) -> float:
        return _crawl_cycle(self.spark, self.docs, self.out_dir)

    warm = run_pass

    def check(self, results: list) -> Check:
        """The last cycle's committed output: every good page once, ok, of
        its kind and equal to in-process ``convert_document``; every
        malformed file once as a typed drop row; the manifest's count."""
        from pyspark.sql import functions as F

        from marky_spark.convert import convert_document
        from marky_spark.pipeline import SnapshotStore, read_output

        pages = self.inp["pages"]
        rows = read_output(self.spark, self.out_dir).select(
            "doc_id", "status", "conv_kind",
            F.md5("markdown").alias("md5")).collect()
        seen = Counter(r["doc_id"] for r in rows)
        bad = {d for d, c in seen.items() if c != 1}
        found = set()
        for r in rows:
            d = r["doc_id"]
            drop = next((x for x in self.drops if d.endswith("/" + x)), None)
            if drop is not None:
                found.add(drop)
                if (r["status"], r["conv_kind"]) != ("error", "_drop_warc"):
                    bad.add(d)
                continue
            if d not in pages:
                bad.add(d)
                continue
            found.add(d)
            kind, body = pages[d]
            spans = [{"kind": kind, "text": body.decode("utf-8", "replace"),
                      "media_ref": None, "offset": 0}]
            self.kernel_docs.append((d, spans, 1.0))
            want = convert_document(d, spans)
            if (r["status"], r["conv_kind"], r["md5"]) != (
                    "ok", kind, _md5(want["markdown"])):
                bad.add(d)
        expected = set(pages) | self.drops
        bad |= expected - found
        committed = sum(s["stats"]["n_docs"] for s in
                        SnapshotStore(self.out_dir).read()["snapshots"])
        _, bytes_out = _dir_bytes(self.out_dir)
        return Check(attempted=len(expected), failed=len(bad),
                     recall=1 - len(bad) / len(expected),
                     bytes_in=self.inp["bytes"], bytes_out=bytes_out,
                     ok=committed == len(expected),
                     extra={"resume_s": median(results[1:])})

    def layers(self, tracer: Tracer, wall: float) -> tuple[dict, float]:
        from pyspark.sql import functions as F

        from marky_spark.convert import convert
        from marky_spark.pipeline import (
            SnapshotStore,
            run_convert_job,
            skew_balanced,
            with_bucket,
        )

        layers: dict[str, float] = {}
        with tracer.span("ingest.drain_s"):
            ingested = self.docs.persist()
            row = ingested.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("spans")[0]["kind"].startswith("_drop")
                      .cast("int")).alias("drops")).first()
        layers["ingest.records"] = row["n"]
        layers["ingest.drop_rows"] = row["drops"]
        layers.update(_convert_stages(ingested, tracer))
        with tracer.span("pipeline.skew_split_s"):
            balanced = skew_balanced(ingested, CORES * 2)
            per_part = [r["b"] for r in balanced.groupBy(
                F.spark_partition_id().alias("p")).agg(F.sum(F.expr(
                    "aggregate(spans, 0L, (a, s) -> a + "
                    "length(coalesce(s.text, '')))")).alias("b")).collect()]
        layers["pipeline.partition_bytes_max_over_median"] = \
            max(per_part) / median(per_part)
        converted = with_bucket(convert(balanced), CRAWL_BUCKETS).persist()
        converted.count()
        sink = os.path.join(self.inp["work"], "sink")
        with tracer.span("pipeline.sink_write_s"):
            converted.write.mode("overwrite").partitionBy("bucket").parquet(
                sink)
        converted.unpersist()
        files, size = _dir_bytes(sink)
        layers["pipeline.out_files"] = files
        layers["pipeline.out_bytes"] = size

        with tracer.span("pipeline.cycle"):
            resume = _crawl_cycle(self.spark, self.docs, self.out_dir)
        wave_s = [s["stats"]["seconds"]
                  for s in SnapshotStore(self.out_dir).read()["snapshots"]]
        layers["pipeline.resume_s"] = resume
        layers["pipeline.wave_s_p50"] = median(wave_s)
        layers["pipeline.wave_s_max"] = max(wave_s)
        with tracer.span("pipeline.resume_skip_s"):
            again = run_convert_job(self.spark, self.docs, self.out_dir,
                                    n_buckets=CRAWL_BUCKETS,
                                    waves=CRAWL_RESUME_WAVES)
        if again:
            raise AssertionError("a fully committed job ran waves again")
        with tracer.span("kernels"):
            per_kind, mix_1t = _time_kernels(self.kernel_docs)
        ingested.unpersist()
        for name in ("ingest.drain_s", "pipeline.skew_split_s",
                     "pipeline.sink_write_s", "pipeline.resume_skip_s"):
            layers[name] = tracer.seconds(name)
        layers.update(per_kind)
        layers["kernels.mix_1t_docs_per_sec"] = mix_1t
        layers["convert.parallel_efficiency"] = \
            self.items / wall / (CORES * mix_1t)
        return layers, wall - sum(wave_s)

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------

def near_dup_prepare(seed: int, work_dir: str) -> dict:
    return gen.near_dup_corpus(seed, n_background=DUP_BACKGROUND,
                               threshold=DUP_THRESHOLD)


class NearDup:
    """The planted corpus, persisted, through ``minhash_dupes``; every
    pass's pairs are collected and checked."""

    settle = 1  # the second and third passes are still a fifth faster

    def __init__(self, spark, inp: dict):
        self.inp = inp
        self.texts = dict(inp["docs"])
        self.items = len(self.texts)
        self.nd = spark.createDataFrame(
            pd.DataFrame(inp["docs"], columns=["doc_id", "text"]),
            "doc_id string, text string").repartition(2 * CORES).persist()
        self.nd.count()

    def run_pass(self) -> list[tuple[str, str, int]]:
        from marky_spark.ops.dedup import minhash_dupes

        return [(r["doc_a"], r["doc_b"], r["jaccard_ppm"]) for r in
                minhash_dupes(self.nd, threshold=DUP_THRESHOLD).collect()]

    warm = run_pass

    def check(self, results: list) -> Check:
        """Every output pair, of every pass, re-verified exactly in Python;
        every pass returns the same pairs; planted recall above the
        floor."""
        floor = int(DUP_THRESHOLD * 1_000_000)
        bad_docs: set[str] = set()
        for res in results:
            seen = Counter((a, b) for a, b, _ in res)
            for a, b, ppm in res:
                if seen[(a, b)] != 1 or not a < b or ppm < floor \
                        or gen.jaccard_ppm(self.texts[a],
                                           self.texts[b]) != ppm:
                    bad_docs |= {a, b}
        pairs = {(a, b) for a, b, _ in results[-1]}
        recall = len(pairs & self.inp["pairs"]) / len(self.inp["pairs"])
        return Check(
            attempted=self.items, failed=len(bad_docs), recall=recall,
            bytes_in=sum(len(t.encode()) for t in self.texts.values()),
            bytes_out=sum(len(a) + len(b) + 8 for a, b, _ in results[-1]),
            ok=recall >= DUP_RECALL_FLOOR and all(
                {(a, b) for a, b, _ in r} == pairs for r in results))

    def layers(self, tracer: Tracer, wall: float) -> tuple[dict, float]:
        from pyspark.sql import functions as F

        from marky_spark.ops.dedup import (
            minhash_bands,
            minhash_candidate_pairs,
            minhash_signature,
            ngram_jaccard,
        )

        floor = int(DUP_THRESHOLD * 1_000_000)
        stats: dict = {}
        with tracer.span("dedup.signature_s"):
            drain(minhash_signature(self.nd))
        with tracer.span("dedup.bands_s"):
            drain(minhash_bands(self.nd))
        with tracer.span("dedup.candidates_s"):
            pairs = minhash_candidate_pairs(self.nd, drop_stats=stats) \
                .localCheckpoint()
        with tracer.span("dedup.verify_s"):
            verified = ngram_jaccard(self.nd, pairs).where(
                F.col("jaccard_ppm") >= floor).count()
        n_candidates = pairs.count()
        layers = {k: tracer.seconds(k) for k in (
            "dedup.signature_s", "dedup.bands_s", "dedup.candidates_s",
            "dedup.verify_s")}
        layers["dedup.candidate_pairs"] = n_candidates
        layers["dedup.verified_pairs"] = verified
        layers["dedup.verify_yield"] = verified / max(n_candidates, 1)
        layers["dedup.dropped_buckets"] = stats.get("n_dropped_buckets", 0)
        return layers, (wall - layers["dedup.candidates_s"]
                        - layers["dedup.verify_s"])

    def close(self) -> None:
        self.nd.unpersist()


# ---------------------------------------------------------------------------
# media_decode
# ---------------------------------------------------------------------------

def media_decode_prepare(seed: int, work_dir: str) -> dict:
    images = gen.media_images(seed)
    # mix costly formats across tasks, in the same order for every seed so
    # that tasks are as balanced on one seed as on another
    random.Random(0).shuffle(images)
    return {"images": images, "seed": seed}


def _psnr(a: bytes, b: bytes) -> float:
    import numpy as np

    x = np.frombuffer(a, dtype=np.uint8).astype(np.float64)
    y = np.frombuffer(b, dtype=np.uint8).astype(np.float64)
    mse = float(np.mean((x - y) ** 2))
    return 99.0 if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)


class MediaDecode:
    """The image blobs, persisted, through ``decode_pixels``; every pass's
    rows are collected and checked."""

    settle = 0

    def __init__(self, spark, inp: dict):
        self.inp = inp
        self.images = inp["images"]
        self.items = len(self.images)
        self.md = spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(im["media_ref"], "image/" + im["fmt"], im["payload"])
                 for im in self.images], 2 * CORES),
            "media_ref string, mime string, payload binary").persist()
        self.md.count()

    def run_pass(self) -> list[tuple]:
        from marky_spark.ops.multimodal import decode_pixels

        return [(r["media_ref"], r["width"], r["height"], r["channels"],
                 r["pixel_md5"], r["ok"], r["n_pixel_bytes"])
                for r in decode_pixels(self.md).collect()]

    warm = run_pass

    def check(self, results: list) -> Check:
        """Lossless formats reproduce the source pixels; JPEGs keep their
        size, decode in-process to the same samples Spark digested (on the
        last pass) and stay within the PSNR floor of the source."""
        from marky_spark.ops.jpegcodec import jpeg_decode

        by_ref = {im["media_ref"]: im for im in self.images}
        bad: set[str] = set()
        for res in results:
            seen = Counter(r[0] for r in res)
            bad |= {ref for ref, c in seen.items() if c != 1}
            bad |= set(by_ref) - set(seen)
            for ref, w, h, c, md5, ok, n_bytes in res:
                im = by_ref.get(ref)
                if im is None or ok != "ok" or c != 3 \
                        or (w, h) != (im["width"], im["height"]) \
                        or n_bytes != w * h * c \
                        or (im["fmt"] not in gen.LOSSY
                            and md5 != im["src_md5"]):
                    bad.add(ref)
        last = {r[0]: r for r in results[-1]}
        jpegs = [im for im in self.images if im["fmt"] in gen.LOSSY]
        for im in random.Random(self.inp["seed"]).sample(
                jpegs, MEDIA_JPEG_CHECKS):
            _, _, _, px = jpeg_decode(im["payload"])
            row = last.get(im["media_ref"])
            if row is None or hashlib.md5(px).hexdigest() != row[4] \
                    or _psnr(px, im["src"]) < JPEG_PSNR_FLOOR:
                bad.add(im["media_ref"])
        return Check(
            attempted=self.items, failed=len(bad),
            recall=1 - len(bad) / self.items,
            bytes_in=sum(len(im["payload"]) for im in self.images),
            bytes_out=sum(r[6] or 0 for r in results[-1]))

    def layers(self, tracer: Tracer, wall: float) -> tuple[dict, float]:
        """The Spark stage drained once more, then each image decoded
        in-process by its format's public decoder, after one untimed call
        of each decoder."""
        from marky_spark.ops.bmpcodec import bmp_decode
        from marky_spark.ops.gifcodec import gif_decode
        from marky_spark.ops.jpegcodec import jpeg_decode
        from marky_spark.ops.multimodal import decode_pixels
        from marky_spark.ops.pngcodec import png_decode
        from marky_spark.ops.tiffcodec import tiff_decode
        from marky_spark.ops.webpcodec import webp_decode

        decoders = {"png": png_decode, "gif": gif_decode,
                    "jpeg": jpeg_decode, "pjpeg": jpeg_decode,
                    "tiff": tiff_decode, "bmp": bmp_decode,
                    "webp": webp_decode}
        secs: Counter = Counter()
        mpix: Counter = Counter()
        with tracer.span("media.stage"):
            drain(decode_pixels(self.md))
        # each decoder's first call pays one-off set-up; not per-pixel cost
        for fmt in gen.IMAGE_FORMATS:
            smallest = min((im for im in self.images if im["fmt"] == fmt),
                           key=lambda im: im["width"] * im["height"])
            decoders[fmt](smallest["payload"])
        for im in self.images:
            with tracer.span("codec.decode"):
                t0 = time.perf_counter()
                decoders[im["fmt"]](im["payload"])
                secs[im["fmt"]] += time.perf_counter() - t0
            mpix[im["fmt"]] += im["width"] * im["height"] / 1e6
        layers = {f"codec.us_per_mpix.{f}": 1e6 * secs[f] / mpix[f]
                  for f in gen.IMAGE_FORMATS}
        cpu = sum(secs.values())
        layers["media.parallel_efficiency"] = cpu / (CORES * wall)
        return layers, wall - cpu / CORES

    def close(self) -> None:
        self.md.unpersist()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

PARTS = {
    "convert_mix": (convert_mix_prepare, ConvertMix),
    "media_decode": (media_decode_prepare, MediaDecode),
    "crawl_resume": (crawl_resume_prepare, CrawlResume),
    "near_dup": (near_dup_prepare, NearDup),
}

#: workload -> the parts it runs, in turn
WORKLOADS = {
    **{name: (name,) for name in PARTS},
    "convert_dedup_media": ("convert_mix", "near_dup", "media_decode"),
}


def prepare(workload: str, seed: int, work_dir: str) -> dict:
    """Every part's inputs, generated from ``seed``."""
    return {name: PARTS[name][0](seed, work_dir)
            for name in WORKLOADS[workload]}


def run(spark, inputs: dict, seconds: float,
        tracer: Tracer | None) -> Outcome:
    """Load every part, warm each up once (plus the settle passes the
    parts ask for), time rounds of one pass of each for ``seconds`` and at
    least :data:`MIN_ROUNDS` rounds (one round when traced), check every
    part's outputs and, when traced, drain each part's layers."""
    parts = {}
    try:
        for name, inp in inputs.items():
            parts[name] = PARTS[name][1](spark, inp)
        timing = timed_rounds({n: (p.warm, p.run_pass, p.settle)
                               for n, p in parts.items()},
                              0 if tracer else seconds,
                              1 if tracer else MIN_ROUNDS)
        out = Outcome(items=sum(p.items for p in parts.values()),
                      timing=timing,
                      checks={n: p.check(timing.results[n])
                              for n, p in parts.items()})
        if tracer is not None:
            unattributed = 0.0
            with tracer.span("traced_pass"):
                for name, part in parts.items():
                    layers, rest = part.layers(
                        tracer, median(timing.walls[name]))
                    out.layers.update(layers)
                    unattributed += rest
            out.layers["trace.unattributed_s"] = unattributed
        return out
    finally:
        for part in parts.values():
            part.close()
