"""Seeded input generators for the four benchmark parts (see ``workloads``).

Every generator is a pure function of its seed: the same seed gives the same
bytes. The program under test only ever receives what these functions build
(doc rows, WARC files on disk, image blobs); the ground truth each one returns
stays with the benchmark and feeds its output checks.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import random

#: first index of the seeded ``make_synth_doc`` range; indices below it are
#: the 2000-doc slice pinned by ``frozen_golden.BINARY_GOLDEN``, which every
#: ``convert_mix`` run also carries
GOLDEN_N = 2000


def convert_mix_ranges(seed: int, n_docs: int) -> list[tuple[int, int]]:
    """Index ranges of the ``convert_mix`` corpus: the golden slice plus
    ``n_docs`` seeded indices. The seed only offsets the range, so the kind
    mix, the 32 payload variants per binary kind and the mega-doc tail
    (``corpus.MEGA_DOC_EVERY``) are those of ``bench.py``'s corpus."""
    start = GOLDEN_N + seed * n_docs
    return [(0, GOLDEN_N), (start, start + n_docs)]


# ---------------------------------------------------------------------------
# words
# ---------------------------------------------------------------------------

_SYL = ("ba be bi bo bu ka ke ki ko ku la le li lo lu ma me mi mo mu na ne "
        "ni no nu ra re ri ro ru sa se si so su ta te ti to tu za ze zi zo "
        "zu").split()


def _vocab(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct pseudo-words, so random word runs share no shingles."""
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _words(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    return [rng.choice(vocab) for _ in range(n)]


# ---------------------------------------------------------------------------
# crawl_resume: gzip WARC files
# ---------------------------------------------------------------------------

def _gz(data: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0, compresslevel=6) as f:
        f.write(data)
    return buf.getvalue()


def _warc(wtype: str, headers: list[str], block: bytes) -> bytes:
    head = ["WARC/1.0", f"WARC-Type: {wtype}", *headers,
            f"Content-Length: {len(block)}"]
    return ("\r\n".join(head) + "\r\n\r\n").encode() + block + b"\r\n\r\n"


def _page(rng: random.Random, vocab: list[str], kind: str,
          scale: int) -> bytes:
    if kind == "html":
        paras = "".join(
            f"<p>{' '.join(_words(rng, vocab, 14))} "
            f"<em>{rng.choice(vocab)}</em>.</p>"
            for _ in range(rng.randint(3, 8) * scale))
        items = "".join(f"<li>{' '.join(_words(rng, vocab, 3))}</li>"
                        for _ in range(3))
        title = " ".join(_words(rng, vocab, 4))
        return (f"<html><head><title>{title}</title></head><body>"
                f"<h1>{title}</h1>{paras}<ul>{items}</ul></body></html>"
                ).encode()
    if kind == "csv":
        rows = ["name,count,note"] + [
            f"{rng.choice(vocab)},{rng.randint(0, 9999)},"
            f"{' '.join(_words(rng, vocab, 3))}"
            for _ in range(rng.randint(4, 16) * scale)]
        return "\n".join(rows).encode()
    return " ".join(_words(rng, vocab, rng.randint(40, 120) * scale)).encode()


_PAGE_KINDS = (("html", "html", "text/html"), ("txt", "text", "text/plain"),
               ("csv", "csv", "text/csv"))


def write_warc_dir(out_dir: str, seed: int, n_files: int,
                   pages_per_file: int, n_malformed: int,
                   mega_every: int = 50, mega_factor: int = 40) -> dict:
    """Write ``n_files`` gzip WARC files (one gzip member per record, the
    Common Crawl layout) of unique small pages, every ``mega_every``-th page
    ``mega_factor`` times larger. The last ``n_malformed`` files end in a
    record whose block overruns the stream, which the ingest front door
    turns into one ``_drop_warc`` error row per file.

    Returns ``{"pages": {uri: (kind, body)}, "malformed": [file name],
    "bytes": total file bytes}``."""
    rng = random.Random(0x5EED0 + seed)
    vocab = _vocab(rng, 6000)
    os.makedirs(out_dir, exist_ok=True)
    pages: dict[str, tuple[str, bytes]] = {}
    malformed: list[str] = []
    total = 0
    n = 0
    for f in range(n_files):
        name = f"crawl-{seed}-{f:03d}.warc.gz"
        members = [_gz(_warc("warcinfo", ["Content-Type: application/"
                                          "warc-fields"],
                             b"software: perfbench\r\n"))]
        for _ in range(pages_per_file):
            ext, kind, ctype = _PAGE_KINDS[rng.randrange(3)]
            scale = mega_factor if n % mega_every == mega_every - 1 else 1
            uri = f"http://site{rng.randrange(200)}.example/{seed}/p{n}.{ext}"
            body = _page(rng, vocab, kind, scale)
            n += 1
            pages[uri] = (kind, body)
            req = (f"GET {uri} HTTP/1.1\r\n\r\n").encode()
            http = (f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n"
                    ).encode() + body
            members.append(_gz(
                _warc("request", [f"WARC-Target-URI: {uri}",
                                  "Content-Type: application/http;"
                                  "msgtype=request"], req)
                + _warc("response", [f"WARC-Target-URI: {uri}",
                                     "Content-Type: application/http;"
                                     "msgtype=response"], http)))
        if f >= n_files - n_malformed:
            # declares more bytes than follow: the parser salvages the
            # file's valid prefix and reports one truncation
            bad = _warc("response", [f"WARC-Target-URI: http://bad/{f}",
                                     "Content-Type: application/http;"
                                     "msgtype=response"], b"x" * 200)
            bad = bad.replace(b"Content-Length: 200", b"Content-Length: 900")
            members.append(_gz(bad))
            malformed.append(name)
        data = b"".join(members)
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        total += len(data)
    return {"pages": pages, "malformed": malformed, "bytes": total}


# ---------------------------------------------------------------------------
# near_dup: planted clusters, decoys and a boilerplate group
# ---------------------------------------------------------------------------

def shingles(text: str, k: int = 3) -> set[str]:
    """The word k-shingle set ``ops.dedup`` builds (split on single spaces,
    one shingle for docs shorter than k)."""
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}


def jaccard_ppm(a: str, b: str) -> int:
    """Exact word-3-gram Jaccard in parts per million, floored, as
    ``ops.dedup.ngram_jaccard`` reports it."""
    sa, sb = shingles(a), shingles(b)
    return (len(sa & sb) * 1_000_000) // len(sa | sb)


def near_dup_corpus(seed: int, n_background: int = 4000,
                    n_clusters: int = 150, n_decoys: int = 200,
                    n_boilerplate: int = 1200,
                    threshold: float = 0.7) -> dict:
    """Plain-text docs with three planted groups:

    - clusters of 2-4 near-copies (one word substituted per copy), every
      pair of which is at or above ``threshold``; these pairs are the
      ground truth ``minhash_dupes`` must find;
    - decoy pairs sharing a 44-48 word prefix of 60 words (Jaccard about
      0.57 to 0.66), just below ``threshold``;
    - a boilerplate group: an 80-word preamble with 6-word unique tails.
      The preamble holds nearly every min-hash, so each band puts most of
      the group in one bucket, well past ``ops.dedup.MAX_BUCKET``, and the
      bucket is dropped. These pairs are near-duplicates too (Jaccard about
      0.87) but the cap makes them unreachable by design, so they are not
      part of the ground truth ``pairs``.

    Returns ``{"docs": [(doc_id, text)], "pairs": {(a, b)}, "decoys":
    {(a, b)}, "boilerplate": {doc_id}}`` with ``a < b``."""
    rng = random.Random(0xD0C5 + seed)
    vocab = _vocab(rng, 20000)
    floor = int(threshold * 1_000_000)
    texts: list[str] = []
    groups: list[list[int]] = []
    decoys: list[tuple[int, int]] = []

    for _ in range(n_background):
        texts.append(" ".join(_words(rng, vocab, rng.randint(40, 90))))
    for c in range(n_clusters):
        base = _words(rng, vocab, rng.randint(60, 90))
        members = []
        for _ in range(2 + c % 3):  # the same pair count for every seed
            copy = list(base)
            copy[rng.randrange(len(copy))] = rng.choice(vocab)
            members.append(len(texts))
            texts.append(" ".join(copy))
        groups.append(members)
    for _ in range(n_decoys):
        base = _words(rng, vocab, 60)
        keep = rng.randint(44, 48)
        other = base[:keep] + _words(rng, vocab, 60 - keep)
        decoys.append((len(texts), len(texts) + 1))
        texts.append(" ".join(base))
        texts.append(" ".join(other))
    preamble = _words(rng, vocab, 80)
    first_bp = len(texts)
    for _ in range(n_boilerplate):
        texts.append(" ".join(preamble + _words(rng, vocab, 6)))

    order = list(range(len(texts)))
    rng.shuffle(order)
    ids = {i: f"nd{seed}-{pos:06d}" for pos, i in enumerate(order)}

    def pair(i: int, j: int) -> tuple[str, str]:
        a, b = ids[i], ids[j]
        return (a, b) if a < b else (b, a)

    pairs = set()
    for members in groups:
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                if jaccard_ppm(texts[i], texts[j]) >= floor:
                    pairs.add(pair(i, j))
    for i, j in decoys:
        if jaccard_ppm(texts[i], texts[j]) >= floor:
            raise AssertionError("decoy pair above the threshold")
    docs = sorted((ids[i], texts[i]) for i in range(len(texts)))
    return {"docs": docs, "pairs": pairs,
            "decoys": {pair(i, j) for i, j in decoys},
            "boilerplate": {ids[i] for i in range(first_bp, len(texts))}}


# ---------------------------------------------------------------------------
# media_decode: encoded images with source pixel digests
# ---------------------------------------------------------------------------

#: the image formats of the set; lossy VP8 WebP is left out on purpose, its
#: decoder is known to return wrong pixels for real streams
IMAGE_FORMATS = ("png", "gif", "jpeg", "pjpeg", "tiff", "bmp", "webp")
#: the image sizes of each format, smallest first. The sizes follow the
#: real images the repository decodes (the GIFs of test.epub run from
#: 174x480 to 644x610, its JPEGs are 631x768 and larger), with a few
#: mid-size crops below them, so per-pixel decoding outweighs per-image cost
SIZES = ((160, 120), (240, 180), (320, 240), (174, 480), (644, 610))
_TIFF_MODES = ("lzw", "deflate", "packbits")
LOSSY = frozenset({"jpeg", "pjpeg"})


def _source_image(rng: random.Random, w: int, h: int):
    """Smooth gradients, a few flat rectangles and light noise: compresses
    like a photo-ish crop, not like white noise."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    a, b, c = (rng.randint(1, 6) for _ in range(3))
    img = np.stack([(x * 255 // max(w - 1, 1) * a) % 256,
                    (y * 255 // max(h - 1, 1) * b) % 256,
                    ((x + y) * c) % 256], -1).astype(np.int32)
    for _ in range(3):
        x0, y0 = rng.randrange(w), rng.randrange(h)
        img[y0:y0 + rng.randint(2, h), x0:x0 + rng.randint(2, w)] = [
            rng.randrange(256) for _ in range(3)]
    noise = np.random.default_rng(rng.randrange(1 << 30)).integers(
        0, 8, img.shape)
    return np.clip(img + noise, 0, 255).astype(np.uint8)


def _graphic_image(rng: random.Random, w: int, h: int):
    """Flat-colour rectangles on a flat background: a logo, diagram or
    screenshot, the content lossless WebP carries on real pages."""
    import numpy as np

    img = np.empty((h, w, 3), dtype=np.uint8)
    img[:] = [rng.randrange(256) for _ in range(3)]
    for _ in range(12):
        x0, y0 = rng.randrange(w), rng.randrange(h)
        img[y0:y0 + rng.randint(4, max(h // 2, 4)),
            x0:x0 + rng.randint(4, max(w // 2, 4))] = [
            rng.randrange(256) for _ in range(3)]
    return img


def media_images(seed: int) -> list[dict]:
    """One image of each :data:`SIZES` entry in each :data:`IMAGE_FORMATS`
    format, sub-modes rotating. The seed picks the pixels; the format and
    size layout is the same for every seed. Each item: ``media_ref``,
    ``fmt``, ``payload``, ``width``, ``height``, ``src_md5`` (md5 of the
    source RGB samples as a lossless decoder must return them) and, for
    lossy formats, ``src`` (the source samples, for the PSNR check)."""
    import numpy as np

    from marky_spark.ops.bmpcodec import bmp_encode
    from marky_spark.ops.gifcodec import gif_encode
    from marky_spark.ops.jpegcodec import jpeg_encode, jpeg_encode_progressive
    from marky_spark.ops.pngcodec import png_encode
    from marky_spark.ops.tiffcodec import tiff_encode
    from marky_spark.ops.webpcodec import webp_encode

    rng = random.Random(0x1A6E + seed)
    out = []
    for fmt in IMAGE_FORMATS:
        for k, (w, h) in enumerate(SIZES):
            img = (_graphic_image if fmt == "webp" else _source_image)(
                rng, w, h)
            px = img.tobytes()
            if fmt == "gif":
                palette = np.array([[rng.randrange(256) for _ in range(3)]
                                    for _ in range(16)], dtype=np.uint8)
                idx = (img[:, :, 0] // 16).astype(np.uint8)
                px = palette[idx].tobytes()
                payload = gif_encode(idx.tobytes(), w, h, palette.tobytes())
            elif fmt == "png":
                payload = png_encode(px, w, h, 3, interlace=(k % 3 == 2))
            elif fmt == "jpeg":
                payload = jpeg_encode(px, w, h, 3, quality=90,
                                      restart_interval=4 * (k % 2))
            elif fmt == "pjpeg":
                payload = jpeg_encode_progressive(px, w, h, 3, quality=90)
            elif fmt == "tiff":
                payload = tiff_encode(px, w, h, 3,
                                      compression=_TIFF_MODES[k % 3],
                                      predictor=2 if k % 3 == 1 else 1)
            elif fmt == "bmp":
                payload = bmp_encode(px, w, h, 3)
            else:
                # literal-only coding for the smallest image; run copies
                # for the rest, as real encoders do on flat regions (and
                # without which this encoder takes minutes on them)
                payload = webp_encode(px, w, h, 3,
                                      subtract_green=(k % 2 == 0),
                                      color_cache_bits=4 * (k % 3 == 1),
                                      lz77=k > 0)
            item = {"media_ref": f"img-{seed}-{fmt}-{k:03d}", "fmt": fmt,
                    "payload": payload, "width": w, "height": h,
                    "src_md5": hashlib.md5(px).hexdigest()}
            if fmt in LOSSY:
                item["src"] = px
            out.append(item)
    return out
