"""Seeded input corpora for the benchmark, with their golden outputs.

Pages are rendered from known text with ``render.render_page`` and
encoded with the package's own codec encoders, so every document's
expected output span sequence is exact ground truth. Nothing here reads
the test fixtures: a change to them cannot change the benchmark inputs.

Two corpora:

- ``scan_mix(seed)``: documents interleaving text spans with 1-6 media
  spans plus a few multi-page volumes; pages hold 1-5 lines, about three
  in four are skewed, warped or both, most carry furniture (margin rule,
  header rule, page-number blob) or a caption; PNG.
- ``pecha_g4(seed)``: multi-page volumes of clean scans, 6-10 long lines
  per page, no skew or warp; bilevel TIFF G4.

``scan_mix`` pages are drawn from that description without regard to how
the page kernel reads them, and the kernel misreads some of them (see
README.md, "Known faults"). So that the number of documents it breaks is
the same for every seed, the page images and their grouping into
documents come from a fixed draw (``PAGE_SEED``); the seed draws the
document and page ids (and with them Spark's hash partitioning and the
job's buckets), the order of documents and pages, and the text spans
between the pages. ``FAULT_PAGES`` add two fixed documents that always
show the named empty-line fault.
"""

from __future__ import annotations

import random

from ocr_inference_spark.glyphs import line_pixel_width
from ocr_inference_spark.imgcodec import png_encode, tiff_encode
from ocr_inference_spark.render import PAGE_MARGIN, render_page

WORDS = (
    "om mani padme hum lama yoga sutra tantra volume folio leaf line "
    "scan ink paper script block print bdrc lhasa derge narthang 108 "
    "chapter verse root text commentary 1 2 3 17 42 0 99 catalogue"
).split()

PAGE_SEED = 0  # the scan_mix page images, whatever the seed
N_SCAN_DOCS = 150  # documents, volumes included
SCAN_VOLUME_PAGES = (12, 16, 20)  # the multi-page volumes
N_PECHA_VOLUMES = 20
PECHA_VOLUME_PAGES = [4, 5, 6, 7, 8]

# (lines, render kwargs) of two pages on which the kernel returns an
# extra empty line; each is a document of its own in every scan corpus
FAULT_PAGES = (
    (["scan 0"], {"noise": True, "caption": True, "warp_amp": 36, "warp_period": 84}),
    (
        ["row 42"],
        {"noise": True, "skew_deg": 0.9803896214402682, "warp_amp": 46, "warp_period": 84},
    ),
)


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _scan_style(rng: random.Random, lines: list[str]) -> dict:
    """Render kwargs: clean, skewed, warped, or skewed and warped in equal
    shares; furniture rules on ~80% of pages, captions on ~35%."""
    style = rng.randint(0, 3)
    kw: dict = {"noise": rng.random() < 0.8, "caption": rng.random() < 0.35}
    if style in (1, 3):
        kw["skew_deg"] = rng.uniform(0.8, 3.5) * rng.choice((-1, 1))
    if style in (2, 3):
        width = max(line_pixel_width(len(t)) for t in lines) + 2 * PAGE_MARGIN
        kw["warp_amp"] = rng.randint(36, 52)
        kw["warp_period"] = rng.choice((width, (2 * width) // 3, width // 2))
    return kw


def _dealt(rng: random.Random, values: list[int], n: int) -> list[int]:
    """``n`` values cycling through ``values``, in seeded order: every
    seed gets the same counts of each value, so the amount of work is the
    same for every seed and only its arrangement and text differ."""
    out = (values * (n // len(values) + 1))[:n]
    rng.shuffle(out)
    return out


def _ids(rng: random.Random, prefix: str, n: int) -> list[str]:
    ids: set[str] = set()
    while len(ids) < n:
        ids.add(f"{prefix}_{rng.getrandbits(40):010x}")
    out = sorted(ids)
    rng.shuffle(out)
    return out


class Corpus:
    """Documents and pages as the tables' rows, and each document's golden
    (kind, text, media_ref) span list."""

    def __init__(self) -> None:
        self.documents: list[dict] = []
        self.pages: list[dict] = []
        self.golden: dict[str, list[tuple]] = {}

    def page(self, ref: str, lines: list[str], kw: dict, encode) -> str:
        img = render_page(lines, **kw)
        self.pages.append(
            {"media_ref": ref, "content": encode(img),
             "width": int(img.shape[1]), "height": int(img.shape[0])}
        )
        return ref

    def document(self, doc_id: str, items: list) -> None:
        """items: str (a text span) or (media_ref, lines)."""
        spans, golden = [], []
        for off, it in enumerate(items):
            if isinstance(it, str):
                spans.append({"kind": "text", "text": it, "media_ref": None, "offset": off})
                golden.append(("text", it, None))
            else:
                ref, lines = it
                spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": off})
                golden.append(("media", None, ref))
                golden.extend(("text", line, ref) for line in lines)
        self.documents.append({"doc_id": doc_id, "spans": spans})
        self.golden[doc_id] = golden


def scan_pages() -> list[list[tuple[list[str], dict]]]:
    """The scan documents' pages, (lines, render kwargs) each: the same
    draw for every seed."""
    rng = random.Random(PAGE_SEED)
    n_media = list(SCAN_VOLUME_PAGES) + [
        rng.randint(1, 6) for _ in range(N_SCAN_DOCS - len(SCAN_VOLUME_PAGES))]
    docs = []
    for n in n_media:
        pages = []
        for _ in range(n):
            lines = [_text(rng, 2, 6) for _ in range(rng.randint(1, 5))]
            pages.append((lines, _scan_style(rng, lines)))
        docs.append(pages)
    return docs + [[fault] for fault in FAULT_PAGES]


def scan_mix(seed: int) -> Corpus:
    rng = random.Random(seed)
    b = Corpus()
    docs = scan_pages()
    doc_ids = _ids(rng, "doc", len(docs))
    refs = iter(_ids(rng, "page", sum(map(len, docs))))
    order = list(range(len(docs)))
    rng.shuffle(order)
    for d in order:
        volume = len(docs[d]) > 6
        items: list = []
        for lines, kw in docs[d]:
            if not volume or rng.random() < 0.2:
                items.extend(_text(rng, 3, 10) for _ in range(rng.randint(0, 2)))
            items.append((b.page(next(refs), lines, kw, png_encode), lines))
        b.document(doc_ids[d], items)
    rng.shuffle(b.pages)
    return b


def _g4(img) -> bytes:
    return tiff_encode(img, compression="g4")


def _pecha_volumes(rng: random.Random, b: Corpus, volumes: int, prefix: str) -> None:
    n_pages = _dealt(rng, PECHA_VOLUME_PAGES, volumes)
    n_lines = iter(_dealt(rng, [6, 7, 8, 9, 10], sum(n_pages)))
    for d, n in enumerate(n_pages):
        items: list = [_text(rng, 3, 6)]  # the volume title
        for _ in range(n):
            lines = [_text(rng, 8, 12) for _ in range(next(n_lines))]
            items.append((b.page(f"{prefix}page_{len(b.pages):06d}", lines, {}, _g4), lines))
        b.document(f"{prefix}vol_{d:04d}", items)


def pecha_g4(seed: int) -> Corpus:
    b = Corpus()
    _pecha_volumes(random.Random(seed), b, N_PECHA_VOLUMES, "")
    return b


def pecha_g4_more(seed: int, volumes: int) -> Corpus:
    """``volumes`` more volumes from the same generator and seed, for a
    page sample larger than the job corpus."""
    b = Corpus()
    _pecha_volumes(random.Random(f"{seed}-more"), b, volumes, "more_")
    return b


def golden_spans(golden: list[tuple]) -> list[tuple]:
    """Golden (kind, text, media_ref) list -> output span tuples with
    dense offsets, the shape ``reassemble_spans`` emits."""
    return [(k, t, r, i) for i, (k, t, r) in enumerate(golden)]
