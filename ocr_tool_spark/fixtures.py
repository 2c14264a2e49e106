"""Deterministic synthetic corpus generator (FIXTURES.md §1, seed 42).

Generates the pipeline *input* only — the interleaved document table and
the media_store raster table. Expected outputs are never stored: tests
compute them on the fly with the executable reference spec
(tests/refspec.py), which keeps the oracle and the corpus independent.

Three fixture families (BASELINE.json:6) plus a skew tail:
- HTML boilerplate docs: main paragraphs wrapped in nav/header/footer/
  aside/link-farm/script/style/comment boilerplate, nested tables,
  HTML entities, short rescued captions;
- multi-column PDF docs: one 'pdf:*' media span, 2-3 column pages with
  figure blobs and a known reading order;
- mixed docs: 2-16 interleaved text+media spans;
- skew tail: the first ~1% of docs carry ~19 media spans each, so the
  top 1% of docs hold ~30% of all media spans (exercises salting).

Everything derives from random.Random(seed ^ item_index) so any prefix
of the corpus is stable under corpus-size changes.
"""

from __future__ import annotations

import random

import numpy as np

from ocr_tool_spark.constants import KIND_MEDIA, KIND_TEXT, MEDIA_KIND_IMAGE, MEDIA_KIND_PDF
from ocr_tool_spark.functions.glyphs import render_block, render_figure, render_page

_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_WORDS_LOWER = (
    "data span pipeline column extraction batch shuffle density content "
    "article paragraph signal window table record stream layout page "
    "engine driver metric lineage snapshot partition salt vector token"
).split()


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_LETTERS) for _ in range(rng.randint(2, 7)))


def _ocr_line(rng: random.Random, max_chars: int) -> str:
    words = []
    length = 0
    while True:
        w = _word(rng)
        if rng.random() < 0.15:
            w += rng.choice(".,-")
        if length + len(w) + (1 if words else 0) > max_chars:
            break
        words.append(w)
        length += len(w) + 1
    return " ".join(words) if words else _word(rng)[:max_chars]


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS_LOWER) for _ in range(n_words))


# --------------------------------------------------------------------------
# Media store
# --------------------------------------------------------------------------


def _gen_text_block(rng: random.Random, n_lines: int, width: int) -> np.ndarray:
    return render_block([_ocr_line(rng, width) for _ in range(n_lines)])


def _gen_page(rng: random.Random, n_cols: int, heavy: bool = False) -> np.ndarray:
    # heavy: realistic scanned-page density (bench corpus) vs the small
    # pages the correctness fixtures use
    n_blocks = (4, 8) if heavy else (1, 3)
    n_lines = (6, 16) if heavy else (1, 4)
    line_w = (18, 30) if heavy else (8, 12)
    cols = []
    for _ in range(n_cols):
        blocks = []
        for _ in range(rng.randint(*n_blocks)):
            if rng.random() < 0.15:
                blocks.append(render_figure(rng.randint(12, 24), rng.randint(20, 48)))
            else:
                blocks.append(_gen_text_block(rng, rng.randint(*n_lines), rng.randint(*line_w)))
        cols.append(blocks)
    return _gen_page_pad(_page := render_page(cols))


def _gen_page_pad(page: np.ndarray) -> np.ndarray:
    return page


def gen_media_store(n_media: int, seed: int = 42, heavy: bool = False) -> list[dict]:
    """n_media raster payloads; ~40% multi-page multi-column PDFs."""
    out = []
    for i in range(n_media):
        rng = random.Random((seed << 20) ^ (0xA11CE + i))
        is_pdf = rng.random() < 0.4
        if is_pdf:
            n_pages = rng.randint(1, 3)
            pages = [_gen_page(rng, rng.randint(2, 3), heavy) for _ in range(n_pages)]
            ref = f"pdf:{i:05d}"
            kind = MEDIA_KIND_PDF
        else:
            n_pages = 1
            pages = [_gen_page(rng, 1, heavy)]
            ref = f"img:{i:05d}"
            kind = MEDIA_KIND_IMAGE
        h = max(p.shape[0] for p in pages)
        w = max(p.shape[1] for p in pages)
        stack = np.zeros((n_pages, h, w), dtype=np.uint8)
        for p_idx, p in enumerate(pages):
            stack[p_idx, : p.shape[0], : p.shape[1]] = p
        out.append(
            {
                "media_ref": ref,
                "media_kind": kind,
                "width": w,
                "height": h,
                "n_pages": n_pages,
                "bitmap": stack.tobytes(),
            }
        )
    return out


# --------------------------------------------------------------------------
# HTML documents
# --------------------------------------------------------------------------


def _link_list(rng: random.Random, n: int) -> str:
    return "".join(
        f'<li><a href="#{i}">{rng.choice(_WORDS_LOWER)} {rng.choice(_WORDS_LOWER)}</a></li>'
        for i in range(n)
    )


def _main_para(rng: random.Random) -> str:
    s = _sentence(rng, rng.randint(8, 30))
    if rng.random() < 0.3:
        s += " &amp; " + _sentence(rng, rng.randint(4, 10))
    if rng.random() < 0.2:
        s = s.replace(" ", " &#32;", 1)
    if rng.random() < 0.3:
        words = s.split(" ")
        k = rng.randrange(len(words))
        words[k] = f"<em>{words[k]}</em>"
        s = " ".join(words)
    return s


def gen_html(rng: random.Random, heavy: bool = False) -> str:
    # heavy: realistic web-page size (~4-10 KB) for bench corpora
    n_paras = (12, 28) if heavy else (2, 6)
    paras = [f"<p>{_main_para(rng)}</p>" for _ in range(rng.randint(*n_paras))]
    if rng.random() < 0.5 and len(paras) >= 2:
        cap = " ".join(rng.choice(_WORDS_LOWER) for _ in range(2))
        paras.insert(rng.randint(1, len(paras) - 1), f"<p>{cap}</p>")
    body = [
        f"<header><h1>{_sentence(rng, 3)}</h1><span>{_sentence(rng, 2)}</span></header>",
        f"<nav><ul>{_link_list(rng, rng.randint(3, 8))}</ul></nav>",
        "<div>",
        *paras,
    ]
    if rng.random() < 0.6:
        body.append(f"<div><ul>{_link_list(rng, rng.randint(4, 10))}</ul></div>")
    if rng.random() < 0.5:
        body.append(
            f"<table><tr><td>{_sentence(rng, rng.randint(6, 16))}</td>"
            f"<td>{_sentence(rng, rng.randint(6, 16))}</td></tr></table>"
        )
    body.append("</div>")
    if rng.random() < 0.6:
        body.append(f"<script>var x = 1 < 2 && {rng.randint(0, 99)};</script>")
    if rng.random() < 0.4:
        body.append(f"<style>.c{rng.randint(0, 9)} {{ color: red }}</style>")
    if rng.random() < 0.5:
        body.append(f"<!-- comment {_sentence(rng, 3)} -->")
    body.append(f"<aside><ul>{_link_list(rng, rng.randint(3, 6))}</ul></aside>")
    body.append(f"<footer><p>copyright &amp; {_sentence(rng, 4)}</p></footer>")
    return "<html><body>" + "".join(body) + "</body></html>"


# --------------------------------------------------------------------------
# Interleaved documents
# --------------------------------------------------------------------------


def _span(kind: str, text: str | None, media_ref: str | None, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def gen_corpus(
    n_docs: int,
    n_media: int | None = None,
    seed: int = 42,
    heavy: bool = False,
) -> tuple[list[dict], list[dict]]:
    """Returns (documents_interleaved, media_store) as plain dicts.
    heavy=True generates realistic web-scale document sizes (bench)."""
    if n_media is None:
        n_media = max(16, n_docs // 8)
    media = gen_media_store(n_media, seed=seed, heavy=heavy)
    refs = [m["media_ref"] for m in media]
    n_skew = max(1, n_docs // 100)
    docs = []
    for i in range(n_docs):
        rng = random.Random((seed << 20) ^ (0xD0C + i * 7919))
        spans: list[dict] = []
        if i < n_skew:
            # skew tail: media-heavy doc (~19 media spans + a few text spans)
            n_media_spans = rng.randint(14, 24)
            n_text = rng.randint(1, 3)
            slots = [KIND_MEDIA] * n_media_spans + [KIND_TEXT] * n_text
            rng.shuffle(slots)
        else:
            fam = i % 10
            if fam < 5:
                slots = [KIND_TEXT] * rng.randint(1, 3)
            elif fam < 8:
                n_spans = rng.randint(2, 8)
                slots = [KIND_MEDIA if rng.random() < 0.45 else KIND_TEXT for _ in range(n_spans)]
            elif fam == 8:
                slots = [KIND_MEDIA]
            else:
                slots = [KIND_TEXT, KIND_MEDIA, KIND_TEXT]
        for off, kind in enumerate(slots):
            if kind == KIND_TEXT:
                spans.append(_span(KIND_TEXT, gen_html(rng, heavy), None, off))
            else:
                spans.append(_span(KIND_MEDIA, None, rng.choice(refs), off))
        docs.append({"doc_id": f"doc-{i:06d}", "spans": spans})
    return docs, media
