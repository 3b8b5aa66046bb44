"""Test oracle for the fix suite's order-free prefix: the per-block MBlock
forms of remove_nodes_conf, remove_empty_boxes, delimiter typing and
text_bound_box_fix, a per-word ``to_mutable``, and the full ``clean_doc``
sequence built from them.  Production runs the four rules as
whole-document masks (``kernels.fix._masked_rules``); these loops are the
parity baseline it is checked against."""

from __future__ import annotations

from osdocr_spark.kernels import fix as FX
from osdocr_spark.kernels.analyzer import analyze_text
from osdocr_spark.kernels.doc import Document
from osdocr_spark.kernels.fix import MBlock, MWord


def to_mutable(doc: Document) -> list[MBlock]:
    """One MWord per word, block by block (``words_of`` order)."""
    blocks = []
    for bi in range(doc.n_blocks()):
        words = [MWord(list(map(int, doc.w_box[i])), int(doc.w_conf[i]), doc.w_text[i],
                       int(doc.w_par[i]), int(doc.w_line[i]), bool(doc.w_link[i]))
                 for i in doc.words_of(bi)]
        blocks.append(MBlock(int(doc.b_id[bi]), doc.b_type[bi],
                             list(map(int, doc.b_box[bi])), words))
    return blocks


def remove_nodes_conf(blocks: list[MBlock], conf: int = 10) -> list[MBlock]:
    """Delete words below the confidence threshold
    (``OCR_Tree.remove_nodes_conf``, ``ocr_tree.py:1271-1285``)."""
    for b in blocks:
        b.words = [w for w in b.words if w.conf >= conf]
    return blocks


def remove_empty_boxes(blocks: list[MBlock], page_box: list, conf: int = 10,
                       find_delimiters: bool = True, find_images: bool = True) -> list[MBlock]:
    """Drop empty blocks; always drop empty blocks covering ≥80% of the page
    area; keep delimiters and (optionally) images
    (``remove_empty_boxes``, ``ocr_tree_fix.py:17-57``)."""
    page_area = max((page_box[1] - page_box[0]) * (page_box[3] - page_box[2]), 1)
    out = []
    for b in blocks:
        if b.is_empty(conf=conf, only_text=True):
            area = (b.box[1] - b.box[0]) * (b.box[3] - b.box[2])
            if area >= page_area * 0.8:
                continue
            if b.aspect_delimiter(conf=conf, only_type=not find_delimiters):
                out.append(b)
                continue
            if not find_images and b.is_image(conf=conf, only_type=True):
                out.append(b)
                continue
            continue
        out.append(b)
    return out


def type_delimiters(blocks: list[MBlock], conf: int = 10) -> list[MBlock]:
    """Untyped empty blocks with a ≥4:1 aspect become delimiters."""
    for b in blocks:
        if b.type is None and b.aspect_delimiter(conf=conf):
            b.type = "delimiter"
    return blocks


def text_bound_box_fix(blocks: list[MBlock], conf: int = 10) -> list[MBlock]:
    """Shrink each text block's box to the hull of its confident words
    (``text_bound_box_fix``, ``ocr_tree_fix.py:211-256``; only shrinks,
    never grows)."""
    for b in blocks:
        h = b.hull(conf=conf)
        if h is None:
            continue
        b.box = [max(b.box[0], h[0]), min(b.box[1], h[1]),
                 max(b.box[2], h[2]), min(b.box[3], h[3])]
    return blocks


def prefix(doc: Document, conf: int = 10) -> list[MBlock]:
    """The four order-free rules, one block list pass each."""
    blocks = to_mutable(doc)
    if doc.n_blocks():
        page_box = [int(doc.b_box[:, 0].min()), int(doc.b_box[:, 1].max()),
                    int(doc.b_box[:, 2].min()), int(doc.b_box[:, 3].max())]
    else:
        page_box = [0, 1, 0, 1]
    blocks = remove_nodes_conf(blocks, conf=conf)
    blocks = remove_empty_boxes(blocks, page_box, conf=conf)
    blocks = type_delimiters(blocks, conf=conf)
    return text_bound_box_fix(blocks, conf=conf)


def clean_doc(doc: Document, conf: int = 10) -> Document:
    """The whole fix suite with the MBlock prefix and the full analysis."""
    avg = analyze_text(doc, conf=conf).get("average_word_distance", 0.0)
    blocks = prefix(doc, conf=conf)
    blocks = FX.split_whitespaces(blocks, avg, conf=conf)
    blocks = FX.delimiters_fix(blocks, conf=conf)
    blocks = FX.block_bound_box_fix(blocks, conf=conf)
    return FX.to_document(blocks, doc.url)


DOC_COLUMNS = ("w_box", "w_conf", "w_text", "w_block", "w_par", "w_line",
               "w_link", "b_box", "b_id", "b_type")


def doc_diff(a: Document, b: Document) -> list[str]:
    """Names of the Document columns on which ``a`` and ``b`` differ
    (shape, dtype kind or any value)."""
    out = []
    for c in DOC_COLUMNS:
        x, y = getattr(a, c), getattr(b, c)
        if x.shape != y.shape or x.dtype != y.dtype or x.tolist() != y.tolist():
            out.append(c)
    return out


def snap(blocks: list[MBlock]) -> list[tuple]:
    """A block list as plain values (ids, types, boxes, every word field)."""
    return [(b.id, b.type, list(b.box),
             [(list(w.box), w.conf, w.text, w.par, w.line, w.link) for w in b.words])
            for b in blocks]

