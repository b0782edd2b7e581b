"""Content-stream text interpreter: PDF drawing ops → positioned text runs.

Implements the text-object subset of the PDF graphics model (BT/ET, text
state, text/line matrices, show operators) plus the CTM stack (q/Q/cm) and
Form XObjects, which is everything needed to recover the text layer of a
digital-born page.

Reference role: equivalent observable output to pdfium's text page
(/root/reference/docling/backend/pypdfium2_backend.py:121-254 consumes
rects+text; we produce runs that layout.py merges the same way).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Iterator, Optional

from .fonts import Font, load_fonts
from .parser import Lexer, PdfPage, Stream

# Latin ligature decomposition (docling-parse parity: the reference's PDF
# goldens carry "fi"/"ffi", never U+FB01/U+FB03 — e.g. 2305.03393v1-pg9.md
# "configuration", "di ffi cult"). Applied at glyph decode so every
# downstream consumer (layout, serializers, chunker) sees decomposed text.
_LIGATURES = str.maketrans(
    {
        0xFB00: "ff",
        0xFB01: "fi",
        0xFB02: "fl",
        0xFB03: "ffi",
        0xFB04: "ffl",
        0xFB05: "ft",
        0xFB06: "st",
    }
)

Matrix = tuple[float, float, float, float, float, float]
IDENTITY: Matrix = (1, 0, 0, 1, 0, 0)


def mmul(a: Matrix, b: Matrix) -> Matrix:
    """a then b (row-vector convention: v' = v·a·b)."""
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (
        a0 * b0 + a1 * b2,
        a0 * b1 + a1 * b3,
        a2 * b0 + a3 * b2,
        a2 * b1 + a3 * b3,
        a4 * b0 + a5 * b2 + b4,
        a4 * b1 + a5 * b3 + b5,
    )


def apply(m: Matrix, x: float, y: float) -> tuple[float, float]:
    return (m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5])


@dataclass
class Run:
    """One shown string fragment in device space (origin bottom-left)."""

    text: str
    x0: float
    y0: float  # baseline start
    x1: float  # advance end
    y1: float
    size: float  # effective font size in device units
    font_key: str


class _TokenStream:
    """Content streams are a flat operand/operator sequence."""

    def __init__(self, data: bytes):
        self.lx = Lexer(data)
        self.data = data

    _OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")

    def tokens(self) -> Iterator:
        lx = self.lx
        n = len(self.data)
        while True:
            lx.skip_ws()
            if lx.pos >= n:
                return
            c = self.data[lx.pos : lx.pos + 1]
            if c in b"/<([" or c in b"+-." or c.isdigit():
                try:
                    yield ("operand", lx.parse_object())
                except Exception:
                    lx.pos += 1
                continue
            m = self._OP_RE.match(self.data, lx.pos)
            if m:
                op = m.group().decode("latin-1")
                lx.pos = m.end()
                if op == "BI":  # inline image: skip to EI
                    e = self.data.find(b"EI", lx.pos)
                    while e > 0 and e + 2 < n and self.data[e + 2 : e + 3] not in (
                        b"", b" ", b"\n", b"\r", b"\t", b"/", b"[", b"<", b"q", b"Q", b"B", b"E", b"S",
                    ):
                        e = self.data.find(b"EI", e + 2)
                    lx.pos = (e + 2) if e >= 0 else n
                    continue
                yield ("op", op)
            else:
                lx.pos += 1


class TextInterpreter:
    def __init__(self, page: PdfPage):
        self.page = page
        self.doc = page.doc
        self.runs: list[Run] = []
        # image-XObject placements: the deterministic analog of the
        # reference's PictureItem clusters (its layout NN groups picture
        # regions; a digital-born PDF already declares them as /Image
        # XObjects placed through the CTM)
        self.pictures: list[dict] = []

    def run(self) -> list[Run]:
        res = self.page.resources()
        try:
            data = self.page.content_bytes()
        except Exception:
            return []
        self._exec(data, res, self._base_ctm(), depth=0)
        return self.runs

    def _base_ctm(self) -> Matrix:
        """Undo /Rotate so downstream geometry is upright (viewer semantics:
        the page is DISPLAYED rotated; mapping content through the inverse
        rotation yields reading-orientation coordinates)."""
        try:
            rot = self.page.rotation()
            x0, y0, x1, y1 = self.page.mediabox()
        except Exception:
            return IDENTITY
        w, h = x1 - x0, y1 - y0
        shift: Matrix = (1, 0, 0, 1, -x0, -y0)
        if rot == 90:
            # device x' = y, y' = w - x  (rotate -90 into upright w×h swap)
            return mmul(shift, (0, -1, 1, 0, 0, w))
        if rot == 180:
            return mmul(shift, (-1, 0, 0, -1, w, h))
        if rot == 270:
            return mmul(shift, (0, 1, -1, 0, h, 0))
        return shift

    # ------------------------------------------------------------ executor
    def _exec(self, data: bytes, resources: dict, base_ctm: Matrix, depth: int) -> None:
        if depth > 8:
            return
        doc = self.doc
        fonts = load_fonts(doc, resources)
        xobjs = doc.resolve(resources.get("XObject")) or {}

        ctm = base_ctm
        stack: list[Matrix] = []
        # text state
        tf: Optional[Font] = None
        tf_key = ""
        size = 0.0
        char_sp = 0.0
        word_sp = 0.0
        hscale = 1.0
        leading = 0.0
        rise = 0.0
        render_mode = 0
        tm: Matrix = IDENTITY
        tlm: Matrix = IDENTITY
        operands: list = []

        def show(raw: bytes) -> None:
            nonlocal tm
            if not isinstance(raw, bytes) or tf is None or size == 0:
                return
            trm = mmul((size * hscale, 0, 0, size, 0, rise), mmul(tm, ctm))
            eff_size = (trm[2] ** 2 + trm[3] ** 2) ** 0.5
            x0, y0 = trm[4], trm[5]
            chars = []
            adv_total = 0.0
            for code, u, w in tf.iter_codes(raw):
                adv = (w / 1000.0) * size + char_sp
                if not tf.is_cid and code == 32:
                    adv += word_sp
                adv *= hscale
                if u:
                    if len(u) > 1 and any("֐" <= c <= "ࣿ" or "יִ" <= c <= "ﻼ" for c in u):
                        # a single glyph expanding to several RTL codepoints
                        # (lam-alef ligature): ToUnicode stores them in
                        # LOGICAL order, but the stream is VISUAL — reverse
                        # here so the line is uniformly visual-order and the
                        # bidi pass in layout.py restores everything at once
                        u = u[::-1]
                    chars.append(u.translate(_LIGATURES))
                adv_total += adv
            # advance text matrix
            tm = mmul((1, 0, 0, 1, adv_total, 0), tm)
            trm2 = mmul((size * hscale, 0, 0, size, 0, rise), mmul(tm, ctm))
            text = "".join(chars)
            if text and render_mode != 3:
                self.runs.append(
                    Run(text, x0, y0, trm2[4], trm2[5], eff_size, tf_key)
                )

        def tj_array(arr: list) -> None:
            nonlocal tm
            for item in arr:
                item = doc.resolve(item)
                if isinstance(item, bytes):
                    show(item)
                elif isinstance(item, (int, float)):
                    dx = (-item / 1000.0) * size * hscale
                    tm = mmul((1, 0, 0, 1, dx, 0), tm)

        for kind, val in _TokenStream(data).tokens():
            if kind == "operand":
                operands.append(val)
                continue
            op = val
            try:
                if op == "q":
                    stack.append(ctm)
                elif op == "Q":
                    if stack:
                        ctm = stack.pop()
                elif op == "cm" and len(operands) >= 6:
                    m = tuple(float(v) for v in operands[-6:])
                    ctm = mmul(m, ctm)
                elif op == "BT":
                    tm = tlm = IDENTITY
                elif op == "ET":
                    pass
                elif op == "Tf" and len(operands) >= 2:
                    tf_key = str(operands[-2])
                    tf = fonts.get(tf_key)
                    size = float(operands[-1])
                elif op == "Td" and len(operands) >= 2:
                    tlm = mmul((1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm)
                    tm = tlm
                elif op == "TD" and len(operands) >= 2:
                    leading = -float(operands[-1])
                    tlm = mmul((1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm)
                    tm = tlm
                elif op == "Tm" and len(operands) >= 6:
                    tlm = tuple(float(v) for v in operands[-6:])
                    tm = tlm
                elif op == "T*":
                    tlm = mmul((1, 0, 0, 1, 0, -leading), tlm)
                    tm = tlm
                elif op == "TL" and operands:
                    leading = float(operands[-1])
                elif op == "Tc" and operands:
                    char_sp = float(operands[-1])
                elif op == "Tw" and operands:
                    word_sp = float(operands[-1])
                elif op == "Tz" and operands:
                    hscale = float(operands[-1]) / 100.0
                elif op == "Ts" and operands:
                    rise = float(operands[-1])
                elif op == "Tr" and operands:
                    render_mode = int(operands[-1])
                elif op == "Tj" and operands:
                    show(operands[-1])
                elif op == "'" and operands:
                    tlm = mmul((1, 0, 0, 1, 0, -leading), tlm)
                    tm = tlm
                    show(operands[-1])
                elif op == '"' and len(operands) >= 3:
                    word_sp = float(operands[-3])
                    char_sp = float(operands[-2])
                    tlm = mmul((1, 0, 0, 1, 0, -leading), tlm)
                    tm = tlm
                    show(operands[-1])
                elif op == "TJ" and operands and isinstance(operands[-1], list):
                    tj_array(operands[-1])
                elif op == "Do" and operands:
                    xo = doc.resolve(xobjs.get(str(operands[-1])))
                    subtype = (
                        str(doc.resolve(xo.dict.get("Subtype")))
                        if isinstance(xo, Stream)
                        else ""
                    )
                    if subtype == "Form":
                        sub_res = doc.resolve(xo.dict.get("Resources")) or resources
                        fm = doc.resolve(xo.dict.get("Matrix")) or [1, 0, 0, 1, 0, 0]
                        fmat = tuple(float(doc.resolve(v)) for v in fm)
                        self._exec(xo.data(), sub_res, mmul(fmat, ctm), depth + 1)
                    elif subtype == "Image":
                        # image space is the unit square; its CTM image is
                        # the placed bbox (PDF 32000 8.9.4)
                        a, b, c, d, e, f = ctm
                        xs = [e, a + e, c + e, a + c + e]
                        ys = [f, b + f, d + f, b + d + f]
                        flt = doc.resolve(xo.dict.get("Filter"))
                        if isinstance(flt, list):
                            flt = [str(doc.resolve(v)) for v in flt]
                        elif flt is not None:
                            flt = [str(flt)]
                        self.pictures.append(
                            {
                                "bbox": (
                                    min(xs), min(ys), max(xs), max(ys),
                                ),
                                "width": int(
                                    doc.resolve(xo.dict.get("Width", 0)) or 0
                                ),
                                "height": int(
                                    doc.resolve(xo.dict.get("Height", 0)) or 0
                                ),
                                "filters": flt or [],
                            }
                        )
            except Exception:
                pass
            operands = []
