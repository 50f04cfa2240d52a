"""Layout-block segmenter for PDF-like spans.

The reference's TSV path serializes OCR text blocks as
``bbox fields ⊔ text`` lines (reference: src/openllm_ocr_annotator/utils/
formatter.py:111-114) and its prompt contract defines positioned
``text_blocks`` with ``type: text|title|table|list``
(examples/prompt_templates.yaml:74-88). We adopt the same wire shape as the
*payload* of a ``kind='pdf'`` span: one OCR line per row,

    ``x0,y0,x1,y1<TAB>text``

and segment lines into reading-order regions:

- sort lines by (y0, x0) — top-to-bottom, left-to-right;
- start a new region when the vertical gap to the previous region's bottom
  exceeds ``GAP_FACTOR`` × median line height (paragraph break);
- a region's text is its lines joined by a single space.

Deterministic: pure arithmetic on the parsed coordinates, stable sort.
"""

from __future__ import annotations

GAP_FACTOR = 1.5


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        return 0.0
    m = n // 2
    return s[m] if n % 2 else (s[m - 1] + s[m]) / 2.0


def parse_layout_lines(payload: str) -> list[tuple[float, float, float, float, str]]:
    lines = []
    for raw in payload.split("\n"):
        raw = raw.strip()
        if not raw or "\t" not in raw:
            continue
        bbox, text = raw.split("\t", 1)
        parts = bbox.split(",")
        if len(parts) != 4:
            continue
        try:
            x0, y0, x1, y1 = (float(p) for p in parts)
        except ValueError:
            continue
        text = " ".join(text.split())
        if text:
            lines.append((x0, y0, x1, y1, text))
    return lines


def segment_layout(payload: str) -> list[str]:
    """Payload → ordered list of region texts (reading order)."""
    lines = parse_layout_lines(payload)
    if not lines:
        return []
    lines.sort(key=lambda ln: (ln[1], ln[0]))
    heights = [max(ln[3] - ln[1], 1.0) for ln in lines]
    med_h = max(_median(heights), 1.0)

    regions: list[list[str]] = []
    cur: list[str] = []
    bottom: float | None = None
    for x0, y0, x1, y1, text in lines:
        if bottom is not None and (y0 - bottom) > GAP_FACTOR * med_h:
            regions.append(cur)
            cur = []
            bottom = None
        cur.append(text)
        bottom = y1 if bottom is None else max(bottom, y1)
    if cur:
        regions.append(cur)
    return [" ".join(r) for r in regions]
