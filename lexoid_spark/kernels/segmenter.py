"""Markdown heading segmentation kernel.

Reproduces the reference's two-step segmentation:

- ``find_dominant_heading_level`` (``lexoid/core/utils.py:169-200``):
  underline-style (``text\\n----``) wins if it occurs more than once;
  otherwise the *smallest-prefix* hash level that occurs more than once;
  default ``#``.
- ``split_md_by_headings`` (``lexoid/core/utils.py:203-269``): split on the
  dominant pattern; any content before the first heading becomes an
  ``Introduction`` section; each section is keyed by its heading text.

Output is a list of ``(section, content)`` tuples — the Spark side stores
them as ``array<struct<section:string, content:string>>`` and explodes
when a per-segment table is needed.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import List, Tuple

_UNDERLINE_RE = re.compile(r"^[^\n]+\n-+$", re.MULTILINE)
# a line's hash prefix when it is one of the five levels the reference
# tries ("###### x" and "#x" are no heading at any level)
_HASH_LEVEL_RE = re.compile(r"^(#{1,5}) ", re.MULTILINE)


def find_dominant_heading_level(md: str) -> str:
    """Dominant heading pattern: ``'underline'`` or a hash prefix."""
    underlines = _UNDERLINE_RE.finditer(md)
    if next(underlines, None) is not None and next(underlines, None) is not None:
        return "underline"
    counts = Counter(_HASH_LEVEL_RE.findall(md))
    repeated = [level for level, n in counts.items() if n > 1]
    if not repeated:
        return "#"
    return min(repeated, key=len)


def split_md_by_headings(md: str, heading_pattern: str) -> List[Tuple[str, str]]:
    """Split markdown into (section_title, content) pairs."""
    out: List[Tuple[str, str]] = []
    if heading_pattern == "underline":
        pattern = r"^([^\n]+)\n-+$"
        sections = [s.strip() for s in re.split(pattern, md, flags=re.MULTILINE)]
        if sections and not re.match(r"^[^\n]+\n-+$", sections[0], re.MULTILINE):
            out.append(("Introduction", sections.pop(0)))
        for i in range(0, len(sections), 2):
            if i + 1 < len(sections):
                out.append((sections[i], sections[i + 1]))
    else:
        regex = rf"^{heading_pattern} .*$"
        sections = [s.strip() for s in re.split(regex, md, flags=re.MULTILINE)]
        headings = re.findall(regex, md, flags=re.MULTILINE)
        if len(sections) > len(headings):
            out.append(("Introduction", sections.pop(0)))
        for heading, content in zip(headings, sections):
            clean = heading.replace(heading_pattern, "").strip()
            out.append((clean, content))
    return out


def segment_md(md: str) -> List[Tuple[str, str]]:
    """Full segmentation: dominant-level detection then split."""
    if md is None:
        return []
    return split_md_by_headings(md, find_dominant_heading_level(md))
