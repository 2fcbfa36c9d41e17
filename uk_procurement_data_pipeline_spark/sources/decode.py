"""try-decode (SURVEY.md §2.11 UD3, §2.9 F23).

The reference decodes XML bytes utf-8-first with a latin-1 ``replace``
fallback (2b_extract_find_a_tender_XMLs.py:479-482). Spark's built-in
``decode(col, 'utf-8')`` cannot express the fallback, so the zip-of-XML
sources call ``try_decode_bytes`` inside their Python parsers (ingest
stages only, never the relational hot path).
"""

from __future__ import annotations

UTF8 = "utf-8"
FALLBACK = "latin-1"


def try_decode_bytes(raw: bytes | None) -> tuple[str | None, str | None]:
    """(text, encoding_used) — None input passes through as (None, None)."""
    if raw is None:
        return None, None
    try:
        return raw.decode(UTF8), UTF8
    except UnicodeDecodeError:
        return raw.decode(FALLBACK, errors="replace"), FALLBACK
