"""Byte-faithful tokenizer.

Reproduces the semantics of the reference document tokenizer
(``query_processor/src/IndexBuilder.cpp:56-111`` — `_calcWordFreq`)
and query tokenizer (``ranking_optimizer/src/QueryProcessor.cpp:
113-133`` — `_splitQuery`):

* The C++ code walks the text **byte-wise** (`text[i]` is a `char`),
  so the multi-byte UTF-8 characters inside the separator literal act
  as a set of separator *bytes*, not codepoints.  We therefore encode
  text to UTF-8 and tokenize over bytes.
* Document tokenizer: every non-separator byte is `tolower`-ed (ASCII
  only, matching C-locale `tolower`); a finished word is kept iff its
  first byte is ASCII alphanumeric (`isalnum(word[0])`).
* Query tokenizer (HW3): same separator set **plus `_`** and **minus**
  the latin-1 block of the document set; no lowercasing, no
  first-char filter.  (HW2's variant without `_` is available via
  ``query_separators_hw2``.)

The hot path is vectorized per row at C level: one 256-byte
``bytes.translate`` table maps separator bytes to space and lowercases
the rest in a single pass, then ``bytes.split`` + ``Counter``.

Known deviation (documented, unreachable on valid corpora): term
bytes that do not form valid UTF-8 after separator stripping are
decoded with ``errors='replace'`` because Spark ``StringType`` must
hold valid UTF-8; the reference would keep raw bytes.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable, Iterator

import pandas as pd

from cs6913_web_search_engines_spark.session import trim_zip_importers

# The separator literal from IndexBuilder.cpp:58-59, re-expressed as
# data (same characters, therefore the same UTF-8 byte set).
_DOC_SEP_CHARS = (
    " :;,.\t\v\r\n\f[]{}()<>+-=*&^%$#@!~`´'\"|\\/?·\"：“”"
    "∂æâãäåàªÃÅÂÄÃÊËÉïîìÏÌóûüÙÛÚñÑÐ¸¶Øø§≠°º®©¤¯½¼¾«»±£¢¹²³¬¦¨¿_"
)
# HW3 query separator literal (ranking_optimizer/src/QueryProcessor.cpp:116).
_QUERY_SEP_CHARS_HW3 = " :;,.\t\v\r\n\f[]{}()<>+-=*&^%$#@!~`'\"|\\/?·\"：“”_"
# HW2 query separator literal (query_processor/src/QueryProcessor.cpp:88) — no '_'.
_QUERY_SEP_CHARS_HW2 = " :;,.\t\v\r\n\f[]{}()<>+-=*&^%$#@!~`'\"|\\/?·\"：“”"

DOC_SEP_BYTES: frozenset[int] = frozenset(_DOC_SEP_CHARS.encode("utf-8"))
QUERY_SEP_BYTES_HW3: frozenset[int] = frozenset(_QUERY_SEP_CHARS_HW3.encode("utf-8"))
QUERY_SEP_BYTES_HW2: frozenset[int] = frozenset(_QUERY_SEP_CHARS_HW2.encode("utf-8"))


def _make_table(sep_bytes: frozenset[int], lower: bool) -> bytes:
    out = bytearray(range(256))
    if lower:
        for b in range(ord("A"), ord("Z") + 1):
            out[b] = b + 32
    for b in sep_bytes:
        out[b] = 0x20
    return bytes(out)


_DOC_TABLE = _make_table(DOC_SEP_BYTES, lower=True)
_QUERY_TABLE_HW3 = _make_table(QUERY_SEP_BYTES_HW3, lower=False)
_QUERY_TABLE_HW2 = _make_table(QUERY_SEP_BYTES_HW2, lower=False)

_ALNUM_FIRST = frozenset(
    bytes(range(ord("0"), ord("9") + 1))
    + bytes(range(ord("a"), ord("z") + 1))
    + bytes(range(ord("A"), ord("Z") + 1))
)


def _decode(term: bytes) -> str:
    return term.decode("utf-8", errors="replace")


def doc_term_freqs(text: str) -> dict[str, int]:
    """Per-document term frequencies, `_calcWordFreq` semantics."""
    raw = text.encode("utf-8").translate(_DOC_TABLE)
    counts = Counter(w for w in raw.split(b" ") if w and w[0] in _ALNUM_FIRST)
    return {_decode(t): c for t, c in counts.items()}


def doc_tokens(text: str) -> list[str]:
    """In-order kept tokens of a document (for token-count analytics)."""
    raw = text.encode("utf-8").translate(_DOC_TABLE)
    return [_decode(w) for w in raw.split(b" ") if w and w[0] in _ALNUM_FIRST]


def split_query(query: str, mode: str = "hw3") -> list[str]:
    """Query tokenizer (`_splitQuery`).  No lowercase, no alnum filter.

    Duplicate terms are deduplicated preserving first occurrence — a
    documented deviation: the reference would process a duplicated
    term twice (double-scoring it), which is accidental rather than
    intended semantics, and our conjunctive ``HAVING count = n``
    formulation requires unique terms.
    """
    table = _QUERY_TABLE_HW3 if mode == "hw3" else _QUERY_TABLE_HW2
    raw = query.encode("utf-8").translate(table)
    seen: dict[str, None] = {}
    for w in raw.split(b" "):
        if w:
            seen.setdefault(_decode(w), None)
    return list(seen)


# ---------------------------------------------------------------------------
# Spark-side vectorized kernels (used via mapInPandas)
# ---------------------------------------------------------------------------

def postings_batches(
    batches: Iterable[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, text) batches → (doc_id, term, tf).

    The per-(doc, term) aggregation happens *inside* the kernel, so the
    downstream shuffle moves one row per posting, never one row per
    token occurrence — this is the map-side combine the reference gets
    from its per-doc `std::map` (IndexBuilder.cpp:62-110).
    """
    trim_zip_importers()
    for pdf in batches:
        doc_ids: list[int] = []
        terms: list[str] = []
        tfs: list[int] = []
        for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
            if text is None:
                continue
            freqs = doc_term_freqs(text)
            doc_ids.extend([doc_id] * len(freqs))
            terms.extend(freqs.keys())
            tfs.extend(freqs.values())
        yield pd.DataFrame(
            {"doc_id": pd.Series(doc_ids, dtype="int64"),
             "term": pd.Series(terms, dtype="object"),
             "tf": pd.Series(tfs, dtype="int32")}
        )
    trim_zip_importers()


POSTINGS_SCHEMA = "doc_id long, term string, tf int"
