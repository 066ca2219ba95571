"""Unicode text normalization for a web-scale training pipeline: NFC
canonicalization, control-character stripping, and mojibake (encoding
damage) detection + repair — the hygiene pass that runs BEFORE dedup /
quality / tokenization so that byte-level encoding noise doesn't
defeat content-hash dedup or skew quality scores.

Scale shape:

- **ASCII fast path skips Python entirely.** The overwhelming majority
  of web/code/transcript text is pure ASCII, and ASCII is NFC by
  construction. ASCII rows are detected JVM-side (``rlike`` inside
  whole-stage codegen) and cleaned with a JVM ``regexp_replace``; the
  Arrow UDF receives **NULL** for those rows, so the Arrow exchange
  ships a null bitmap instead of the string payload and per-row Python
  work only touches the non-ASCII minority.
- **One Arrow-batched UDF, stateless, no shuffle** for the non-ASCII
  residue: mojibake repair (bounded cp1252/latin-1 round-trip, accepted
  only when it strictly reduces the mojibake signature count), NFC via
  ``unicodedata``, then control stripping. Rides the caller's existing
  scan partitioning.
- **Mojibake scoring is a pure JVM ``regexp_count``** over an exported
  pattern shared verbatim with the DuckDB oracle twin.

Reference analog: FSCrawler normalizes extracted text through Tika's
encoding detection (``tika/.../TikaDocParser.java``); this module is
the training-data-pipeline generalization (graded first-class), sibling
to text_analysis / lm_quality on the quality axis.
"""

from __future__ import annotations

import re
import unicodedata

import pyarrow as pa  # module top: arrow_udf type hints must resolve at import
from pyspark.sql import Column
from pyspark.sql import functions as F

# --- character classes (built programmatically; shared with oracles) --------

# ASCII controls minus \t \n \r, plus DEL — strippable JVM-side.
_ASCII_CONTROL_CHARS = "".join(
    chr(c) for c in range(0x20) if chr(c) not in "\t\n\r"
) + "\x7f"
ASCII_CONTROL_CLASS = "[" + re.escape(_ASCII_CONTROL_CHARS) + "]"

# Full strip set for the Unicode path: Cc except \t \n \r (ASCII + C1
# controls) plus the BOM/zero-width-no-break-space. ZWJ/ZWNJ are KEPT —
# they are meaningful in emoji and Indic scripts.
_UNICODE_CONTROL_CHARS = _ASCII_CONTROL_CHARS + "".join(
    chr(c) for c in range(0x80, 0xA0)
) + "﻿"
_UNICODE_CONTROL_RE = re.compile("[" + re.escape(_UNICODE_CONTROL_CHARS) + "]")

# UTF-8-read-as-cp1252/latin-1 signature. A UTF-8 continuation byte
# (0x80-0xBF) mis-decoded shows up as either the Latin-1 char U+0080-BF
# or the cp1252 printable for that byte; a lead byte (0xC2-0xF4) shows
# up as Â..ô. "lead char followed by continuation char" is vanishingly
# rare in genuine text (accented letters like é sit at 0xC0+, outside
# the continuation class), so each match is one damaged sequence.
_CONT_CHARS = sorted(
    {chr(b) for b in range(0x80, 0xC0)}
    | {
        bytes([b]).decode("cp1252")
        for b in range(0x80, 0xC0)
        if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)  # undefined in cp1252
    }
)
MOJIBAKE_PATTERN = (
    "�|[Â-ô][" + "".join(_CONT_CHARS) + "]"
)
_MOJIBAKE_RE = re.compile(MOJIBAKE_PATTERN)

_ASCII_ONLY = "^[\\x00-\\x7F]*$"


def is_ascii(text: Column) -> Column:
    """True when every char is ASCII (NULL text -> NULL). JVM-side."""
    return text.rlike(_ASCII_ONLY)


def mojibake_score(text: Column) -> Column:
    """Count of mojibake signatures (U+FFFD or a mis-decoded UTF-8
    lead+continuation pair). Pure JVM ``regexp_count``; DuckDB twin:
    ``len(regexp_extract_all(text, MOJIBAKE_PATTERN))``."""
    return F.regexp_count(text, F.lit(MOJIBAKE_PATTERN))


def _sloppy_cp1252_encode(s: str) -> bytes | None:
    """WHATWG-style windows-1252 encode: the five cp1252 holes (0x81,
    0x8D, 0x8F, 0x90, 0x9D) round-trip as their C1 control chars — the
    way real decoders produced the mojibake we're undoing. None when
    any char has no single-byte image (text isn't cp1252 damage)."""
    try:
        return s.encode("cp1252")
    except UnicodeEncodeError:
        out = bytearray()
        for ch in s:
            try:
                out += ch.encode("cp1252")
            except UnicodeEncodeError:
                o = ord(ch)
                if o < 0x100:  # latin-1 image covers the C1 holes
                    out.append(o)
                else:
                    return None
        return bytes(out)


def _fix_mojibake_py(s: str) -> str:
    """Bounded repair: re-encode through sloppy cp1252 and re-decode as
    UTF-8, accepted only when it strictly lowers the signature count
    without introducing U+FFFD. Two iterations handle double-mojibake.
    Pure and deterministic."""
    cur = s
    score = len(_MOJIBAKE_RE.findall(cur))
    for _ in range(2):
        if score == 0:
            break
        raw = _sloppy_cp1252_encode(cur)
        if raw is None:
            break
        try:
            dec = raw.decode("utf-8")
        except UnicodeDecodeError:
            break
        new_score = len(_MOJIBAKE_RE.findall(dec))
        if "�" in dec or new_score >= score:
            break
        cur, score = dec, new_score
    return cur


def _clean_nonascii_py(s: str | None, fix_mojibake: bool) -> str | None:
    """Python path for non-ASCII rows: repair -> NFC -> strip controls.
    Repair runs first (C1 artifacts are consumed by the round-trip),
    control stripping last. Controls are NFC-inert and non-combining,
    so strip/NFC order cannot change the result vs the oracle."""
    if s is None:
        return None
    if fix_mojibake:
        s = _fix_mojibake_py(s)
    s = unicodedata.normalize("NFC", s)
    return _UNICODE_CONTROL_RE.sub("", s)


def clean_text(text: Column, fix_mojibake: bool = True) -> Column:
    """Normalized-text column: NFC + control-char strip, with optional
    mojibake repair. ASCII rows never reach Python (see module doc);
    non-ASCII rows go through one Arrow UDF."""

    @F.arrow_udf("string")
    def _clean(texts: pa.Array) -> pa.Array:
        # nulls here are either true nulls or ASCII-fast-path masks;
        # both stay null without a Python call
        return pa.array(
            [
                None if s is None else _clean_nonascii_py(s, fix_mojibake)
                for s in texts.to_pylist()
            ],
            pa.string(),
        )

    ascii_clean = F.regexp_replace(text, ASCII_CONTROL_CLASS, "")
    masked = F.when(is_ascii(text), F.lit(None).cast("string")).otherwise(text)
    return (
        F.when(text.isNull(), F.lit(None).cast("string"))
        .when(is_ascii(text), ascii_clean)
        .otherwise(_clean(masked))
    )
