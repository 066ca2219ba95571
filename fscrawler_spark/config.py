"""Job settings — the analog of the reference's ``Fs`` settings bean.

Mirrors defaults from /root/reference/settings/.../Fs.java:34-126 and
TikaDocParser.java:141-156 (indexed_chars), FsCrawlerUtil.java:100-216
(include/exclude globs + content filters).
"""

from __future__ import annotations

import re
from dataclasses import dataclass


DEFAULT_INDEXED_CHARS = 100_000  # reference: TikaDocParser.java:141
DEFAULT_EXCLUDES = ("*/~*",)  # reference: settings/Defaults.java:28


def glob_to_regex(pattern: str) -> str:
    """Lower a case-insensitive glob (`*`, `?`) to a regex.

    Reference semantics: FsCrawlerUtil.java:171 — glob matched against the
    virtual path, case-insensitively, `*` crossing path separators.
    """
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "(?i)^" + "".join(out) + "$"


def parse_byte_size(value: str | int | None) -> int | None:
    """Human byte sizes -> bytes, with the reference's suffix semantics
    (framework/.../ByteSizeValue.java:132-160: k/kb=1024, m/mb=1024^2,
    g/gb, t/tb, p/pb; 'b' or bare = bytes; case-insensitive, trimmed)."""
    if value is None or isinstance(value, int):
        return value
    s = value.strip().lower()
    for suffix, mult in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                         ("tb", 1 << 40), ("pb", 1 << 50),
                         ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                         ("t", 1 << 40), ("p", 1 << 50), ("b", 1)):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def parse_time_value(value: str | float | None) -> float | None:
    """Human durations -> seconds (framework/.../TimeValue.java:181-210:
    ms/s/m/h/d suffixes; a bare number is REJECTED like the reference's
    'unit is missing or unrecognized'). Numeric inputs pass through as
    seconds (programmatic-API convenience, documented here)."""
    if value is None or isinstance(value, (int, float)):
        return value
    s = value.strip().lower()
    units = (("ms", 0.001), ("s", 1.0), ("m", 60.0), ("h", 3600.0), ("d", 86400.0))
    for suffix, mult in units:
        if s.endswith(suffix):
            return float(s[: -len(suffix)]) * mult
    raise ValueError(
        f"failed to parse time value {value!r}: unit is missing or unrecognized"
    )


def parse_percentage(value: str | float | None) -> float | None:
    """'30%' -> 0.3 fraction; bare numbers pass through as fractions
    (framework/.../Percentage.java:94-106)."""
    if value is None or isinstance(value, (int, float)):
        return value
    s = value.strip().lower()
    if s.endswith("%"):
        return float(s[:-1]) / 100.0
    return float(s)


@dataclass(frozen=True)
class ExtractSettings:
    """Per-job extraction configuration (``Fs`` bean analog).

    indexed_chars: max chars of *extracted* text kept per turn; the
        truncated prefix is kept, never dropped (reference:
        TikaInstance.java:249-258 WriteLimitReached -> keep partial).
    indexed_chars_percent: if set, overrides indexed_chars with
        ceil(len(source) * pct) per turn (reference:
        TikaDocParser.java:143-151, Percentage.java:25-66).
    includes / excludes: case-insensitive globs on the virtual path
        (for transcripts: on ``conv_id``/``tool``); excludes win.
    filters: content regexes — a turn is kept only if extracted text
        matches ALL of them (reference: FsCrawlerUtil.java:192-216).
    ignore_above: skip turns whose source text is longer than this
        (reference: FsParser.java:960-974).
    """

    indexed_chars: int = DEFAULT_INDEXED_CHARS
    indexed_chars_percent: float | None = None
    includes: tuple[str, ...] = ()
    excludes: tuple[str, ...] = DEFAULT_EXCLUDES
    filters: tuple[str, ...] = ()
    ignore_above: int | None = None
    index_content: bool = True
    checksum_algo: str = "sha256"
    lang_detect: bool = False
    raw_metadata: bool = False  # T8: capture html <meta>/json top-level fields
    # T13/T14: emit the parsed-object column (Doc.object analog,
    # FsParser.java:1494-1555 / XmlDocParser.java:44-82) — flattened
    # path->scalar map for JSON and XML payloads
    parse_object: bool = False
    store_source: bool = False
    remove_deleted: bool = True
    continue_on_error: bool = True
    # scale knobs
    num_buckets: int = 32          # output partition buckets (conv-hash)
    skew_salt: int = 8             # salt fan-out for mega-conversations
    # bounded driver re-drive of a failed write wave (reference: network
    # retry x10 w/ backoff, FsParser.java:104-107,811-850); retries are
    # recorded in the manifest (retry_count / last_error)
    max_wave_retries: int = 2
    # checkpoint granularity: the job commits in this many waves; each wave
    # rescans the input (bucket filter pushed below the UDF, so extraction
    # work is never repeated) — more waves = finer crash recovery, more
    # scan I/O. 1 = single-pass job relying on task retries alone.
    checkpoint_waves: int = 4

    def __post_init__(self) -> None:
        if self.checksum_algo not in ("sha256", "md5"):
            raise ValueError(
                f"checksum_algo must be 'sha256' or 'md5', got {self.checksum_algo!r}"
            )
        # numeric-knob validation: a typo'd 0/negative must fail HERE, not
        # as an instantly-"completed" empty job (num_buckets=0 makes
        # manifest.pending() empty) or an ANSI DIVIDE_BY_ZERO mid-wave
        # (skew_salt=0 reaches pmod(turn_idx, 0)) or silently corrupt
        # truncation (negative indexed_chars tail-slices text[:-N])
        if self.num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {self.num_buckets}")
        if self.skew_salt < 1:
            raise ValueError(f"skew_salt must be >= 1, got {self.skew_salt}")
        if self.indexed_chars < 0:
            raise ValueError(
                f"indexed_chars must be >= 0, got {self.indexed_chars} "
                "(for 'index everything' use indexed_chars_percent=1.0 / '100%')"
            )
        if self.indexed_chars_percent is not None and not (
            0 < self.indexed_chars_percent <= 1
        ):
            raise ValueError(
                "indexed_chars_percent must be in (0, 1] "
                f"(i.e. '0%' < p <= '100%'), got {self.indexed_chars_percent}"
            )
        if self.ignore_above is not None and self.ignore_above < 0:
            raise ValueError(f"ignore_above must be >= 0, got {self.ignore_above}")
        if self.max_wave_retries < 0:
            raise ValueError(f"max_wave_retries must be >= 0, got {self.max_wave_retries}")
        if self.checkpoint_waves < 1:
            raise ValueError(f"checkpoint_waves must be >= 1, got {self.checkpoint_waves}")

    def fingerprint(self) -> str:
        """Stable hash of every setting that changes the OUTPUT (content
        or bucket assignment). Persisted in the checkpoint manifest so a
        resume with different settings is refused instead of silently
        mixing incompatible runs (e.g. a changed num_buckets shifts every
        salted_bucket assignment; changed filters/indexed_chars change
        row content) — see plans/checkpoint.py."""
        import hashlib

        key = (
            self.indexed_chars,
            self.indexed_chars_percent,
            self.includes,
            self.excludes,
            self.filters,
            self.ignore_above,
            self.index_content,
            self.checksum_algo,
            self.lang_detect,
            self.raw_metadata,
            self.store_source,
            self.parse_object,
            self.num_buckets,
            self.skew_salt,
        )
        return hashlib.sha256(repr(key).encode()).hexdigest()[:16]

    def limit_for(self, source_len: int) -> int:
        if self.indexed_chars_percent is not None:
            import math

            return math.ceil(source_len * self.indexed_chars_percent)
        return self.indexed_chars
