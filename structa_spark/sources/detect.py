"""Driver-side input sniffing: encoding, format, CSV dialect.

Mirrors the reference's Source façade (reference: structa/source.py:
22-224) — detection runs over a bounded byte sample (default 1 MB) on
the driver, then the *distributed* read is configured from the
verdict. chardet is not available in this environment, so encoding
detection is self-contained: BOMs, strict UTF-8, BOM-less UTF-16 NUL
distribution, and a multi-codec prober (Shift_JIS / EUC-JP / EUC-KR /
Big5 / GB18030 / KOI8-R / windows-1251 / windows-1252 / iso-8859-1)
scoring decode validity plus script plausibility.
"""

from __future__ import annotations

import codecs
import json
import re
from dataclasses import dataclass
from typing import Optional

SAMPLE_LIMIT = 1 << 20


class ValidationWarning(UserWarning):
    """Low confidence in a detection verdict (the reference warns the
    same way below 0.9 chardet confidence, structa/source.py:137-145)."""


@dataclass
class Sniff:
    encoding: str
    confidence: float
    format: str                      # json | ndjson | csv | yaml | xml
    csv_delimiter: Optional[str] = None
    csv_quotechar: Optional[str] = None
    csv_header: Optional[bool] = None


# BOM-consuming codec names: 'utf-16'/'utf-32' detect byte order from
# the BOM *and strip it* on decode; the -le/-be names would leave a
# U+FEFF at the start of the text, corrupting header detection and
# the first column name. UTF-32 BOMs are checked first (the UTF-32-LE
# BOM starts with the UTF-16-LE one).
_BOMS = [
    (codecs.BOM_UTF32_LE, "utf-32"), (codecs.BOM_UTF32_BE, "utf-32"),
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF16_LE, "utf-16"), (codecs.BOM_UTF16_BE, "utf-16"),
]


# multi-codec probing for non-UTF-8 byte streams (the reference
# delegates this breadth to chardet's UniversalDetector, reference:
# structa/source.py:137-145; chardet is not in this environment, so
# this is a self-contained prober). A range-overlap score alone is
# not enough — the hard cases need real evidence rules:
#   * GB18030 is a complete code (every byte string decodes), so a
#     CJK codec may only claim a sample whose decoded text is
#     substantially non-ASCII (real CJK prose is; Western text with
#     scattered accents is not).
#   * Japanese must show kana, Korean hangul: accented Latin decoded
#     into stray kanji has neither.
#   * KOI8-R and cp1251 both fill the upper half with Cyrillic, but
#     with case-swapped layouts — a wrong-codec decode renders
#     normal (mostly lowercase) Russian prose as mostly UPPERCASE,
#     so the lowercase fraction picks the right one.
# kana = Hiragana+Katakana, han = unified CJK, hangul = syllables.
_KANA = ((0x3040, 0x30FF), (0x4E00, 0x9FFF),
         (0x3000, 0x303F), (0xFF00, 0xFFEF))
_HANGUL = ((0xAC00, 0xD7AF), (0x1100, 0x11FF),
           (0x4E00, 0x9FFF), (0x3000, 0x303F))
_HAN = ((0x4E00, 0x9FFF), (0x3000, 0x303F), (0xFF00, 0xFFEF))
_CYRILLIC = ((0x0400, 0x04FF),)
_LATIN_EXT = ((0x00C0, 0x024F), (0x2013, 0x201E), (0x20AC, 0x20AC))

# spec: (codec, native ranges, min non-ASCII fraction of the decoded
# text, min fraction of non-ASCII that must land in ranges[0] — the
# script a REAL document in this encoding cannot avoid: kana for
# Japanese, hangul syllables for Korean, han for Chinese). ORDER IS
# THE TIEBREAK: the first codec whose evidence clears the bar wins,
# so strict decoders that reject wrong input (shift_jis/euc_*/big5)
# come before the complete code gb18030 (which decodes anything),
# Cyrillic before the always-decodable single-byte Western tier, and
# iso-8859-1 before windows-1252 (they differ only in 0x80-0x9F,
# which decode to control chars under iso and disqualify it there).
# Non-Latin tiers additionally need >= 8 non-ASCII chars of absolute
# evidence, so one accented word cannot be claimed as CJK/Cyrillic.
# CJK density bar 0.03: markup-heavy documents (JSON/CSV structure
# around CJK strings) sit well under 10% non-ASCII; the real guards
# against Western-text misclassification are strict-decode validity
# (cp1252/latin accent pairs are invalid in every CJK codec) plus
# the must-hit script fraction and the >= 8 absolute native chars.
_PROBE_CODECS = [
    ("shift_jis", _KANA, 0.03, 0.2),
    ("euc_jp", _KANA, 0.03, 0.2),
    ("euc_kr", _HANGUL, 0.03, 0.5),
    ("big5", _HAN, 0.03, 0.5),
    ("gb18030", _HAN, 0.03, 0.5),
    ("koi8-r", _CYRILLIC, 0.15, 0.5),
    ("windows-1251", _CYRILLIC, 0.15, 0.5),
    ("iso-8859-1", _LATIN_EXT, 0.0, 0.0),
    ("windows-1252", _LATIN_EXT, 0.0, 0.0),
]

_LOWER_CYR = set(range(0x0430, 0x0450)) | {0x0451}


def _tail_decode(sample: bytes, codec: str):
    """Strict decode tolerating a sample cut mid-character: the
    sniffer reads exactly SAMPLE_LIMIT bytes, so a large multi-byte
    file's sample usually ends inside a sequence — trimming up to 3
    trailing bytes makes probing independent of where the cut falls
    (a complete valid stream decodes on the first attempt, so the
    trim can never misclassify one). Returns None if even the
    trimmed sample does not decode."""
    for cut in range(4):
        try:
            return sample[:len(sample) - cut or None].decode(codec)
        except (UnicodeDecodeError, ValueError):
            continue
    return None


def _probe_score(text: str, ranges, min_nonascii: float,
                 must_frac: float) -> float:
    if not text:
        return 0.0
    non_ascii = native = bad = 0
    hits = [0] * len(ranges)
    is_native = []
    for ch in text:
        o = ord(ch)
        if o < 0x20 and ch not in "\t\r\n":
            bad += 1
        elif 0x7F <= o <= 0x9F:
            bad += 1
        if o <= 0x7F:
            is_native.append(False)
            continue
        non_ascii += 1
        nat = False
        for i, (lo, hi) in enumerate(ranges):
            if lo <= o <= hi:
                hits[i] += 1
                native += 1
                nat = True
                break
        is_native.append(nat)
    if bad:
        return 0.0                    # control chars: decoded garbage
    if non_ascii < max(1, min_nonascii * len(text)):
        return 0.0
    if ranges is not _LATIN_EXT and non_ascii < 8:
        return 0.0
    if hits[0] < must_frac * non_ascii or hits[0] == 0:
        return 0.0
    score = native / non_ascii
    if ranges is not _LATIN_EXT:
        # adjacency evidence: real CJK/Cyrillic prose runs its native
        # chars together (words/sentences of them), while Western
        # accents mis-decoded through a CJK/Cyrillic table come out
        # as ISOLATED native chars embedded inside ASCII words
        # ("héllo" -> "h幨lo", "naïve" -> "naпve"). Scale by the
        # fraction of native chars with a native neighbor, which is
        # ~1 for genuine prose and ~0 for scattered-accent mojibake.
        attached = sum(
            1 for j, nat in enumerate(is_native) if nat
            and ((j > 0 and is_native[j - 1])
                 or (j + 1 < len(is_native) and is_native[j + 1])))
        score *= attached / native
    if ranges is _CYRILLIC:
        # case-layout signal: normal Russian prose is mostly
        # lowercase; a KOI8<->cp1251 mixup decodes it mostly upper
        lower = sum(1 for ch in text if ord(ch) in _LOWER_CYR)
        score *= lower / non_ascii
    return score


def detect_encoding(sample: bytes):
    """BOM check, then UTF-8 strict decode, then a NUL-distribution
    check for BOM-less UTF-16, then the multi-codec prober
    (Shift_JIS / EUC-JP / EUC-KR / GB18030 / Big5 / KOI8-R /
    windows-125x), else latin-1 fallback. The reference warns below
    0.9 chardet confidence; the low-confidence guesses here carry the
    same contract."""
    for bom, name in _BOMS:
        if sample.startswith(bom):
            return name, 1.0
    # BOM-less UTF-16 of mostly-ASCII text: NULs concentrated on one
    # side of each 16-bit unit. Checked BEFORE the UTF-8 attempt —
    # NUL bytes are valid UTF-8, but real text never contains them.
    if len(sample) >= 4:
        even = sum(1 for b in sample[0::2] if b == 0)
        odd = sum(1 for b in sample[1::2] if b == 0)
        half = max(len(sample) // 2, 1)
        if odd / half > 0.6 and even / half < 0.05:
            return "utf-16-le", 0.8
        if even / half > 0.6 and odd / half < 0.05:
            return "utf-16-be", 0.8
    if _tail_decode(sample, "utf-8") is not None:
        return "utf-8", 0.99 if any(b > 0x7F for b in sample) else 1.0
    for codec, ranges, min_na, must_frac in _PROBE_CODECS:
        text = _tail_decode(sample, codec)
        if text is None:
            continue
        threshold = 0.6 if ranges is _LATIN_EXT else 0.75
        score = _probe_score(text, ranges, min_na, must_frac)
        if score < threshold:
            continue
        # single-byte Western codecs are statistically hard to tell
        # apart, so their confidence stays under the reference's 0.9
        # ValidationWarning bar; multi-byte verdicts carry the real
        # evidence (kana/hangul/han density, decode validity)
        cap = 0.85 if ranges is _LATIN_EXT else 0.95
        return codec, min(cap, score)
    # iso-8859-1 (not the 'latin-1' alias): the name is valid for BOTH
    # Python codecs and Spark reader charsets
    return "iso-8859-1", 0.5


#: Python codec name -> charset name Spark's readers accept (Spark
#: rejects e.g. 'utf-8-sig'; its UTF-8 readers already strip a BOM)
_SPARK_CHARSETS = {
    "utf-8-sig": "UTF-8",
    "utf-16": "UTF-16",
    "utf-16-le": "UTF-16LE",
    "utf-16-be": "UTF-16BE",
    "utf-32": "UTF-32",
    "iso-8859-1": "ISO-8859-1",
    "shift_jis": "Shift_JIS",
    "euc_jp": "EUC-JP",
    "euc_kr": "EUC-KR",
    "gb18030": "GB18030",
    "big5": "Big5",
    "koi8-r": "KOI8-R",
    "windows-1251": "windows-1251",
    "windows-1252": "windows-1252",
}


def spark_charset(enc: str) -> str:
    return _SPARK_CHARSETS.get(enc.lower(), enc)


def _score_yaml_csv(text: str):
    """Per-line scorer (reference: structa/source.py:164-203 shape):
    comments/indent/'- '/': ' vote YAML; consistent delimiter counts
    and paired quotes vote CSV."""
    lines = [ln for ln in text.splitlines() if ln.strip()][:200]
    if not lines:
        return "csv"
    yaml_score = 0
    for ln in lines:
        s = ln.strip()
        if s.startswith("#") or s.startswith("- ") or s == "-":
            yaml_score += 1
        elif re.match(r"^[\w\"'.-]+:\s", s) or s.endswith(":"):
            yaml_score += 1
        elif ln.startswith(("  ", "\t")):
            yaml_score += 0.5
    csv_score = 0
    for delim in (",", ";", "\t", "|"):
        counts = [ln.count(delim) for ln in lines]
        if counts and min(counts) >= 1 and len(set(counts)) <= 2:
            csv_score = max(csv_score, len(lines))
    return "yaml" if yaml_score > csv_score else "csv"


def detect_format(sample: bytes, encoding: str) -> str:
    text = sample.decode(encoding, errors="replace")
    stripped = text.lstrip()
    if stripped.startswith("<?xml") or stripped.startswith("<"):
        return "xml"
    if stripped.startswith("{") or stripped.startswith("["):
        # NDJSON: every sampled line is itself a JSON document
        lines = [ln for ln in text.splitlines() if ln.strip()]
        head = lines[:50]
        if len(lines) > 1:
            ok = 0
            for ln in head:
                try:
                    json.loads(ln)
                    ok += 1
                except ValueError:
                    break
            if ok == len(head):
                return "ndjson"
        return "json"
    return _score_yaml_csv(text)


def detect_csv_dialect(sample: bytes, encoding: str):
    """Delimiter/quote sniff over the first 8 KB, skipping the header
    line (reference: structa/source.py:205-224 uses csv.Sniffer; this
    is the same contract without the stdlib's corner-case failures)."""
    text = sample[:8192].decode(encoding, errors="replace")
    if len(sample) >= 8192:
        # the window cut the file mid-row: a partial last line would
        # under-count every delimiter and disqualify the real one
        end = max(text.rfind("\n"), text.rfind("\r"))
        if end > 0:
            text = text[:end + 1]
    lines = [ln for ln in text.splitlines() if ln.strip()]
    body = lines[1:] if len(lines) > 1 else lines
    best, best_score = ",", -1.0
    for delim in (",", ";", "\t", "|", ":"):
        counts = [ln.count(delim) for ln in body] or [0]
        if min(counts) < 1:
            continue
        # consistency: low spread, high count
        spread = max(counts) - min(counts)
        score = min(counts) - spread * 0.5
        if score > best_score:
            best, best_score = delim, score
    quote = '"' if text.count('"') >= text.count("'") else "'"
    header = None
    if len(lines) > 1:
        def numeric_fields(ln):
            return sum(bool(re.fullmatch(r"[-+.\d eE]+", f))
                       for f in ln.split(best))

        # signal 1: a non-numeric first row over a numeric body
        header = numeric_fields(lines[0]) < numeric_fields(lines[1])
        # signal 2: stdlib column-wise type/length voting (normalized
        # to comma-delimited — has_header re-sniffs the dialect itself
        # and misses uncommon delimiters)
        import csv as _csv
        try:
            norm = "\n".join(
                ",".join(ln.split(best)) for ln in lines[:50])
            header = header or _csv.Sniffer().has_header(norm)
        except _csv.Error:
            pass
    return best, quote, header


def sniff(sample: bytes) -> Sniff:
    encoding, conf = detect_encoding(sample)
    fmt = detect_format(sample, encoding)
    out = Sniff(encoding=encoding, confidence=conf, format=fmt)
    if fmt == "csv":
        out.csv_delimiter, out.csv_quotechar, out.csv_header = \
            detect_csv_dialect(sample, encoding)
    return out


def sniff_file(path: str, limit: int = SAMPLE_LIMIT) -> Sniff:
    with open(path, "rb") as f:
        return sniff(f.read(limit))
