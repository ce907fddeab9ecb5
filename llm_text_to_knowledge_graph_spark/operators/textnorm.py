"""Unicode text normalization for web-crawl corpora.

Two cleanup stages every large-scale text pipeline needs BEFORE
fingerprinting/dedup (byte-level hashes treat "é" composed and
decomposed as different documents) and before tokenization (fullwidth
forms, ligatures and compatibility characters explode vocabulary):

* :func:`normalize_unicode` — NFC/NFKC canonical/compatibility
  normalization (unicodedata, the stdlib binding of the UAX #15
  algorithm). There is no JVM-side Spark SQL function for this, so the
  crossing is ONE Arrow-batched pandas UDF — the documented slow-path
  exception, amortized over whole batches; the fast pre-filter below
  keeps the common case cheap.
* :func:`fix_mojibake` — deterministic repair of the classic
  double-encoding family: UTF-8 bytes decoded as Windows-1252
  ("Café" -> "CafÃ©", "’" -> "â€™") somewhere upstream. The repair
  re-encodes per WHATWG windows-1252 (cp1252 plus C1 passthrough for
  the five unmapped bytes, so mixed smart-quote + accented-capital
  pages repair too), accepts the round trip only when (a) the input
  contains at least one UTF-8-lead + continuation character pair,
  (b) the bytes decode as STRICT UTF-8, (c) the text strictly
  shortens (multibyte sequences collapse), and (d) no new lead +
  continuation pairs appear — then iterates to fixpoint so
  double-mangled text peels every layer. Residual false-positive
  class, documented rather than hidden: a legit string whose cp1252
  bytes coincidentally form valid UTF-8 AND that carries a
  lead+continuation pair (e.g. the contrived "é©\\xad") is
  indistinguishable from real mojibake at the byte level; the
  ``_was_mojibake`` flag exists so operators can audit repairs per
  source.

Both are pure per-row functions (no state, no shuffle): at 100 TB they
pipeline inside the ingest scan next to html_extract, and incremental
maintenance is trivial (new rows only).

ASCII fast path: a batch that is pure ASCII is returned untouched
without calling unicodedata (ASCII is NFC- and NFKC-invariant, and
mojibake markers are non-ASCII by construction) — on web corpora the
overwhelming majority of English pages take this path, so the Python
cost concentrates on the rows that can actually change.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType

# WHATWG windows-1252: cp1252 with the five unmapped bytes
# (0x81/0x8D/0x8F/0x90/0x9D) passing through as C1 controls — browsers
# decode this way, so real mixed mojibake contains BOTH cp1252
# punctuation chars and C1 controls in one string
_W1252_ENC = {
    bytes([b]).decode("cp1252", errors="ignore") or chr(b): b
    for b in range(256)
}
# producers that decoded as latin-1 (or errors='replace'-ish paths)
# emit the RAW C1 control for 0x80-0x9F instead of the cp1252 char —
# alias both spellings back to the byte (no collisions: C1 controls
# are not cp1252 images of any other byte)
for _b in range(0x80, 0xA0):
    _W1252_ENC.setdefault(chr(_b), _b)
# continuation class: what bytes 0x80-0xBF look like after the WHATWG
# decode; lead class: bytes 0xC2-0xF4 (UTF-8 2/3/4-byte leads)
_CONT = {bytes([b]).decode("cp1252", errors="ignore") or chr(b)
         for b in range(0x80, 0xC0)} | {chr(b) for b in range(0x80, 0xA0)}
_LEAD = {bytes([b]).decode("cp1252", errors="ignore") or chr(b)
         for b in range(0xC2, 0xF5)}


def _seq_count(s: str) -> int:
    """Number of UTF-8-lead + continuation character pairs — the
    byte-level signature mojibake always carries and clean text rarely
    does."""
    return sum(
        1
        for a, b in zip(s, s[1:])
        if a in _LEAD and b in _CONT
    )


def _w1252_bytes(s: str) -> bytes | None:
    """Encode per WHATWG windows-1252 (cp1252 + C1 passthrough); None
    when any character has no single-byte image."""
    try:
        return s.encode("cp1252")
    except UnicodeEncodeError:
        pass
    out = bytearray()
    for ch in s:
        b = _W1252_ENC.get(ch)
        if b is None:
            return None
        out.append(b)
    return bytes(out)


def repair_mojibake_str(s: str) -> str:
    """Repair double-encoded text, peeling one encoding layer per pass
    and iterating to fixpoint (a twice-mangled 'CafÃƒÂ©' reaches
    'Café'). A pass rewrites only when the input carries a
    lead+continuation pair, its WHATWG-windows-1252 bytes decode as
    STRICT UTF-8, the text strictly shortens, and the repair does not
    introduce new lead+continuation pairs. Idempotent by construction:
    the fixpoint loop stops exactly when a pass changes nothing."""
    while True:
        nxt = _repair_once(s)
        if nxt == s:
            return s
        s = nxt


def _repair_once(s: str) -> str:
    if not s or s.isascii():
        return s
    seq = _seq_count(s)
    if seq == 0:
        return s
    raw = _w1252_bytes(s)
    if raw is None:
        return s
    try:
        fixed = raw.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return s
    if len(fixed) >= len(s):
        return s
    fixed_seq = _seq_count(fixed)
    # strictly fewer signature pairs, never new garbage of our own
    return fixed if fixed_seq < seq else s


def normalize_unicode(
    df: DataFrame, col: str = "text", form: str = "NFC"
) -> DataFrame:
    """Replace ``col`` with its ``form``-normalized text (UAX #15;
    form in NFC/NFD/NFKC/NFKD). Null-safe; one Arrow crossing."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    @F.pandas_udf(StringType())
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: x
            if x is None or x.isascii()
            else unicodedata.normalize(form, x)
        )

    return df.withColumn(col, _norm(F.col(col)))


def fix_mojibake(df: DataFrame, col: str = "text") -> DataFrame:
    """Repair double-encoded text in ``col``; adds ``<col>_was_mojibake``
    marking rows the repair changed (the corpus-health metric a crawl
    operator tracks per source/domain). Null-safe; one Arrow crossing
    computes both columns (repair once, compare once)."""

    @F.pandas_udf(StringType())
    def _fix(s: pd.Series) -> pd.Series:
        return s.map(lambda x: x if x is None else repair_mojibake_str(x))

    out = df.withColumn("__fixed", _fix(F.col(col)))
    return (
        out.withColumn(
            f"{col}_was_mojibake",
            F.when(F.col(col).isNull(), F.lit(None).cast("boolean"))
            .otherwise(F.col("__fixed") != F.col(col))
            .cast(BooleanType()),
        )
        .withColumn(col, F.col("__fixed"))
        .drop("__fixed")
    )


# --- charset detection + decode (crawl ingest: html is BYTES) ---------

# WHATWG-ish label normalization for legacy declarations; the latin-1
# family is decoded as windows-1252 (what browsers actually do).
# utf-8/utf-16 labels are intentionally ABSENT: a declaration readable
# in the ASCII-compatible byte stream cannot be utf-16 (WHATWG maps
# those labels to utf-8), and utf-8 is already decided content-first.
_CHARSET_LABELS = {
    "iso-8859-1": "cp1252", "iso8859-1": "cp1252", "latin-1": "cp1252",
    "latin1": "cp1252", "windows-1252": "cp1252", "cp1252": "cp1252",
}
# a real meta tag, not any stray "charset=" in a URL or script src
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]{0,200}?charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)", re.I
)
# C-level WHATWG windows-1252 decode: latin-1 (bytes==codepoints), then
# translate the 0x80-0x9F block to its cp1252 images (C1 passthrough
# for the five unmapped bytes keeps the identity mapping)
_W1252_TRANS = str.maketrans({
    b: bytes([b]).decode("cp1252", errors="ignore") or chr(b)
    for b in range(0x80, 0xA0)
})


def _decode_w1252(raw: bytes) -> str:
    return raw.decode("latin-1").translate(_W1252_TRANS)


def decode_page_bytes(raw: bytes) -> tuple[str, str]:
    """(text, charset) in one pass — every decode result is reused, so
    the dominant valid-UTF-8 page pays exactly ONE strict decode.

    Order of evidence (content-first, declarations can lie):
      1. BOM (utf-8-sig / utf-16 either endianness).
      2. Strict UTF-8 validity of the WHOLE body: valid and NUL-free
         means utf-8, whatever any meta tag claims (mislabeled legacy
         declarations over valid UTF-8 are endemic on the legacy web).
         DENSE one-sided NUL bytes inside "valid UTF-8" are the
         BOM-less UTF-16 signature (ASCII chars carry a zero byte
         each, all on one parity); the zero parity (even/odd offsets)
         picks the endianness. The branch demands real density
         (zeros >= 20% of bytes) AND one-sidedness (>= 90% on one
         parity) so a stray NUL or two in otherwise-valid UTF-8
         (truncated response, embedded binary — common in crawl HTML)
         cannot flip the whole page into UTF-16 noise; sparse NULs are
         stripped and the page stays utf-8. Accepted trade at the tiny
         end: a BOM-less UTF-16 body under ~16 bytes (fewer than 8
         zeros) fails the density floor and is labeled utf-8 with its
         NULs stripped — the recovered TEXT is still right, only the
         label is conservative, and real crawl pages are never that
         short.
      3. A real <meta ... charset=...> declaration from the legacy
         latin-1 family (only consulted once UTF-8 has failed).
      4. Nearly-valid UTF-8: a handful of bad bytes (<= 4) against
         at least twice as many SUCCESSFULLY decoded multibyte
         sequences — real UTF-8 structure with crawl noise stays utf-8
         with U+FFFD holes instead of mojibaking the whole page
         through cp1252, while genuine latin-1 text (where every
         non-ASCII byte fails) never qualifies.
      5. cp1252 via the WHATWG table — the cannot-fail fallback.
    """
    if raw.startswith(b"\xef\xbb\xbf"):
        return raw.decode("utf-8-sig", errors="replace"), "utf-8-sig"
    if raw.startswith(b"\xff\xfe"):
        return raw.decode("utf-16", errors="replace"), "utf-16-le"
    if raw.startswith(b"\xfe\xff"):
        return raw.decode("utf-16", errors="replace"), "utf-16-be"
    try:
        text = raw.decode("utf-8")
        if b"\x00" not in raw:
            return text, "utf-8"
        even = raw[0::2].count(0)
        odd = raw[1::2].count(0)
        dense = (even + odd) >= max(8, len(raw) // 5)
        one_sided = max(even, odd) >= 9 * min(even, odd)
        if dense and one_sided:
            if odd >= even:  # zeros in high bytes of LE code units
                return raw.decode("utf-16-le", errors="replace"), "utf-16-le"
            return raw.decode("utf-16-be", errors="replace"), "utf-16-be"
        return text.replace("\x00", ""), "utf-8"
    except UnicodeDecodeError:
        pass
    m = _META_CHARSET_RE.search(raw[:1024])
    if m:
        label = m.group(1).decode("ascii", errors="ignore").lower()
        if _CHARSET_LABELS.get(label) == "cp1252":
            return _decode_w1252(raw), "cp1252"
    text = raw.decode("utf-8", errors="replace")
    n_bad = text.count("\ufffd")
    n_good_mb = sum(
        1 for ch in text if ord(ch) > 0x7F and ch != "\ufffd"
    )
    if n_bad <= 4 and n_good_mb >= 2 * n_bad:
        return text, "utf-8"
    return _decode_w1252(raw), "cp1252"


def decode_pages(df: DataFrame) -> DataFrame:
    """Adds ``text`` + ``charset`` decoded from the binary ``html``
    — the charset-aware replacement for a blind utf-8 decode at crawl
    ingest. One Arrow crossing computes both outputs."""
    from pyspark.sql.types import StructField, StructType

    out_t = StructType([
        StructField("t", StringType()),
        StructField("c", StringType()),
    ])

    @F.pandas_udf(out_t)
    def _dec(s: pd.Series) -> pd.DataFrame:
        rows = [
            (None, None) if x is None else decode_page_bytes(bytes(x))
            for x in s
        ]
        return pd.DataFrame(rows, columns=["t", "c"])

    tmp = df.withColumn("__dec", _dec(F.col("html")))
    return (
        tmp.withColumn("text", F.col("__dec.t"))
        .withColumn("charset", F.col("__dec.c"))
        .drop("__dec")
    )
