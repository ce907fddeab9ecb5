"""Unicode normalization + mojibake repair (operators/textnorm.py)."""

import unicodedata

import pytest

from llm_text_to_knowledge_graph_spark.operators.textnorm import (
    decode_page_bytes,
    fix_mojibake,
    normalize_unicode,
    repair_mojibake_str,
)


def test_repair_mojibake_classic_cases():
    # UTF-8 read as cp1252, the dominant double-encoding family
    assert repair_mojibake_str("CafÃ©") == "Café"
    assert repair_mojibake_str("itâs") == "it’s"
    assert repair_mojibake_str("naÃ¯ve rÃ©sumÃ©") == "naïve résumé"
    # multi-byte CJK survives the round trip too
    garbled = "日本語".encode("utf-8").decode("cp1252")
    assert repair_mojibake_str(garbled) == "日本語"


def test_repair_mojibake_whatwg_mixed_and_double():
    # WHATWG windows-1252: C1 passthrough chars (here U+0081 from the
    # mangled 'A-acute') and cp1252 punctuation in ONE string both repair
    mixed = "\u00c1ndale it\u2019s".encode("utf-8").decode(
        "cp1252", errors="replace"
    )
    # build via the WHATWG path instead: cp1252 with C1 passthrough
    raw = "\u00c1ndale it\u2019s".encode("utf-8")
    mixed = "".join(
        bytes([b]).decode("cp1252", errors="ignore") or chr(b) for b in raw
    )
    assert repair_mojibake_str(mixed) == "\u00c1ndale it\u2019s"
    # twice-mangled text peels BOTH layers in one call (fixpoint loop)
    twice = ("Caf\u00e9".encode("utf-8").decode("cp1252")
             .encode("utf-8").decode("cp1252"))
    assert repair_mojibake_str(twice) == "Caf\u00e9"


def test_repair_mojibake_leaves_clean_text_alone():
    for s in ("plain ascii", "Café déjà vu", "日本語のテキスト",
              "emoji 🙂 stays", "", "Ä single umlaut word ÄrztÄ"):
        # either no markers or repair would not reduce them -> unchanged
        assert repair_mojibake_str(s) == s


def test_repair_mojibake_idempotent():
    s = "CafÃ© corner"
    once = repair_mojibake_str(s)
    assert repair_mojibake_str(once) == once == "Café corner"


def test_normalize_unicode_forms(spark):
    rows = [
        ("1", "Café"),          # decomposed e + combining acute
        ("2", "ﬁne ｆｕｌｌ"),          # ligature + fullwidth (NFKC folds)
        ("3", None),
        ("4", "ascii only"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    nfc = {
        r["doc_id"]: r["text"]
        for r in normalize_unicode(df, "text", "NFC").collect()
    }
    assert nfc["1"] == "Café" and len(nfc["1"]) == 4
    assert nfc["2"] == "ﬁne ｆｕｌｌ"  # NFC keeps compatibility chars
    assert nfc["3"] is None and nfc["4"] == "ascii only"
    nfkc = {
        r["doc_id"]: r["text"]
        for r in normalize_unicode(df, "text", "NFKC").collect()
    }
    assert nfkc["2"] == "fine full"
    assert nfkc["1"] == "Café"
    # parity with the stdlib on every row
    for k, v in nfkc.items():
        want = rows[int(k) - 1][1]
        assert v == (None if want is None else unicodedata.normalize("NFKC", want))
    with pytest.raises(ValueError, match="normalization form"):
        normalize_unicode(df, "text", "NFX")


def test_fix_mojibake_dataframe(spark):
    rows = [
        ("1", "CafÃ©"),
        ("2", "clean Café"),
        ("3", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["text"], r["text_was_mojibake"])
        for r in fix_mojibake(df).collect()
    }
    assert got["1"] == ("Café", True)
    assert got["2"] == ("clean Café", False)
    assert got["3"] == (None, None)


def _charset(raw: bytes) -> str:
    return decode_page_bytes(raw)[1]


def test_sniff_charset_paths():
    assert _charset("plain".encode("utf-8")) == "utf-8"
    assert _charset("Café".encode("utf-8")) == "utf-8"
    assert _charset("Café".encode("latin-1")) == "cp1252"
    assert _charset(b"\xef\xbb\xbfhello") == "utf-8-sig"
    assert _charset("hi".encode("utf-16")) == "utf-16-le"  # BOM
    # content-first: a legacy declaration NEVER overrides valid UTF-8
    # (pure ASCII decodes identically either way, and mislabeled
    # iso-8859-1 over real UTF-8 is endemic on the legacy web)
    assert _charset(
        b'<meta charset="iso-8859-1"><p>plain</p>'
    ) == "utf-8"
    assert _charset(
        b'<meta charset="iso-8859-1">' + "Caf\u00e9".encode("utf-8")
    ) == "utf-8"
    # the declaration decides only once strict UTF-8 has failed
    assert _charset(
        b'<meta charset="iso-8859-1">' + "Caf\u00e9".encode("latin-1")
    ) == "cp1252"
    # a LYING utf-8 declaration over invalid utf-8 falls to the sniff
    assert _charset(
        b'<meta charset="utf-8">' + "Caf\u00e9".encode("latin-1")
    ) == "cp1252"
    # stray charset= in a URL is NOT a declaration
    assert _charset(
        b'<script src="/l.js?charset=utf-16be"></script>'
        + "Caf\u00e9".encode("utf-8")
    ) == "utf-8"
    # crawl noise: real UTF-8 structure + a stray byte stays utf-8
    assert _charset(
        "<p>Caf\u00e9 r\u00e9sum\u00e9 and much more</p>".encode("utf-8")
        + b"\x80"
    ) == "utf-8"
    # BOM-less UTF-16 via the NUL-parity heuristic
    assert _charset("hello world page".encode("utf-16-le")) == "utf-16-le"
    assert _charset("hello world page".encode("utf-16-be")) == "utf-16-be"


def test_stray_nul_does_not_flip_to_utf16():
    """A sparse NUL in otherwise-valid UTF-8 (truncated response,
    embedded binary — common crawl noise) must NOT flip the page to
    UTF-16: the branch requires zero DENSITY (>=20% of bytes) and
    one-sided parity. Sparse NULs are stripped, charset stays utf-8."""
    from llm_text_to_knowledge_graph_spark.operators.textnorm import (
        decode_page_bytes,
    )

    body = "<p>Café résumé and plenty more text</p>".encode(
        "utf-8"
    )
    for raw in (body + b"\x00", b"\x00" + body, body + b"\x00\x00"):
        text, cs = decode_page_bytes(raw)
        assert cs == "utf-8", raw[-4:]
        assert text == body.decode("utf-8").replace("\x00", "")
        assert "\x00" not in text
    # NULs scattered on BOTH parities (binary blob, not UTF-16) stay
    # utf-8 even when dense-ish
    noisy = b"ab\x00\x00\x00c" * 20
    assert _charset(noisy) == "utf-8"
    # ...while genuine BOM-less UTF-16 (dense, one-sided) still wins
    assert _charset(
        "a perfectly ordinary web page title".encode("utf-16-le")
    ) == "utf-16-le"


def test_decode_page_bytes_roundtrips():
    from llm_text_to_knowledge_graph_spark.operators.textnorm import (
        decode_page_bytes,
    )

    for cs_enc, want_cs in (
        ("utf-8", "utf-8"), ("latin-1", "cp1252"), ("utf-16", "utf-16-le")
    ):
        text, cs = decode_page_bytes("Café déjà".encode(cs_enc))
        assert (text, cs) == ("Café déjà", want_cs), cs_enc
    # WHATWG C1 passthrough: 0x81 raw never errors
    text, cs = decode_page_bytes(b"x\x81y")
    assert cs == "cp1252" and text == "x\x81y"


def test_decode_pages_dataframe(spark):
    from pyspark.sql import functions as F

    from llm_text_to_knowledge_graph_spark.operators.textnorm import (
        decode_pages,
    )

    df = spark.createDataFrame(
        [("1",), ("2",), ("3",)], "doc_id string"
    ).select(
        "doc_id",
        F.when(F.col("doc_id") == "1", F.encode(F.lit("Café A"), "UTF-8"))
        .when(F.col("doc_id") == "2", F.encode(F.lit("Café B"), "ISO-8859-1"))
        .otherwise(F.lit(None).cast("binary"))
        .alias("html"),
    )
    got = {
        r["doc_id"]: (r["text"], r["charset"])
        for r in decode_pages(df).collect()
    }
    assert got["1"] == ("Café A", "utf-8")
    assert got["2"] == ("Café B", "cp1252")
    assert got["3"] == (None, None)


def test_extract_paragraphs_charset_auto(spark):
    """charset='auto' wires the sniffing decode into the ingest path:
    a latin-1 page extracts clean text where the blind utf-8 decode
    garbles it, and on valid UTF-8 both modes are identical."""
    import datetime as dt

    from pyspark.sql import functions as F  # noqa: F401

    from llm_text_to_knowledge_graph_spark.operators.paragraphs import (
        extract_paragraphs,
    )
    from llm_text_to_knowledge_graph_spark.schemas import PAGES

    body = "<html><body><p>" + "Caf\u00e9 touch\u00e9 over there, a long paragraph body." + "</p></body></html>"
    ts = dt.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("u://latin1", ts, body.encode("latin-1"), None, "en"),
            ("u://utf8", ts, body.encode("utf-8"), None, "en"),
        ],
        schema=PAGES,
    )
    auto = {
        r["url"]: r["text"]
        for r in extract_paragraphs(pages, charset="auto").collect()
    }
    want = "Caf\u00e9 touch\u00e9 over there, a long paragraph body."
    assert auto["u://latin1"] == want
    assert auto["u://utf8"] == want
    # r5: auto IS the default — the no-arg path behaves like auto
    default = {
        r["url"]: r["text"]
        for r in extract_paragraphs(pages).collect()
    }
    assert default == auto
    blind = {
        r["url"]: r["text"]
        for r in extract_paragraphs(pages, charset="utf-8").collect()
    }
    assert blind["u://utf8"] == want          # identical on valid UTF-8
    assert "\ufffd" in blind["u://latin1"]    # the garble auto avoids
