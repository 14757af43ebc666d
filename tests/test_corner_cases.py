"""Tokenization robustness over messy real-world-ish text (reference:
test/beagle/corner_case_phrases_test.clj — HTML-extracted text must
produce ZERO false positives for a phrase that isn't there)."""

import re

from beagle_spark import highlighter

# Representative of Jsoup-extracted marketing/product HTML text: entity
# leftovers, hyphenated product names, punctuation runs, URLs, unicode.
HTML_DOC = """
<html><head><title>IT Management &amp; Monitoring</title></head><body>
<h1>Remote Monitoring &amp; Management</h1>
<p>Try N-able&trade; RMM — the all-in-one platform. Version 12.3.1
supports Windows&reg;, macOS&trade; and Linux. Pricing from $99/month.</p>
<p>Contact sales@example.com or visit https://example.com/products?id=42&amp;x=1.</p>
<p>Die L&ouml;sung f&uuml;r zentrale Verwaltung — jetzt testen!</p>
<ul><li>Patch-Management</li><li>Backup &amp; Recovery</li>
<li>Antivirus (AV) — integriert</li></ul>
</body></html>
"""


def strip_html(html: str) -> str:
    text = re.sub(r"<[^>]+>", " ", html)
    entities = {"&amp;": "&", "&trade;": "™", "&reg;": "®",
                "&ouml;": "ö", "&uuml;": "ü"}
    for k, v in entities.items():
        text = text.replace(k, v)
    return re.sub(r"\s+", " ", text).strip()


def test_no_false_positives_on_html_text():
    text = strip_html(HTML_DOC)
    hl = highlighter([{"text": "N-Able N-Central", "case-sensitive?": False}])
    assert hl(text) == []


def test_true_positive_on_html_text():
    text = strip_html(HTML_DOC)
    hl = highlighter([{"text": "Patch Management", "case-sensitive?": False}])
    anns = hl(text)
    assert len(anns) == 1
    assert anns[0]["text"] == "Patch-Management"


def test_unicode_offsets():
    # non-ASCII text: offsets are CHARACTER offsets (java_test.clj:10-14)
    text = "Savanorėlio g. 12, Kaunas — Lietuva"
    hl = highlighter([{"text": "Kaunas"}])
    anns = hl(text)
    assert len(anns) == 1
    assert text[anns[0]["begin_offset"] : anns[0]["end_offset"]] == "Kaunas"


def test_emoji_and_cjk():
    text = "launch \U0001f680 rocket 中文测试 done"
    hl = highlighter([{"text": "rocket"}])
    anns = hl(text)
    assert anns and anns[0]["text"] == "rocket"
    hl = highlighter([{"text": "中文测试"}])
    anns = hl(text)
    assert anns and anns[0]["text"] == "中文测试"


def test_uax29_regional_indicators_and_zwj():
    """UAX#29 WB15/16 (regional indicators pair into flags) and WB3c
    (no break inside emoji ZWJ sequences); Lucene 8.x StandardTokenizer
    emits these as <EMOJI> tokens."""
    from beagle_spark.analysis.tokenizers import get_tokenizer

    tok = get_tokenizer("standard")
    # two flags = two RI pairs, not four RI singles or one run
    assert [t.text for t in tok("\U0001F1FA\U0001F1F8\U0001F1E9\U0001F1EA")] == [
        "\U0001F1FA\U0001F1F8", "\U0001F1E9\U0001F1EA"
    ]
    # odd RI count: trailing single stands alone
    assert [t.text for t in tok("\U0001F1FA\U0001F1F8\U0001F1E9")] == [
        "\U0001F1FA\U0001F1F8", "\U0001F1E9"
    ]
    # ZWJ family sequence is ONE token
    fam = "\U0001F469‍\U0001F469‍\U0001F467"
    assert [t.text for t in tok(f"go {fam} now")] == ["go", fam, "now"]
    # skin-tone modifier binds to its base
    assert [t.text for t in tok("a \U0001F44D\U0001F3FD b")] == [
        "a", "\U0001F44D\U0001F3FD", "b"
    ]
    # emoji are matchable as dictionary phrases end-to-end
    anns = highlighter([{"text": fam, "id": "f"}])(f"pic {fam} attached")
    assert anns and anns[0]["text"] == fam and anns[0]["begin_offset"] == 4

def test_text_default_pictographs_and_keycaps():
    """ADVICE r8: ©/®/™/〰/〽 default to TEXT presentation — Lucene 8.x
    only emits them as <EMOJI> with an explicit U+FE0F variation
    selector; bare forms are punctuation (dropped). Keycap sequences
    (UTS#51 ED-20: [0-9#*] FE0F? U+20E3) are single tokens."""
    from beagle_spark.analysis.tokenizers import get_tokenizer

    tok = get_tokenizer("standard")
    # bare text-default pictographs are NOT tokens
    assert [t.text for t in tok("acme © 2024 widgets ® brand ™")] == [
        "acme", "2024", "widgets", "brand"
    ]
    assert [t.text for t in tok("wavy 〰 part 〽 done")] == [
        "wavy", "part", "done"
    ]
    # with FE0F they ARE emoji tokens
    assert [t.text for t in tok("acme ®️ brand ™️")] == [
        "acme", "®️", "brand", "™️"
    ]
    # keycap sequences are ONE token, with and without FE0F
    assert [t.text for t in tok("press 1️⃣ or #️⃣")] == [
        "press", "1️⃣", "or", "#️⃣"
    ]
    assert [t.text for t in tok("bare 5⃣ keycap *️⃣")] == [
        "bare", "5⃣", "keycap", "*️⃣"
    ]
    # plain digits/letters unaffected; emoji-presentation emoji still fine
    assert [t.text for t in tok("v12.3 \U0001F680 go")] == [
        "v12.3", "\U0001F680", "go"
    ]


def test_repeated_token_document_bounded():
    """A document of one token repeated 10^5 times under a slop-5
    three-term entry, as a sloppy phrase and as an unordered fuzzy span:
    every start but the last two begins a match, and the per-anchor
    window is a bisect slice, so the search stays near-linear."""
    import time

    text = " ".join(["spam"] * 100_000)
    hl = highlighter([
        {"text": "spam spam spam", "id": "sloppy", "slop": 5},
        {"text": "spam spam spam", "id": "near", "slop": 5,
         "fuzzy": True, "in-order?": False},
    ])
    t0 = time.perf_counter()
    anns = hl(text)
    elapsed = time.perf_counter() - t0
    for entry_id in ("sloppy", "near"):
        spans = [(a["begin_offset"], a["end_offset"])
                 for a in anns if a["dict_entry_id"] == entry_id]
        assert len(spans) == 99_998
        # first match: the three tokens starting at the anchor
        assert spans[0] == (0, len("spam spam spam"))
    assert elapsed < 30, elapsed
