"""Adversarial HTML golden corpus (round-3 verdict #4).

Two layers:

1. **Byte-pinning** — every committed fixture's extract_html() output
   must equal the committed expected.json entry, field for field.  Any
   behavior change in operators/html_extract.py fails here and demands
   `python tools/gen_html_golden_corpus.py --update` plus a review of
   the expected.json diff (the HTML twin of the refimpl pin on the PDF
   analyzer).
2. **Semantic invariants** — regeneration-proof claims about what the
   heuristics MUST do (boilerplate absent, prose present, titles
   resolved, encodings sniffed), so a bad regeneration can't launder a
   regression through the goldens.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from pdf_extractor_spark.operators.html_extract import extract_html

FIXTURE_DIR = Path(__file__).parent / "fixtures" / "html_golden"
EXPECTED = json.loads((FIXTURE_DIR / "expected.json").read_text(encoding="utf-8"))
NAMES = sorted(EXPECTED)


def _payload(name: str) -> bytes:
    return (FIXTURE_DIR / f"{name}.html").read_bytes()


def test_corpus_is_complete():
    on_disk = {p.stem for p in FIXTURE_DIR.glob("*.html")}
    assert on_disk == set(NAMES)
    assert len(NAMES) >= 40  # the verdict asked for a 30-50 page corpus


@pytest.mark.parametrize("name", NAMES)
def test_golden(name):
    assert extract_html(_payload(name)) == EXPECTED[name]


@pytest.mark.parametrize("name", NAMES)
def test_idempotent_on_own_output(name):
    """Re-extracting the extracted CONTENT blocks (wrapped as a page)
    never loses them — the keep-decision is stable under its own
    output.  Heading lines are excluded: re-wrapped as <p> they lose
    the h1..h6 privilege by design."""
    out = extract_html(_payload(name))
    if not out["main_text"]:
        return
    headings = {e["text"] for e in out["outline"]}
    content = [ln for ln in out["main_text"].split("\n") if ln not in headings]
    if not content:
        return
    wrapped = (
        "<html><body>"
        + "".join(f"<p>{line}</p>" for line in content)
        + "</body></html>"
    ).encode()
    again = extract_html(wrapped)
    assert again["main_text"] == "\n".join(content)


# ---------------------------------------------------------------- invariants
def _text(name: str) -> str:
    return EXPECTED[name]["main_text"]


def test_boilerplate_never_leaks():
    assert "Cookie settings" not in _text("news_article")
    assert "Accept all" not in _text("news_article")
    for leak in ("Section 3", "Footer link"):
        assert leak not in _text("nested_nav_footer")
    assert "Add to cart" not in _text("ecommerce_product")
    assert "Widget Mini" not in _text("ecommerce_product")
    assert "Tag 7" not in _text("cookie_linkfarm")
    assert "Log in" not in _text("forum_thread")


def test_scripts_and_templates_never_leak():
    for leak in ("{{title}}", "Not the real title", "string prose inside js"):
        assert leak not in _text("inline_js_template")
    assert "css prose" not in _text("style_noscript")
    assert "enable JavaScript" not in _text("style_noscript")
    assert "svg label text" not in _text("svg_template_subtrees")
    assert "template card prose" not in _text("svg_template_subtrees")
    assert "commented out prose" not in _text("comments_conditional")
    assert "not content" not in _text("angle_in_attr")


def test_prose_survives_boilerplate_heavy_pages():
    for name in (
        "news_article", "nested_nav_footer", "ecommerce_product",
        "forum_thread", "table_layout", "deep_div_nesting",
        "unclosed_li_soup", "uppercase_tags", "form_heavy",
    ):
        assert len(_text(name)) > 80, name


def test_titles_resolved():
    assert EXPECTED["news_article"]["title"].startswith("City Council")
    assert EXPECTED["title_implicit_close"]["title"] == "Implicit title"
    # implicit </title> must not swallow the body (round-3 ADVICE fix)
    assert len(_text("title_implicit_close")) > 80
    assert EXPECTED["no_title_h1_fallback"]["title"] == "Fallback Heading Title"
    assert EXPECTED["duplicate_h1"]["title"] == "The Real Title"
    assert EXPECTED["entities"]["title"] == "Q&A — tips & tricks"


def test_encoding_sniffing():
    # pure latin-1 page, no declaration → cp1252 fallback decodes umlauts
    assert EXPECTED["latin1_page"]["title"] == "Über die Bäckerei"
    assert "Bäckerei" in _text("latin1_page")
    # mostly-UTF-8 page with stray bytes → UTF-8 kept, é intact
    assert EXPECTED["broken_utf8"]["title"] == "Café review"
    # declared charsets honored
    assert "“Quoted speech”" in _text("meta_charset_cp1252")
    assert EXPECTED["cp1251_russian"]["title"] == "Кодировки"
    assert "кодировки" in _text("cp1251_russian")
    # BOM stripped, never rendered
    assert "﻿" not in _text("bom_page")
    # a LYING charset=utf-8 declaration (bytes are cp1252) is ignored —
    # the damage heuristic routes to cp1252 and the accents survive
    assert "café" in _text("declared_utf8_lie")
    assert "crème brûlée" in _text("declared_utf8_lie")
    assert "�" not in _text("declared_utf8_lie")


def test_rtl_and_nonlatin_prose_kept():
    assert "اليمين إلى اليسار" in _text("rtl_arabic")
    assert EXPECTED["rtl_arabic"]["outline"][0]["text"] == "استخراج المحتوى العربي"
    assert "בעברית" in _text("rtl_hebrew_mixed")
    assert "中文正文内容" in _text("cjk_article")
    assert "本文を抽出" in _text("japanese_mixed")
    assert "한국어 웹 문서" in _text("korean_prose")
    assert "ภาษาไทย" in _text("thai_prose")
    # …but space-free nav/linkfarms still drop
    assert "分类7" not in _text("cjk_linkfarm")
    assert "首页" not in _text("cjk_article")
    # short CJK runs inside Latin prose fall through to the word gates
    # instead of vetoing the block
    assert "こんにちは世界のニュースです" in _text("bilingual_short_cjk")


def test_damage_is_contained():
    assert EXPECTED["empty_doc"]["main_text"] == ""
    assert EXPECTED["whitespace_only"]["main_text"] == ""
    assert len(_text("truncated_mid_tag")) > 80  # text before the cut survives
    # binary splice: both surrounding paragraphs survive
    assert EXPECTED["binary_splice"]["n_kept"] >= 2
    assert len(_text("stray_end_tags")) > 80


def test_outline_levels():
    ladder = [e["level"] for e in EXPECTED["heading_ladder"]["outline"]]
    assert ladder == ["H1", "H2", "H3", "H4", "H5", "H6"]
    semantic = EXPECTED["main_article_semantics"]
    # the banner h1 lives in <header> (dropped); only the article h1 remains
    assert [e["text"] for e in semantic["outline"]] == ["Actual Article Heading"]


def test_html_stats_warns_when_fixtures_absent(spark, tmp_path, monkeypatch, caplog):
    """Without the golden fixtures on disk (a shipped zip), html_stats
    runs rows-only over the generated pages. It must say so: a silent
    rows-only pass reads like a hash-matched one."""
    import logging

    from pdf_extractor_spark.plans import queries as Q

    monkeypatch.setattr(Q, "_HTML_GOLDEN_DIR", tmp_path / "absent")
    with caplog.at_level(logging.WARNING, logger=Q.__name__):
        Q.html_stats(spark, None)
    assert any(
        r.levelno == logging.WARNING and "rows-only" in r.getMessage() for r in caplog.records
    )
    caplog.clear()
    monkeypatch.setattr(Q, "_HTML_GOLDEN_DIR", FIXTURE_DIR)
    with caplog.at_level(logging.WARNING, logger=Q.__name__):
        Q.html_stats(spark, None)
    assert not caplog.records
