"""Markdown emit arm — webextract/markdown.py.

The load-bearing invariant: extract_markdown SELECTS exactly the blocks
extract_html selects (same spans, same order) on every fixture page — the
walker mirrors segment_blocks, and these tests are the drift alarm. On top
of that: rendering units for headings/lists/links/quotes/fences and a
degenerate-markup fuzz.
"""

import random

from corsearch_project_spark.webextract.htmlx import extract_html
from corsearch_project_spark.webextract.markdown import extract_markdown
from corsearch_project_spark.webextract.rules import DEFAULT_RULE, Rule

# Relaxed thresholds so short hand-written fixtures keep every block.
R = Rule(min_text_density=0.0, min_block_chars=0, max_link_density=1.0)

LONG = (
    "This is a long enough paragraph of real prose, with commas, full "
    "stops. It keeps the block above every selection threshold."
)


def test_spans_match_text_arm_on_fixture_corpus():
    from corsearch_project_spark.fixtures.gen_pages import gen_pages

    checked = 0
    for row in gen_pages(300, seed=1234, skew="heavy"):
        html = row["html"] or b""
        if not html.lstrip()[:1] == b"<":
            continue
        try:
            src = html.decode("utf-8")
        except UnicodeDecodeError:
            continue
        _, text_spans = extract_html(src)
        _, md_spans = extract_markdown(src)
        assert md_spans == text_spans, row["url"]
        checked += 1
    assert checked > 100  # the corpus is mostly HTML


def test_heading_levels_render_hash_runs():
    md, _ = extract_markdown(
        f"<h1>Top title here</h1><h3>Sub heading line</h3><p>{LONG}</p>", R
    )
    assert md.startswith("# Top title here\n\n### Sub heading line\n\n")


def test_unordered_and_ordered_lists():
    md, _ = extract_markdown(
        "<ul><li>alpha item one</li><li>beta item two</li></ul>"
        "<ol><li>first ranked</li><li>second ranked</li></ol>", R
    )
    assert "- alpha item one\n- beta item two" in md
    assert "1. first ranked\n2. second ranked" in md
    # list blocks separated from the next list by a blank line
    assert "beta item two\n\n1. first ranked" in md


def test_nested_list_indents():
    md, _ = extract_markdown(
        "<ul><li>outer point</li>"
        "<ul><li>inner detail</li></ul></ul>", R
    )
    assert "- outer point\n" in md
    assert "\n  - inner detail" in md


def test_links_emphasis_and_code_inline():
    md, _ = extract_markdown(
        f'<p>{LONG} See <a href="https://x.example/d">the docs</a> and '
        f"<b>bold words</b> plus <code>fn()</code>.</p>", R
    )
    assert "[the docs](https://x.example/d)" in md
    assert "**bold words**" in md
    assert "`fn()`" in md


def test_anchor_without_href_stays_plain():
    md, _ = extract_markdown(f"<p>{LONG} <a>bare anchor text</a></p>", R)
    assert "bare anchor text" in md
    assert "](" not in md


def test_blockquote_prefix_and_nesting():
    md, _ = extract_markdown(
        f"<blockquote><p>{LONG}</p>"
        f"<blockquote><p>deeper quoted line</p></blockquote></blockquote>", R
    )
    assert f"> {LONG}" in md
    assert "> > deeper quoted line" in md


def test_pre_renders_fenced():
    md, _ = extract_markdown(f"<pre>x = 1; y = 2</pre><p>{LONG}</p>", R)
    assert "```\nx = 1; y = 2\n```" in md


def test_degenerate_block_inside_anchor_wraps_own_content_only():
    md, _ = extract_markdown(
        f'<p><a href="https://x.example">start text {LONG}'
        f"<div>divided content {LONG}</div></a></p>", R
    )
    # build_dom auto-closes the anchor at the <div> (a block is never a
    # child of an inline node), so the link wraps exactly its own text and
    # the div renders as a separate, unwrapped block. (The pre-fix walker
    # skipped the wrap entirely whenever the inline element OPENED its
    # block — dropping link targets from every block-initial anchor.)
    assert "divided content" in md and "start text" in md
    first, rest = md.split("\n\n", 1)
    assert first.startswith("[start text") and first.endswith("](https://x.example)")
    assert "](" not in rest


def test_block_initial_inline_elements_keep_decoration():
    md, _ = extract_markdown(
        f'<p><a href="https://x.example/d">the docs</a> {LONG}</p>'
        f"<h2><b>Bold lead</b> heading tail</h2>", R
    )
    assert "[the docs](https://x.example/d)" in md
    assert "**Bold lead**" in md


def test_plain_paragraphs_equal_text_arm():
    src = f"<p>{LONG}</p><p>{LONG} Second paragraph differs slightly.</p>"
    text, _ = extract_html(src, R)
    md, _ = extract_markdown(src, R)
    assert md == text.replace("\n", "\n\n")


def test_fuzz_never_crashes_and_is_deterministic():
    rng = random.Random(77)
    bits = ["<p>", "</p>", "<ul>", "<li>", "</li>", "</ul>", "<ol>",
            "<blockquote>", "</blockquote>", "<a href='u'>", "</a>",
            "<b>", "</b>", "<pre>", "</pre>", "<h2>", "</h2>", "<div>",
            "</div>", "word ", "text, more. ", "&amp; ", "<", ">", '"']
    for _ in range(200):
        src = "".join(rng.choice(bits) for _ in range(rng.randint(1, 120)))
        a = extract_markdown(src, R)
        b = extract_markdown(src, R)
        assert a == b


def test_markdown_kernel_spark_stage(spark):
    """Spark arm: the dual kernel keeps the one-Python-stage contract,
    emits markdown for HTML rows, and falls back to the plain arm for
    non-HTML kinds (identical text there)."""
    from corsearch_project_spark.fixtures.gen_pages import (
        default_rules,
        gen_pages,
        pages_to_pandas,
    )
    from corsearch_project_spark.operators.kernel import run_dual_kernel
    from corsearch_project_spark.webextract.rules import rules_to_plain

    pages = spark.createDataFrame(pages_to_pandas(gen_pages(60, seed=31)))
    rules_bc = spark.sparkContext.broadcast(rules_to_plain(default_rules()))
    md_df = run_dual_kernel(pages, rules_bc)

    plan = md_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") + plan.count("PythonMapInArrow") == 1
    assert "BatchEvalPython" not in plan

    rows = md_df.collect()
    assert len(rows) == pages.count()
    n_decorated = 0
    for r in rows:
        if r["doc_kind"] != "html":
            # non-HTML kinds reuse the plain arm verbatim
            assert r["extracted_md"] == r["extracted_text"]
            assert r["md_sha256"] == r["text_sha256"]
        elif any(tok in r["extracted_md"] for tok in ("# ", "- ", "](")):
            n_decorated += 1
    assert n_decorated > 5  # the synthetic corpus is heading/list/link-rich


def test_pipeline_with_markdown_flag(spark, tmp_path):
    """--with-markdown end-to-end: the bucketed table gains the
    (extracted_md, md_sha256) columns, text columns are byte-identical to
    the plain run, and the plan still has exactly one Python stage."""
    import os

    from corsearch_project_spark.fixtures.gen_pages import gen_pages, pages_to_pandas
    from corsearch_project_spark.plans.extract_pipeline import (
        ExtractConfig,
        run_extract,
    )

    src = os.path.join(str(tmp_path), "pages.parquet")
    spark.createDataFrame(pages_to_pandas(gen_pages(40, seed=8))).write.parquet(src)

    out_md = os.path.join(str(tmp_path), "with_md")
    out_plain = os.path.join(str(tmp_path), "plain")
    run_extract(
        spark,
        ExtractConfig(src, out_md, run_id="MD1", buckets=4, salt=2,
                      with_markdown=True),
    )
    run_extract(
        spark,
        ExtractConfig(src, out_plain, run_id="P1", buckets=4, salt=2),
    )

    dfm = spark.read.parquet(os.path.join(out_md, "extracted"))
    dfp = spark.read.parquet(os.path.join(out_plain, "extracted"))
    assert {"extracted_md", "md_sha256"} <= set(dfm.columns)
    assert "extracted_md" not in dfp.columns

    m = {r["url"]: r for r in dfm.collect()}
    p = {r["url"]: r for r in dfp.collect()}
    assert set(m) == set(p)
    n_md_differs = 0
    for url in m:
        assert m[url]["extracted_text"] == p[url]["extracted_text"]
        assert m[url]["text_sha256"] == p[url]["text_sha256"]
        assert m[url]["md_sha256"]
        if m[url]["extracted_md"] != m[url]["extracted_text"]:
            n_md_differs += 1
    assert n_md_differs > 5  # markdown actually decorates HTML rows
