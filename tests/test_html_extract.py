"""html_extract (L74): tag stripping, entity decoding, comment/script
/style/head removal, block segmentation, and the jusText-style
min-words + anchor-density boilerplate gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.operators.corpus import html_extract

PAGE = (
    "<HTML><head><title>Ignore Me</title><style>.x{a:1}</style>"
    '<script>if (1 < 2) { alert("</p>fake"); }</script></head><body>'
    '<NAV><a href="/">Home</a><a href="/p">Products</a>'
    '<a href="/c">Contact</a></NAV>'
    "<h1>Short Header</h1>"
    "<!-- a comment with <p>fake tags</p> -->"
    "<p>This is the real article body with &amp; plenty of words to "
    "keep\nand an <b>inline</b> bold plus one "
    '<a href="/ref">reference link</a> inside.</p>'
    '<div class="share"><a href="/s">Share</a> <a href="/t">Tweet</a>'
    " now</div>"
    '<footer>&copy; 2024 <a href="/a">About</a> <a href="/pr">Privacy'
    '</a> <a href="/te">Terms</a></footer></body></html>'
)


def _one(spark, html, **kw):
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    return html_extract(df, "doc_id", "html", **kw).collect()[0]


def test_boilerplate_blocks_dropped_article_kept(spark):
    r = _one(spark, PAGE)
    assert r["n_blocks"] == 5  # nav, h1, p, share-div, footer
    assert r["n_kept"] == 1
    assert r["extracted_text"] == (
        "This is the real article body with & plenty of words to keep "
        "and an inline bold plus one reference link inside."
    )


def test_script_style_comment_head_invisible(spark):
    # the script's "1 < 2" and the comment's fake </p> must not leak
    # or split blocks; the <head> title never appears
    r = _one(spark, PAGE)
    assert "Ignore Me" not in r["extracted_text"]
    assert "alert" not in r["extracted_text"]
    assert "fake" not in r["extracted_text"]


def test_entities_decoded_amp_last(spark):
    r = _one(spark, "<p>a &amp;lt; b &lt; c &copy; &#39;q&#39; word</p>")
    # &amp;lt; -> literal "&lt;" (NOT "<"): &amp; decodes last
    assert r["extracted_text"] == "a &lt; b < c © 'q' word"


def test_min_words_and_anchor_density_gates(spark):
    short = _one(spark, "<p>too short here</p>")
    assert short["n_blocks"] == 1 and short["n_kept"] == 0
    linky = _one(
        spark,
        '<p>visit <a href="/1">one</a> <a href="/2">two</a> '
        '<a href="/3">three</a> four five six</p>',
    )
    # 9 words, 3 anchors -> 33 per 100 words > 20: dropped
    assert linky["n_kept"] == 0
    # same block passes with a looser ratio
    loose = _one(
        spark,
        '<p>visit <a href="/1">one</a> <a href="/2">two</a> '
        '<a href="/3">three</a> four five six</p>',
        max_anchor_ratio=0.5,
    )
    assert loose["n_kept"] == 1


def test_tagless_text_passes_through_normalized(spark):
    r = _one(spark, "  plain   text with    enough words here  ")
    assert r["extracted_text"] == "plain text with enough words here"
    assert r["n_blocks"] == r["n_kept"] == 1


def test_plan_is_scan_bound_no_shuffle_no_udf(spark):
    # the 100 TB contract: an input already at >= shuffle-partition
    # width takes NO exchange (the r16 widen is conditional) and no
    # Python eval — the extraction stays one scan-bound projection
    from isilon_hadoop_tools_spark.session import shuffle_partition_count

    npart = max(2, shuffle_partition_count(spark))
    df = spark.createDataFrame(
        [(i, PAGE) for i in range(npart)], "doc_id long, html string"
    ).repartition(npart, "doc_id")
    plan = html_extract(df, "doc_id", "html")._jdf.queryExecution()
    s = plan.executedPlan().toString()
    assert s.count("Exchange") <= 1  # only the pre-existing repartition
    assert "ArrowEvalPython" not in s and "BatchEvalPython" not in s


def test_narrow_input_widens_with_exactly_one_exchange(spark):
    # bench-scale contract: a 1-partition input gets exactly ONE
    # keyed repartition before the compute-dense regex stage
    df = spark.createDataFrame(
        [(1, PAGE)], "doc_id long, html string"
    ).coalesce(1)
    out = html_extract(df, "doc_id", "html")
    s = out._jdf.queryExecution().executedPlan().toString()
    assert s.count("Exchange") == 1
    assert "ArrowEvalPython" not in s and "BatchEvalPython" not in s
    # result survives the widen
    assert out.count() == 1
    # the widen's exchange probe reads plan NODES: a literal spelling
    # "Exchange" does not block it, a real (narrow) shuffle does
    from isilon_hadoop_tools_spark.session import widen_narrow_input

    tagged = df.withColumn("tag", F.lit("Exchange"))
    assert widen_narrow_input(tagged, "doc_id") is not tagged
    shuffled = df.repartition(1, "doc_id")
    assert widen_narrow_input(shuffled, "doc_id") is shuffled


def test_html_links_extraction_and_invisible_anchors(spark):
    from isilon_hadoop_tools_spark.operators.corpus import html_links

    html = (
        '<head><script>var s = \'<a href="/not-a-link">\';</script></head>'
        '<!-- <a href="/commented">x</a> -->'
        '<body><A HREF="/one">1</A> text <a class="x" href="/two">2</a>'
        ' <a href="/one">again</a><p>no href <a name="anchor">n</a></p>'
        "</body>"
    )
    df = spark.createDataFrame([(7, html)], "doc_id long, html string")
    out = sorted(
        (r["doc_id"], r["href"]) for r in html_links(df).collect()
    )
    # duplicates kept (multiplicity is the edge weight); script and
    # comment anchors invisible; bare <a name=...> has no href
    assert out == [(7, "/one"), (7, "/one"), (7, "/two")]


def test_gopher_quality_rules_fire_individually(spark):
    from isilon_hadoop_tools_spark.operators.corpus import gopher_quality

    good = "the quick brown fox and the lazy dog have gone to town " * 6
    rows = [
        (1, good),                                   # passes everything
        (2, "short text only"),                      # word count
        (3, "a b c d " * 20 + "the of"),             # mean word len low
        (4, ("# " * 30 + "the of and to be " * 12)), # symbol ratio
        (5, ("12 34 " * 40 + "the of and that")),    # alpha ratio
        (6, ("zebra quartz " * 30)),                 # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert out[1]["passes"]
    assert not out[2]["word_count_ok"] and not out[2]["passes"]
    assert not out[3]["mean_word_len_ok"]
    assert not out[4]["symbol_ratio_ok"]
    assert not out[5]["alpha_word_ratio_ok"]
    assert not out[6]["stopword_rule_ok"]
    # every rule is a visible column for sweep/funnel consumers
    assert set(out[1].asDict()) == {
        "doc_id", "n_words", "word_count_ok", "mean_word_len_ok",
        "symbol_ratio_ok", "alpha_word_ratio_ok", "stopword_rule_ok",
        "passes",
    }


def test_html_extract_input_u001e_is_not_a_block_split(spark):
    """ADVICE r14: real crawls carry binary junk - a pre-existing
    U+001E (the internal block-boundary marker) in the input HTML
    must NOT split blocks or inflate n_blocks; it is stripped before
    the marker pass."""
    from isilon_hadoop_tools_spark.operators.corpus import html_extract

    body = (
        "<html><body><p>alpha\u001ebeta gamma delta epsilon zeta"
        "</p></body></html>"
    )
    clean = (
        "<html><body><p>alphabeta gamma delta epsilon zeta"
        "</p></body></html>"
    )
    df = spark.createDataFrame(
        [(1, body), (2, clean)], "doc_id long, html string"
    )
    out = {
        r["doc_id"]: r
        for r in html_extract(df, "doc_id", "html").collect()
    }
    # junk byte removed, NOT a boundary: identical to the clean page
    assert out[1]["n_blocks"] == out[2]["n_blocks"] == 1
    assert out[1]["extracted_text"] == out[2]["extracted_text"]
    assert out[1]["n_kept"] == 1
