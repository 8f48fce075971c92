"""Byte-level unit tests for the HTML→markdown kernel (no Spark).

Pins markdownify-0.14.1 default semantics as described in
SURVEY.md §2.8 F1 and kernels/html_md.py.
"""

from lexoid_spark.kernels.html_md import html_to_md


def test_h1_underlined():
    assert html_to_md("<h1>Hello</h1>") == "\n\nHello\n=====\n\n"


def test_h2_underlined():
    assert html_to_md("<h2>Hi</h2>") == "\n\nHi\n--\n\n"


def test_h3_atx():
    assert html_to_md("<h3>Sec</h3>") == "\n\n### Sec\n\n"


def test_paragraphs_single_blank_line():
    assert html_to_md("<p>a</p><p>b</p>") == "\n\na\n\nb\n\n"


def test_strong_em():
    assert html_to_md("<p><strong>s</strong> and <em>e</em></p>") == (
        "\n\n**s** and *e*\n\n"
    )


def test_chomp_moves_spaces_outside():
    assert html_to_md("<p>a<strong> b </strong>c</p>") == "\n\na **b** c\n\n"


def test_inline_code():
    assert html_to_md("<p>run <code>ls -l</code> now</p>") == (
        "\n\nrun `ls -l` now\n\n"
    )


def test_link_inline():
    assert html_to_md('<p><a href="http://x.test/a">text</a></p>') == (
        "\n\n[text](http://x.test/a)\n\n"
    )


def test_autolink():
    assert html_to_md(
        '<p><a href="http://x.test/a">http://x.test/a</a></p>'
    ) == "\n\n<http://x.test/a>\n\n"


def test_escaping_asterisk_underscore():
    assert html_to_md("<p>a*b and c_d</p>") == "\n\na\\*b and c\\_d\n\n"


def test_unordered_list_bullets():
    got = html_to_md("<ul><li>a</li><li>b</li></ul>")
    assert got == "\n\n* a\n* b\n"


def test_nested_list_bullet_cycle_and_tab_indent():
    got = html_to_md("<ul><li>a<ul><li>b</li></ul></li></ul>")
    assert got == "\n\n* a\n\t+ b\n"


def test_ordered_list():
    got = html_to_md("<ol><li>a</li><li>b</li></ol>")
    assert got == "\n\n1. a\n2. b\n"


def test_ordered_list_start():
    got = html_to_md('<ol start="3"><li>a</li><li>b</li></ol>')
    assert got == "\n\n3. a\n4. b\n"


def test_blockquote():
    assert html_to_md("<blockquote>quoted</blockquote>") == "\n> quoted\n\n"


def test_hr():
    assert html_to_md("<p>a</p><hr><p>b</p>") == "\n\na\n\n---\n\nb\n\n"


def test_br_two_spaces():
    assert html_to_md("<p>a<br>b</p>") == "\n\na  \nb\n\n"


def test_pre_code_block():
    assert html_to_md("<pre>x = 1\ny = 2</pre>") == "\n\n```\nx = 1\ny = 2\n```\n\n"


def test_pre_preserves_and_does_not_escape():
    assert html_to_md("<pre>a * b _ c</pre>") == "\n\n```\na * b _ c\n```\n\n"


def test_script_style_dropped():
    got = html_to_md(
        "<head><style>p{color:red}</style></head>"
        "<body><script>var x=1;</script><p>keep</p></body>"
    )
    assert got == "\n\nkeep\n\n"
    assert "color" not in got and "var x" not in got


def test_table_pipe():
    html = (
        "<table><tr><th>a</th><th>b</th></tr>"
        "<tr><td>1</td><td>2</td></tr></table>"
    )
    got = html_to_md(html)
    assert got == "\n\n| a | b |\n| --- | --- |\n| 1 | 2 |\n\n"


def test_table_without_header_row():
    html = "<table><tr><td>1</td><td>2</td></tr></table>"
    got = html_to_md(html)
    assert got == "\n\n|  |  |\n| --- | --- |\n| 1 | 2 |\n\n"


def test_whitespace_collapse():
    assert html_to_md("<p>a   b\t c</p>") == "\n\na b c\n\n"


def test_invalid_utf8_bytes_ignored():
    payload = b"<p>ok \xff\xfe here</p>"
    got = html_to_md(payload)
    assert "ok" in got and "here" in got


def test_img_alt():
    assert html_to_md('<p><img src="i.png" alt="pic"></p>') == (
        "\n\n![pic](i.png)\n\n"
    )


def test_del_strikethrough():
    assert html_to_md("<p><del>gone</del></p>") == "\n\n~~gone~~\n\n"


def test_div_transparent():
    assert html_to_md("<div><p>a</p></div><div><p>b</p></div>") == "\n\na\n\nb\n\n"


def test_heading_inline_content():
    assert html_to_md("<h1><em>T</em>itle</h1>") == "\n\n*T*itle\n=======\n\n"


def test_main_content_strips_tag_blocklist():
    from lexoid_spark.kernels.html_md import html_to_md

    html = (
        "<html><body><nav><ul><li>home</li></ul></nav>"
        "<header><p>chrome</p></header>"
        "<h1>Keep</h1><p>body text</p>"
        "<aside><p>related</p></aside>"
        "<form><input name='q'/></form>"
        "<footer><p>footer</p></footer></body></html>"
    )
    md = html_to_md(html, main_content=True)
    assert "Keep" in md and "body text" in md
    for junk in ("home", "chrome", "related", "footer"):
        assert junk not in md
    # default path keeps everything (reference markdownify parity)
    assert "home" in html_to_md(html)


def test_main_content_strips_class_id_blocklist():
    from lexoid_spark.kernels.html_md import html_to_md

    html = (
        "<html><body>"
        "<div class='cookie-banner'><p>accept</p></div>"
        "<div id='social-share'><p>tweet</p></div>"
        "<div class='menu top'><p>links</p></div>"
        "<div class='content'><p>real text</p></div>"
        "</body></html>"
    )
    md = html_to_md(html, main_content=True)
    assert "real text" in md
    for junk in ("accept", "tweet", "links"):
        assert junk not in md


def test_main_content_keeps_article_header():
    from lexoid_spark.kernels.html_md import html_to_md

    html = (
        "<html><body><article><header><h2>Inside</h2></header>"
        "<p>para</p></article></body></html>"
    )
    md = html_to_md(html, main_content=True)
    assert "Inside" in md and "para" in md


# --- byte-identity pins for the shapes the linear emitter rewrote ---------
# (expected values recorded from the quadratic emitter it replaced)

def test_pin_long_ol_start_with_whitespace_items():
    html = '<ol start="7">' + "".join(
        f"\n  <li>item {k}</li>" for k in range(40)) + "\n</ol>"
    assert html_to_md(html) == "\n\n" + "".join(
        f"{7 + k}. item {k}\n" for k in range(40))


def test_pin_ol_unparsable_start():
    assert html_to_md('<ol start="x"> <li>a</li> <li>b</li></ol>') == (
        "\n\n1. a\n2. b\n")


def test_pin_table_thead_tbody_whitespace_between_rows():
    html = (
        "<table>\n<thead>\n<tr><th>h1</th> <th>h2</th></tr>\n</thead>\n"
        "<tbody>\n"
        + "".join(f"<tr>\n<td>{k}</td>\n<td>v_{k}</td>\n</tr>\n"
                  for k in range(3))
        + "</tbody>\n</table>"
    )
    assert html_to_md(html) == (
        "\n\n| h1 | h2 |\n| --- | --- |\n"
        "| 0 | v\\_0 |\n| 1 | v\\_1 |\n| 2 | v\\_2 |\n\n"
    )


def test_pin_table_tbody_only_colspan():
    html = ('<table>\n <tbody>\n <tr><td>a</td><td colspan="2">b</td></tr>'
            "\n <tr><td>c</td></tr>\n </tbody>\n</table>")
    assert html_to_md(html) == (
        "\n\n|  |  |  |\n| --- | --- | --- |\n| a | b | |\n| c |\n\n")


def test_pin_nested_ul_ol_inside_li():
    html = ('<ul>\n<li>a\n<ol start="2">\n<li>b</li>\n'
            "<li>c<ul><li>d</li></ul></li>\n</ol>\n</li>\n<li>e</li>\n</ul>")
    assert html_to_md(html) == "\n\n* a\n\t2. b\n\t3. c\n\t\t+ d\n* e\n"


def test_pin_li_text_followed_by_sublist():
    html = ("<ul><li>top text  <ul><li>sub</li></ul>tail</li>"
            "<li>x  </li></ul><p>after</p>")
    assert html_to_md(html) == (
        "\n\n* top text\n\t+ subtail\n* x\n\nafter\n\n")


def test_pin_newline_only_text_between_blocks():
    html = ("<body>\n<p>a</p>\n\n<div>\n<p>b</p>\n</div>\n<h2>T</h2>\n\n\n"
            "<ul><li>i</li></ul>\n<p>c</p>\n</body>")
    assert html_to_md(html) == (
        "\n\na\n\n\nb\n\n\n\nT\n-\n\n\n* i\n\n\nc\n\n\n")


def test_pin_pre_blocks():
    html = "<p>x</p>\n<pre>  a * b\n\n  c_d  </pre>\n<pre><code>e\n f</code></pre>"
    assert html_to_md(html) == (
        "\n\nx\n\n\n```\n  a * b\n\n  c_d  \n```\n\n\n```\ne\n f\n```\n\n")


def test_pin_main_content():
    html = ('<body><nav><a href="/">Home</a></nav><header>Site</header>'
            "<article><header><h1>Title</h1></header><p>para <b>one</b></p>"
            '<div class="share-bar">share</div><ol><li>x</li><li>y</li></ol>'
            "</article><footer>f</footer></body>")
    assert html_to_md(html, main_content=True) == (
        "\n\nTitle\n=====\n\npara **one**\n\n1. x\n2. y\n")


def test_pin_benchmark_tail_and_band_pages():
    import hashlib

    from perfbench.corpus import _big_html

    def md5(kind, i, sections):
        md = html_to_md(_big_html(i, kind, sections))
        return hashlib.md5(md.encode()).hexdigest()

    assert md5("tail", 23, 3000) == "6c17fc4a28d352a8c0ac822b7df9cb98"
    assert md5("band", 41, 950) == "d2416f0336390d59f18a327a58354b5d"


# --- linearity guard -------------------------------------------------------
# html_to_md at n and 4n items, best of 3: linear code reads about 4,
# a quadratic join or sibling scan 13-16 at these sizes. <pre> text skips
# the whitespace regexes, so the block shape's cost is the join itself.

_LINEAR_SHAPES = {
    "blocks": (200, lambda n: "<body>" + "".join(
        f"<pre>{k} {'word' * 250}</pre>" for k in range(n)) + "</body>"),
    "table_rows": (1000, lambda n: "<table>" + "".join(
        f"<tr><td>{k}</td></tr>\n<!---->\n<!---->\n" for k in range(n))
        + "</table>"),
    "ol_items": (800, lambda n: "<ol>" + "".join(
        f"<li>{k}</li>\n" for k in range(n)) + "</ol>"),
}


def _best_of_3(html):
    import time

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        html_to_md(html)
        best = min(best, time.perf_counter() - t0)
    return best


def test_emitter_time_is_linear_in_document_size():
    ratios = {
        name: _best_of_3(build(4 * n)) / _best_of_3(build(n))
        for name, (n, build) in _LINEAR_SHAPES.items()
    }
    assert all(r < 8 for r in ratios.values()), ratios
