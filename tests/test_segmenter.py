"""Segmenter kernel tests — utils.py:169-269 semantics."""

from lexoid_spark.kernels.segmenter import (
    find_dominant_heading_level,
    segment_md,
    split_md_by_headings,
)


def test_dominant_underline_wins_when_repeated():
    md = "A\n---\nbody a\n\nB\n----\nbody b"
    assert find_dominant_heading_level(md) == "underline"


def test_single_underline_not_dominant():
    md = "A\n---\nbody"
    assert find_dominant_heading_level(md) == "#"


def test_dominant_smallest_repeated_hash_level():
    md = "# once\n\n### s1\nx\n\n### s2\ny\n\n## t1\na\n\n## t2\nb"
    assert find_dominant_heading_level(md) == "##"


def test_default_hash_when_no_repeats():
    assert find_dominant_heading_level("## only one\nbody") == "#"


def test_split_hash_with_introduction():
    md = "preamble\n\n## A\ncontent a\n\n## B\ncontent b"
    segs = split_md_by_headings(md, "##")
    assert segs == [
        ("Introduction", "preamble"),
        ("A", "content a"),
        ("B", "content b"),
    ]


def test_split_underline():
    md = "intro\n\nAlpha\n-----\nbody a\n\nBeta\n----\nbody b"
    segs = split_md_by_headings(md, "underline")
    assert segs[0] == ("Introduction", "intro")
    assert segs[1][0] == "Alpha" and "body a" in segs[1][1]
    assert segs[2][0] == "Beta" and "body b" in segs[2][1]


def test_segment_md_end_to_end():
    # reference quirk (utils.py:240-251): when the doc starts with a
    # heading, re.split still yields a leading empty section → an empty
    # "Introduction" segment is emitted. Pinned as-is.
    md = "### One\na\n\n### Two\nb"
    segs = segment_md(md)
    assert [s[0] for s in segs] == ["Introduction", "One", "Two"]
    assert [s[1] for s in segs] == ["", "a", "b"]


def test_dominant_level_ignores_six_hash_and_no_space_lines():
    md = "###### a\n###### b\n#x\n#y\n##\n##\n### c\nbody\n### d\nbody"
    assert find_dominant_heading_level(md) == "###"
