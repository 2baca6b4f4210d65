"""Chunk-merge policy semantics (reference rag/nlp/__init__.py)."""

from ragflow_spark.extractlib.merge import (
    bullets_category,
    concat_img,
    hierarchical_merge,
    is_chinese,
    is_english,
    make_colon_as_title,
    naive_merge,
    naive_merge_docx,
    not_bullet,
    remove_contents_table,
)
from ragflow_spark.extractlib.tokens import num_tokens_from_string


def test_naive_merge_overshoot_by_one_section():
    # quirk (rag/nlp/__init__.py:528): a chunk closes only when it already
    # exceeds the budget BEFORE the next section arrives
    secs = [("x " * 60).strip() for _ in range(4)]  # 60 tokens each
    cks = naive_merge(secs, chunk_token_num=100)
    # 60 -> not >100 add (120) -> >100 close; chunks of 2 sections each
    assert len(cks) == 2
    assert cks[0] == secs[0] + secs[1]


def test_naive_merge_single_small_section():
    assert naive_merge(["tiny"]) == ["tiny"]
    assert naive_merge([]) == []


def test_concat_img_geometry_and_none_rules():
    # None propagation verbatim (rag/nlp/__init__.py:557-562)
    assert concat_img((10, 20), None) == (10, 20)
    assert concat_img(None, (10, 20)) == (10, 20)
    assert concat_img(None, None) is None
    # vertical stack: max width, summed height
    assert concat_img((10, 20), (30, 5)) == (30, 25)


def test_naive_merge_docx_chunks_and_images():
    secs = [(("x " * 60).strip(), (100, 10)),
            (("y " * 60).strip(), None),
            (("z " * 60).strip(), (50, 7)),
            (("w " * 10).strip(), (200, 3))]
    cks, imgs = naive_merge_docx(secs, chunk_token_num=100)
    # same overshoot fold as naive_merge: [x+y], [z+w]
    assert len(cks) == 2
    assert cks[0] == secs[0][0] + secs[1][0]
    # chunk images: concat over the chunk's sections
    assert imgs[0] == (100, 10)
    assert imgs[1] == (200, 10)
    assert naive_merge_docx([]) == ([], [])


def test_docx_question_level():
    from ragflow_spark.extractlib.merge import docx_question_level

    # Heading styles win outright
    assert docx_question_level("Intro", "Heading 2") == (2, "Intro")
    # no bullet family voted -> level 0
    assert docx_question_level("plain text") == (0, "plain text")
    # english family (group 3): Section -> index 2 -> level 3
    assert docx_question_level("Section 4 overview", "Normal", 3) == \
        (3, "Section 4 overview")
    # no pattern matches -> the family's size
    assert docx_question_level("free prose", "Normal", 3) == \
        (4, "free prose")
    # ideographic space normalized before matching
    assert docx_question_level("　Article 7　", "Normal", 3) == \
        (4 , "Article 7")


def test_chunks_with_ids_docx_rides_images():
    from ragflow_spark.extractlib.templates import chunks_with_ids_docx
    from ragflow_spark.extractlib.xxh64 import chunk_id

    chunks = ["first chunk", "   ", "third chunk"]
    images = [(10, 20), (5, 5), None]
    rows = chunks_with_ids_docx(chunks, images, "http://u")
    # whitespace-only chunk skipped together with its image
    assert [(r[0], r[1], r[3]) for r in rows] == \
        [(0, "first chunk", (10, 20)), (2, "third chunk", None)]
    # ids are the content-addressed id of the chunk text
    assert all(r[2] == chunk_id(r[1], "http://u") for r in rows)


def test_naive_merge_position_tag_rules():
    # tags dropped for sections under 8 tokens; appended otherwise
    small = [("tiny sec", "@@1\t0\t0\t0\t0##")]
    out = naive_merge(small, chunk_token_num=128)
    assert out == ["tiny sec"]
    big = [("word " * 20, "@@1\t0\t0\t0\t0##")]
    out = naive_merge(big, chunk_token_num=128)
    assert out[0].endswith("##")


def test_bullets_category_votes():
    en = ["Chapter I Introduction", "Section 1 Basics", "Article 12 Rules"]
    assert bullets_category(en) == 3
    cn = ["第一章 总则", "第二条 定义", "第三条 范围"]
    assert bullets_category(cn) == 0
    assert bullets_category(["plain text", "no bullets"]) == -1


def test_not_bullet_guards():
    assert not_bullet("0")
    assert not_bullet("12 3个")
    assert not_bullet("1...")
    assert not not_bullet("Section 1")


def test_is_english_is_chinese():
    assert is_english(["The quick", "brown fox", "jumps over", "the dog",
                       "every day"])
    assert not is_english(["第一", "第二", "第三", "第四", "第五"])
    assert is_chinese("这是中文文本 with some ascii")
    assert not is_chinese("pure english text")


def test_remove_contents_table():
    secs = ["contents", "Introduction .......... 1",
            "Methods .......... 2",
            "Introduction body starts here and goes on"]
    remove_contents_table(secs, eng=True)
    assert secs == ["Introduction body starts here and goes on"]


def test_make_colon_as_title_is_noop_quirk():
    # reference quirk (rag/nlp/__init__.py:381-385): the length gate reads
    # arr[1], which re.split always fills with the 1-2 char *delimiter*
    # capture, so the synthetic-title insert can never fire; replicated
    lead = "A" * 40 + "。The following points are important:"
    secs = [(lead, "")]
    make_colon_as_title(secs)
    assert secs == [(lead, "")]
    # string-list input passes through unchanged
    assert make_colon_as_title(["a:"]) == ["a:"]


def test_hierarchical_merge_groups_under_headings():
    secs = [
        ("Document head", ""),
        ("Section 1 first heading content words here", ""),
        ("Section 2 second heading content words here", ""),
    ]
    out = hierarchical_merge(3, secs, 5)
    assert out, "bull group 3 must produce chunks"
    flat = ["\n".join(ck) for ck in out]
    joined = "\n".join(flat)
    assert "Section 1" in joined and "Section 2" in joined


def test_hierarchical_merge_budget_remerges_singletons():
    secs = [(f"Section {i} tiny", "") for i in range(1, 6)]
    out = hierarchical_merge(3, secs, 5)
    total_tokens = sum(
        num_tokens_from_string(s) for ck in out for s in ck
    )
    assert total_tokens > 0
    # all tiny singletons fit one 218-token budget bucket
    assert len(out) == 1


def test_no_bullets_returns_empty():
    assert hierarchical_merge(-1, [("plain", "")], 5) == []


def test_rm_space_cjk_boundaries():
    from ragflow_spark.extractlib.merge import rm_space

    assert rm_space("中文 词语") == "中文词语"
    assert rm_space("hello world") == "hello world"
    assert rm_space("值： 1, 2") == "值：1, 2"


def test_extract_between():
    from ragflow_spark.extractlib.merge import extract_between

    assert extract_between("a<x>b</x>c<x>d</x>", "<x>", "</x>") == \
        ["b", "d"]
    assert extract_between("none", "<x>", "</x>") == []


def test_tokenize_table_rows_batching():
    from ragflow_spark.extractlib.merge import tokenize_table_rows

    rows = [f"k：v{i}" for i in range(23)]
    out = tokenize_table_rows([rows], eng=True)
    assert len(out) == 3
    assert out[0].count("; ") == 9
    assert tokenize_table_rows(["<table>raw</table>"], True) == \
        ["<table>raw</table>"]
    assert tokenize_table_rows([[]], True) == []
    zh = tokenize_table_rows([["a", "b"]], eng=False)
    assert zh == ["a； b"]


def test_table_rules_to_chunk_rows_integration():
    """construct_table desc rows flow into tokenize_table_rows chunks."""
    from ragflow_spark.extractlib.merge import tokenize_table_rows
    from ragflow_spark.extractlib.tablerules import construct_table

    boxes = []
    hdr = ["name", "score"]
    data = [[f"item{i}", f"{i}.5"] for i in range(15)]
    for j, t in enumerate(hdr):
        boxes.append({"text": t, "x0": 72 + j * 100, "x1": 132 + j * 100,
                      "top": 100, "bottom": 114, "page_number": 1,
                      "layout_type": "table", "H": 1, "R": 0, "C": j})
    for i, row in enumerate(data, start=1):
        for j, t in enumerate(row):
            boxes.append({"text": t, "x0": 72 + j * 100,
                          "x1": 132 + j * 100, "top": 100 + i * 20,
                          "bottom": 114 + i * 20, "page_number": 1,
                          "layout_type": "table", "R": i, "C": j})
    rows = construct_table(boxes, is_english=True)
    chunks = tokenize_table_rows([rows], eng=True)
    assert len(chunks) == 2  # 15 rows batched by 10
    assert "name：item0" in chunks[0]


def test_merge_small_edge_branches():
    from ragflow_spark.extractlib.merge import (hierarchical_merge,
                                                is_chinese, not_title,
                                                title_frequency)

    assert is_chinese("") is False
    # 第N条 headings are never "not titles"
    assert not_title("第三条 条款内容") is False
    # long unspaced text is
    assert not_title("x" * 32) is True
    # bull < 0 short-circuits title_frequency
    most, levels = title_frequency(-1, [("t", "title")])
    assert (most, levels) == (1, [1])
    # a depth window with no member sections yields no chunks
    assert hierarchical_merge(3, [("Chapter I", "title"),
                                  ("Chapter II", "title")], 1) == []


def test_remove_contents_table_english_prefix_scan():
    from ragflow_spark.extractlib.merge import remove_contents_table

    secs = ["contents", "", "chapter one", "1 chapter one",
            "2 other", "chapter one", "body text"]
    remove_contents_table(secs, eng=True)
    assert secs == ["chapter one", "body text"]


def test_naive_merge_appends_tag_on_overflow_chunk():
    from ragflow_spark.extractlib.merge import naive_merge

    long_sec = "word " * 200                    # > 128 tokens
    tag = "@@1\t0.0\t0.0\t0.0\t0.0##"
    out = naive_merge([(long_sec, ""), ("next section starts here "
                                        "with enough tokens", tag)], 128)
    assert len(out) == 2
    assert out[1].endswith(tag)


def test_remove_contents_table_edge_positions():
    # TOC header as the last section
    secs = ["intro text", "目录"]
    remove_contents_table(secs)
    assert secs == ["intro text"]
    # single entry after the header, then end
    secs = ["目录", "A.1"]
    remove_contents_table(secs)
    assert secs == []
    # blank-run-to-end pops past the list end — the reference
    # (rag/nlp/__init__.py:352-357) raises the same IndexError
    import pytest
    with pytest.raises(IndexError):
        remove_contents_table(["目录", " "])


def test_hierarchical_merge_chapter_only_levels():
    # only second-pattern ("Chapter") sections: the second-to-last
    # reversed level skips the chain walk entirely (reference quirk)
    out = hierarchical_merge(3, [("Chapter I", ""), ("Chapter II", "")],
                             5)
    assert out == [["Chapter I", "Chapter II"]]


def test_hierarchical_merge_floor_search_upper_half():
    # the Article chains across three Section indices, driving the
    # binary search into its lo=mid arm; output pinned as the
    # reference's chain/pop behavior produces it
    out = hierarchical_merge(3, [("Section 1", ""), ("Section 2", ""),
                                 ("Article 1", ""), ("Section 3", "")],
                             5)
    assert out == [[], ["Section 2", "Article 1"],
                   ["Section 1", "Section 3"]]
