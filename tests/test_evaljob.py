"""Evaluation job semantics (reference examples/ce_score.rs)."""

import math

import pytest

from dce_spark.spark.evaljob import (
    clean_and_normalize_text,
    clean_gold_text,
    mean_scores,
    score_pairs,
    sorensen_dice,
    word_lcs_chars,
)

pytestmark = pytest.mark.spark


def test_clean_and_normalize():
    # ce_score.rs:17-31: punctuation except apostrophes, ws collapse, lower
    assert clean_and_normalize_text("Hello, World! It's me.") == "hello world it's me"
    assert clean_and_normalize_text("  a   b\nc  ") == "a b c"


def test_clean_gold_drops_url_line_and_markup():
    raw = "http://example.com/page\n<h>Title</h>\n<p>Body text</p>\n\n<l>item</l>"
    assert clean_gold_text(raw) == "Title Body text item"


def test_word_lcs():
    # identical strings: lcs_words * (avg_len + 1)
    s = "alpha beta gamma"
    expected = int(3 * ((len("alphabetagamma") / 3 + len("alphabetagamma") / 3) / 2 + 1))
    assert word_lcs_chars(s, s) == expected
    assert word_lcs_chars(s, "nothing shared here") == 0
    assert word_lcs_chars("", "x y") == 0


def test_sorensen_dice():
    assert sorensen_dice("night", "nacht") == pytest.approx(0.25)
    assert sorensen_dice("same", "same") == 1.0
    assert sorensen_dice("a", "b") == 0.0


def test_score_pairs_perfect_extraction(spark):
    gold_raw = "http://x\n<p>the quick brown fox jumps over the lazy dog</p>"
    extracted = spark.createDataFrame(
        [("doc1", "the quick brown fox jumps over the lazy dog")],
        ["stem", "extracted_text"],
    )
    gold = spark.createDataFrame([("doc1", gold_raw)], ["stem", "gold_text"])
    scores = score_pairs(extracted, gold).collect()
    assert len(scores) == 1
    s = scores[0]
    # word-LCS char scaling is approximate -> near 1, not exactly 1
    assert s.precision == pytest.approx(1.0, abs=0.15)
    assert s.recall == pytest.approx(1.0, abs=0.15)
    assert s.dice == pytest.approx(1.0)



def test_undefined_scores_are_null(spark):
    """Empty normalized text makes precision/recall undefined: NULL,
    not NaN, so the eval query counts the pair and avg() skips it."""
    gold = spark.createDataFrame(
        [("a", "http://x\nsome gold words"), ("b", "http://x\n<p></p>")],
        ["stem", "gold_text"],
    )
    extracted = spark.createDataFrame(
        [("a", "!!!"), ("b", "some words")], ["stem", "extracted_text"]
    )
    s = {r.stem: r for r in score_pairs(extracted, gold).collect()}
    assert (s["a"].precision, s["a"].recall, s["a"].f1) == (None, 0.0, None)
    assert (s["b"].precision, s["b"].recall, s["b"].f1) == (0.0, None, None)


def test_ce_score_example_prints_undefined_mean(tmp_path):
    """examples/ce_score.py on one pair whose gold file is a single
    line: clean_gold_text drops it as CleanEval's URL line, no pair has
    a defined recall, and the NULL mean prints as n/a."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    gold, html = tmp_path / "gold", tmp_path / "html"
    gold.mkdir()
    html.mkdir()
    (gold / "a.txt").write_text("Hello world article text here.\n")
    (html / "a.html").write_text(
        "<html><body><p>Hello world article text here.</p></body></html>"
    )
    r = subprocess.run(
        [sys.executable, "examples/ce_score.py", str(gold), str(html),
         "local[1]"],
        capture_output=True, text=True, cwd=repo, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert "Average recall:    n/a" in r.stdout


def test_mean_scores_filters_nan(spark):
    rows = [
        ("a", 0.9, 0.8, 0.85, 0.9),
        ("b", float("nan"), 0.5, 0.5, 0.5),
    ]
    df = spark.createDataFrame(
        rows, ["stem", "precision", "recall", "f1", "dice"]
    )
    out = mean_scores(df).collect()[0]
    assert out.files == 1
    assert out.avg_precision == pytest.approx(0.9)
    assert not math.isnan(out.avg_f1)


def test_committed_gold_is_falsifiable(spark):
    """A deliberately-broken extractor must LOWER the eval means vs the
    committed golden scores — the committed gold (testdata/eval_gold)
    is a frozen snapshot, not derived from the live extraction, so the
    score moves when extraction does."""
    from pathlib import Path

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    repo = Path(__file__).resolve().parent.parent
    golden = pq.read_table(repo / "testdata" / "golden_eval_scores.parquet")
    expected_f1 = golden.to_pylist()[0]["avg_f1_r"]
    # the ~170-pair corpus includes 144 realistic template pages whose
    # gold is independent of the extractor, so a healthy extractor
    # scores well below 1.0 (committed 0.83 — same ballpark as the
    # reference's published CleanEval F1=0.78) but comfortably high
    assert 0.7 <= expected_f1 < 1.0

    gold = spark.read.parquet(str(repo / "testdata" / "eval_gold.parquet"))
    # broken extractor: keep only the first 25% of each gold text
    broken = gold.select(
        "stem",
        F.expr(
            "substring(gold_text, 22, int(length(gold_text) / 4))"
        ).alias("extracted_text"),
    )
    scores = score_pairs(broken, gold)
    out = mean_scores(scores).collect()[0]
    assert out.avg_f1 < expected_f1 - 0.2  # regression visibly drops F1
    assert out.avg_recall < 0.5


def test_scores_use_utf8_byte_lengths(spark):
    # reference ce_score.rs divides by String::len() (UTF-8 bytes):
    # for identical non-ASCII texts the word-LCS char estimate is also
    # byte-based, so P == R exactly and both reflect byte math
    txt = "résumé naïve café déjà vu encore très bien mañana señor"
    gold_raw = "http://x\n" + txt
    extracted = spark.createDataFrame(
        [("d", txt)], ["stem", "extracted_text"])
    gold = spark.createDataFrame([("d", gold_raw)], ["stem", "gold_text"])
    s = score_pairs(extracted, gold).collect()[0]
    from dce_spark.spark.evaljob import word_lcs_chars
    norm = clean_and_normalize_text(txt)
    lcs = word_lcs_chars(norm, norm)
    byte_len = len(norm.encode("utf-8"))
    assert s.precision == pytest.approx(lcs / byte_len)
    # code-point denominator would differ (11 multi-byte chars)
    assert s.precision != pytest.approx(lcs / len(norm))


def test_eval_corpus_deterministic_and_independent():
    """eval pages are seed-stable and their gold comes from the content
    model, not the extractor (no extract_page call in generation)."""
    from dce_spark.spark.evalcorpus import eval_page

    a, b = eval_page(3), eval_page(3)
    assert a["html"] == b["html"] and a["gold_text"] == b["gold_text"]
    # all nine templates appear across ids
    urls = {eval_page(i)["url"].split(".")[0] for i in range(9)}
    assert len(urls) == 9
    # gold is not the extractor's output: boilerplate markers present
    # in html (related rails, nav sections, references) must be ABSENT
    # from gold — this is the non-circularity property itself, checked
    # over the whole corpus (a template regression that folds the link
    # rails into gold_parts must fail here, not just "markers exist in
    # html"). User comments are deliberately NOT in this list: they are
    # page-specific content under the CleanEval annotation convention
    # the reference's published numbers use, so they live in gold.
    html = a["html"].decode()
    assert "Comments" in html or "Related" in html
    marked = comment_pages = 0
    for i in range(144):  # eval_rows() default corpus
        p = eval_page(i)
        page_html = p["html"].decode()
        for marker in ("Related", "You may also like", "References",
                       "Subscribe to continue reading", "Active threads",
                       "Start your free trial", "Accept all"):
            if marker in page_html:
                marked += 1
                assert marker not in p["gold_text"], (i, marker)
        if "class=\"comments\"" in page_html:
            comment_pages += 1
            assert "Comments" in p["gold_text"], i  # CleanEval keeps them
    assert marked >= 20  # the boilerplate regions actually occur
    assert comment_pages >= 20


def _word_lcs_chars_dp(s1: str, s2: str) -> int:
    """Two-row word-LCS DP with ce_score.rs's char scaling: the witness
    the bit-parallel `word_lcs_chars` is checked against."""
    w1 = s1.split()
    w2 = s2.split()
    m, n = len(w1), len(w2)
    if m == 0 or n == 0:
        return 0
    ids: dict[str, int] = {}
    a1 = [ids.setdefault(w, len(ids)) for w in w1]
    a2 = [ids.setdefault(w, len(ids)) for w in w2]
    prev = [0] * (n + 1)
    for i in range(m):
        curr = [0] * (n + 1)
        x = a1[i]
        cj = 0
        pj_1 = prev
        for j in range(1, n + 1):
            if a2[j - 1] == x:
                cj = pj_1[j - 1] + 1
            else:
                up = pj_1[j]
                if up > cj:
                    cj = up
            curr[j] = cj
        prev = curr
    lcs_words = int(prev[n])
    if lcs_words == 0:
        return 0
    avg1 = sum(len(w.encode("utf-8")) for w in w1) / m
    avg2 = sum(len(w.encode("utf-8")) for w in w2) / n
    return int(lcs_words * ((avg1 + avg2) / 2.0 + 1.0))


def test_bitparallel_lcs_equals_dp_property():
    """The bit-parallel word-LCS must be EXACTLY the DP on arbitrary
    inputs (including empties, repeats, full overlap, disjoint)."""
    import random

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(12)] + ["été", "日本", "a'b"]
    for _ in range(400):
        s1 = " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 40)))
        s2 = " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 40)))
        assert word_lcs_chars(s1, s2) == _word_lcs_chars_dp(s1, s2), (s1, s2)
    assert word_lcs_chars("", "x y") == 0
    assert word_lcs_chars("a b c", "a b c") == _word_lcs_chars_dp(
        "a b c", "a b c"
    )
