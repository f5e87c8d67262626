"""Gopher quality gates and deterministic mixture sampling."""

from pyspark.sql import functions as F


def test_gopher_flags_each_rule(spark):
    from crawler_seo_spark.operators.text import gopher_quality_flags

    good = " ".join(["the quick brown fox jumps over that lazy dog and"
                     " every word here have some meaning with clarity"] * 6)
    rows = [
        (0, good),                                         # passes all
        (1, "short text"),                                 # word count
        (2, " ".join(["a b c d"] * 30)),                   # mean word < 3
        (3, good + " " + "#" * 1 + " #" * 20),             # symbol ratio
        (4, "\n".join(["- bullet point line"] * 10)),      # bullets (+count)
        (5, "\n".join([good, "trailing thought...",
                       "another one...", "and more..."])),  # ellipsis lines
        (6, " ".join(["12345 67890 00000 11111 22222"] * 12)),  # alpha frac
        (7, " ".join(["lorem ipsum dolor sit amet"] * 12)),     # stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}

    assert out[0]["keep"]
    assert not out[1]["pass_word_count"]
    assert not out[2]["pass_mean_word_len"]
    assert not out[3]["pass_symbol_ratio"]
    assert not out[4]["pass_bullet_lines"]
    assert not out[5]["pass_ellipsis_lines"]
    assert not out[6]["pass_alpha_words"]
    assert not out[7]["pass_stopwords"]
    for i in range(1, 8):
        assert not out[i]["keep"], i


def test_pii_scrub_tokens_and_counts(spark):
    from crawler_seo_spark.operators.text import scrub_pii
    df = spark.createDataFrame(
        [(0, "mail a.b+c@site.co.uk now, server 192.168.0.1, "
             "call +1(555)123-4567 twice"),
         (1, "no pii here, just 3.14 and version 1.2.3.4.5"),
         (2, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[0]["n_email"] == 1
    assert out[0]["n_ipv4"] == 1
    assert out[0]["n_phone"] == 1
    assert "<EMAIL>" in out[0]["text_scrubbed"]
    assert "<IP>" in out[0]["text_scrubbed"]
    assert "<PHONE>" in out[0]["text_scrubbed"]
    assert "a.b+c@site.co.uk" not in out[0]["text_scrubbed"]
    # 1.2.3.4.5 contains a \b-bounded 1.2.3.4? trailing '.5' breaks the
    # word boundary only after the final digit — count what the regex
    # actually does, deterministically on both engines
    assert out[1]["n_email"] == 0 and out[1]["n_phone"] == 0
    assert out[2]["text_scrubbed"] == ""


def test_gopher_repetition_signals(spark):
    from crawler_seo_spark.operators.text import gopher_repetition_flags

    vocab = ("apple boat cloud door eagle frost grape hill ink jug kite "
             "lamp moon nest opal pine quartz rose star tree urn vase "
             "wolf xylo yarn zinc amber briar cedar dusk ember").split()
    clean = "\n".join(
        " ".join(vocab[(3 * i + j) % len(vocab)] for j in range(3))
        for i in range(10))
    dup_lines = "\n".join(["repeated line content here"] * 6
                          + ["one unique line"])
    loop2gram = " ".join(["foo bar"] * 40)
    df = spark.createDataFrame(
        [(0, clean), (1, dup_lines), (2, loop2gram), (3, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_repetition_flags(df).collect()}

    assert out[0]["dup_line_frac"] == 0.0
    assert out[0]["keep_repetition"]
    # 6 copies -> 5 beyond-first of 7 lines
    assert out[1]["dup_line_frac"] == round(5 / 7, 6)
    assert not out[1]["pass_dup_lines"]
    assert out[2]["top2gram_char_frac"] > 0.2
    assert not out[2]["pass_top2gram"]
    assert out[2]["dup5gram_char_frac"] > 0.15
    assert out[3]["dup_line_frac"] == 0.0 and out[3]["keep_repetition"]
