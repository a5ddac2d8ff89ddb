"""Value-checked unit tests for the Gopher/C4-style repetition and
quality filters (operators/textstats.py) — hand-computed expectations
on tiny documents, independent of the DuckDB twin (parity alone cannot
catch a bug mirrored into the oracle)."""

import pytest

from typhoon_ocr_spark.operators import textstats

DOC_MIXED = "a line\na line\nunique one two three\n\n- bullet\nwaiting...\n"
DOC_LOOP = "one two one two one two"
DOC_EMPTY = ""


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, DOC_MIXED), (2, DOC_LOOP), (3, DOC_EMPTY), (4, "hello")],
        "doc_id long, text string",
    )


def _by_id(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_repetition_stats_values(docs):
    rows = _by_id(textstats.repetition_stats(docs))
    r1 = rows[1]
    # lines: ["a line","a line","unique one two three","- bullet","waiting..."]
    assert r1["n_lines"] == 5
    assert r1["dup_line_per_mille"] == 200  # 1 duplicate of 5
    # chars 6+6+20+8+10=50, distinct 44 -> 120 per-mille duplicated
    assert r1["dup_line_char_per_mille"] == 120
    assert r1["n_paras"] == 2
    assert r1["dup_para_per_mille"] == 0
    r3 = rows[3]
    assert r3["n_lines"] == 0
    assert r3["dup_line_per_mille"] == 0
    assert r3["dup_line_char_per_mille"] == 0


def test_gopher_quality_values(docs):
    rows = _by_id(textstats.gopher_quality(docs))
    r1 = rows[1]
    # 10 word tokens, 40 token chars -> mean 4.00 chars
    assert r1["mean_word_len_centi"] == 400
    assert r1["ellipsis_line_per_mille"] == 200  # "waiting..." of 5 lines
    assert r1["bullet_line_per_mille"] == 200  # "- bullet"
    # ws tokens: 11, all but "-" contain a letter
    assert r1["alpha_word_per_mille"] == 909
    assert r1["dup_line_per_mille"] == 200
    assert r1["dup_line_char_per_mille"] == 120
    assert r1["keep"] is True
    r2 = rows[2]
    assert r2["mean_word_len_centi"] == 300  # boundary: still kept
    assert r2["alpha_word_per_mille"] == 1000
    assert r2["keep"] is True
    r3 = rows[3]
    assert r3["mean_word_len_centi"] == 0
    assert r3["keep"] is False  # empty doc fails the word-length window


def test_top_bigram_values(docs):
    rows = _by_id(textstats.top_bigram(docs))
    # doc 3 (no tokens) and doc 4 (single token) have no bigram
    assert set(rows) == {1, 2}
    assert rows[1]["bigram"] == "a line"
    assert rows[1]["occurrences"] == 2
    assert rows[1]["top_per_mille"] == 222  # 2 of 9 bigrams
    assert rows[2]["bigram"] == "one two"
    assert rows[2]["occurrences"] == 3
    assert rows[2]["top_per_mille"] == 600  # 3 of 5 bigrams


def test_training_corpus_keep_values(spark):
    docs = spark.createDataFrame(
        [
            (1, DOC_MIXED, "en"),   # keeper of text A, good quality
            (2, DOC_MIXED, "en"),   # exact dup of doc 1 -> dropped
            (3, DOC_LOOP, "de"),    # unknown lang -> dropped
            (4, DOC_EMPTY, "th"),   # fails the quality gate -> dropped
        ],
        "doc_id long, text string, lang string",
    )
    rows = _by_id(textstats.training_corpus_keep(docs))
    assert rows[1] == {
        "doc_id": 1, "quality_keep": True, "is_keeper": True,
        "lang_ok": True, "kept": True,
    }
    assert rows[2]["is_keeper"] is False and rows[2]["kept"] is False
    assert rows[2]["quality_keep"] is True  # dropped ONLY by dedup
    assert rows[3]["lang_ok"] is False and rows[3]["kept"] is False
    assert rows[3]["quality_keep"] is True and rows[3]["is_keeper"] is True
    assert rows[4]["quality_keep"] is False and rows[4]["kept"] is False


def test_training_corpus_keep_single_scan(spark, tmp_path):
    """The composition must stay one input scan (lang/md5 ride the
    gopher passthrough) — a join-of-three-lineages design would read
    the 100 TB table three times."""
    docs = spark.createDataFrame(
        [(1, DOC_MIXED, "en")], "doc_id long, text string, lang string"
    )
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    plan = (
        textstats.training_corpus_keep(spark.read.parquet(path))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1


def test_pii_scrub_values(spark):
    import hashlib

    text = "mail a@b.co and c.d@e.org call +1 555-123-4567 ip 192.168.0.1 done"
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    (row,) = textstats.pii_scrub(docs).collect()
    assert (row["n_emails"], row["n_phones"], row["n_ips"]) == (2, 1, 1)
    expected = "mail <EMAIL> and <EMAIL> call <PHONE> ip <IP> done"
    assert row["scrubbed_md5"] == hashlib.md5(expected.encode()).hexdigest()
    # no false positives on clean text
    clean = spark.createDataFrame([(8, "just words 3.5 here v1.2")],
                                  "doc_id long, text string")
    (r2,) = textstats.pii_scrub(clean).collect()
    assert (r2["n_emails"], r2["n_phones"], r2["n_ips"]) == (0, 0, 0)
    assert r2["scrubbed_md5"] == hashlib.md5(
        b"just words 3.5 here v1.2").hexdigest()
    # staged counts: a dotted-quad email domain counts ONCE (as email),
    # never again as an IP inside it — counts match the redactions
    overlap = spark.createDataFrame([(9, "mail a@10.0.0.5.com now")],
                                    "doc_id long, text string")
    (r3,) = textstats.pii_scrub(overlap).collect()
    assert (r3["n_emails"], r3["n_ips"]) == (1, 0)
    assert r3["scrubbed_md5"] == hashlib.md5(b"mail <EMAIL> now").hexdigest()


def test_stats_operators_are_map_only(spark, tmp_path):
    """repetition_stats / gopher_quality / pii_scrub claim map-only
    scale shape — pin it: with a WELL-LAID-OUT input (at least one
    file per core — the 100 TB case), no Exchange appears in the
    physical plan (a shuffle here would be a silent 100 TB
    regression). A starved input (single small file, fewer files than
    cores) instead gets exactly the gated adaptive spread
    (plans.spread.maybe_spread → one REPARTITION_BY_NUM exchange) and
    nothing else — the r6 unsplittable-input guard."""
    par = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [(i, DOC_MIXED, "en") for i in range(4 * par)],
        "doc_id long, text string, lang string",
    )
    wide = str(tmp_path / "docs_wide.parquet")
    docs.repartition(par).write.parquet(wide)
    src_wide = spark.read.parquet(wide)
    assert len(src_wide.inputFiles()) >= par  # the scale-shaped layout
    narrow = str(tmp_path / "docs_narrow.parquet")
    docs.coalesce(1).write.parquet(narrow)
    src_narrow = spark.read.parquet(narrow)
    for op in (
        textstats.repetition_stats,
        textstats.gopher_quality,
        textstats.pii_scrub,
    ):
        plan = op(src_wide)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, op.__name__
        plan_n = op(src_narrow)._jdf.queryExecution().executedPlan().toString()
        assert plan_n.count("Exchange") == 1 and "REPARTITION_BY_NUM" in plan_n, (
            op.__name__
        )
