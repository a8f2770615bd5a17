import pytest
from pyspark.sql import functions as F

from bigdata_hits_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup of 1
        (4, "completely different text about spark engines and shuffles"),
        (5, "ab"),  # shorter than one shingle
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, docs):
    res = {r["keep_id"]: r["n_dups"] for r in DD.exact_duplicates(docs).collect()}
    assert res[1] == 2  # docs 1+2 collapse, min id kept
    assert res[3] == 1 and res[4] == 1 and res[5] == 1


def test_shingles_short_doc_empty(spark, docs):
    sh = DD.shingle_arrays(docs)
    assert sh.filter(F.col("id") == 5).select("n").collect()[0]["n"] == 0
    exploded = sh.select("id", F.explode("shs").alias("shingle"))
    assert exploded.filter(F.col("id") == 5).count() == 0


def test_minhash_exact_dup_scores_one(spark, docs):
    pairs = {(r["id1"], r["id2"]): r["jaccard"] for r in
             DD.minhash_near_duplicates(docs, threshold=0.2).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.2 <= pairs[(1, 3)] < 1.0


def test_minhash_signature_shape(spark, docs):
    sig = DD.minhash_signatures(docs)
    assert set(sig.columns) == {"id"} | {f"h{j}" for j in range(DD.NUM_HASHES)}
    # identical docs must have identical signatures
    rows = {r["id"]: tuple(r[f"h{j}"] for j in range(DD.NUM_HASHES)) for r in sig.collect()}
    assert rows[1] == rows[2]


def test_simhash_identical_zero_hamming(spark, docs):
    pairs = {(r["id1"], r["id2"]): r["hamming"] for r in
             DD.simhash_near_duplicates(docs, hamming_threshold=60).collect()}
    assert pairs[(1, 2)] == 0
    if (1, 3) in pairs:
        assert pairs[(1, 3)] > 0


def test_ngram_jaccard_pairs(spark, docs):
    res = {(r["id1"], r["id2"]): r["jaccard"] for r in
           DD.ngram_jaccard_pairs(docs, threshold=0.1, min_shared=1).collect()}
    assert res[(1, 2)] == 1.0
    assert (1, 4) not in res


def test_minhash_dedup_incremental_against_signature_store(spark):
    """New batch vs a signature-only historical corpus: exact dup of an
    old doc is dropped, intra-batch near-dups collapse to min id, fresh
    docs survive, and returned signatures cover exactly the survivors."""
    from bigdata_hits_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away today "
    old_docs = spark.createDataFrame(
        [(1, base * 5), (2, "an entirely different historical document " * 8)],
        ["doc_id", "text"],
    )
    old_sigs = minhash_signatures(old_docs)

    new_docs = spark.createDataFrame(
        [
            (10, base * 5),                                   # exact dup of old #1
            (11, "fresh new content about spark engines " * 8),
            (12, "fresh new content about spark engines " * 8),  # intra-batch dup of 11
            (13, "totally unrelated brand new text " * 8),
        ],
        ["doc_id", "text"],
    )
    survivors, sigs = minhash_dedup_incremental(new_docs, old_sigs, threshold=0.5)
    kept = {r["doc_id"] for r in survivors.collect()}
    assert 10 not in kept          # dup of historical corpus
    assert 11 in kept and 12 not in kept  # intra-batch pair -> min id survives
    assert 13 in kept
    assert {r["id"] for r in sigs.collect()} == kept


def test_strip_boilerplate_drops_repeated_lines(spark):
    from bigdata_hits_spark.operators.dedup import strip_boilerplate

    footer = "subscribe to our newsletter"
    header = "ACME corp daily news"
    docs = spark.createDataFrame(
        [
            (1, f"{header}\nunique story one\n{footer}"),
            (2, f"{header}\nanother unique story\n{footer}"),
            (3, f"{header}\nthird body text\n{footer}"),
            (4, "standalone document\nwith its own lines"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in strip_boilerplate(docs, min_df=3).collect()}
    # header+footer hit df=3 and vanish; bodies survive in order
    assert out[1]["clean_text"] == "unique story one"
    assert out[2]["clean_text"] == "another unique story"
    assert out[1]["n_lines_kept"] == 1 and out[1]["n_lines_dropped"] == 2
    assert out[4]["clean_text"] == "standalone document\nwith its own lines"
    assert out[4]["n_lines_dropped"] == 0
    # min_df above any df: nothing dropped, text roundtrips byte-exact
    intact = {r["doc_id"]: r["clean_text"]
              for r in strip_boilerplate(docs, min_df=10).collect()}
    for i, t in [(1, f"{header}\nunique story one\n{footer}"),
                 (4, "standalone document\nwith its own lines")]:
        assert intact[i] == t


def test_strip_boilerplate_fully_boilerplate_doc_empties(spark):
    from bigdata_hits_spark.operators.dedup import strip_boilerplate

    docs = spark.createDataFrame(
        [(1, "same line"), (2, "same line"), (3, "same line\nextra")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in strip_boilerplate(docs, min_df=2).collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_lines_kept"] == 0
    assert out[3]["clean_text"] == "extra"


def test_repeated_ngram_coverage_marks_shared_passage(spark):
    from bigdata_hits_spark.operators.dedup import repeated_ngram_coverage

    quote = "to be or not to be that is the question"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {quote} gamma delta"),
            (2, f"{quote} entirely different tail words here"),
            (3, "no repeats anywhere in this document at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           repeated_ngram_coverage(docs, n=10, min_count=2).collect()}
    # the 10-token quote is the only repeated window; both carriers cover
    # exactly those 10 tokens
    assert out[1]["covered_tokens"] == 10 and out[2]["covered_tokens"] == 10
    assert out[1]["n_tokens"] == 14
    assert out[1]["coverage_frac"] == pytest.approx(10 / 14, abs=1e-6)
    assert out[3]["covered_tokens"] == 0 and out[3]["coverage_frac"] == 0.0
    # a doc shorter than n has no windows and coverage 0
    short = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
    r9 = repeated_ngram_coverage(short, n=10).collect()[0]
    assert r9["covered_tokens"] == 0 and r9["n_tokens"] == 2


def test_remove_repeated_spans_keeps_first_occurrence(spark):
    from bigdata_hits_spark.operators.dedup import remove_repeated_spans

    quote = "to be or not to be that is the question"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{quote} alpha beta"),
            (2, f"prefix words {quote}"),
            (3, "independent text with no shared spans at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           remove_repeated_spans(docs, n=10, min_count=2).collect()}
    # first occurrence = (doc 1, pos 0): doc 1 keeps the quote
    assert out[1]["clean_text"] == f"{quote} alpha beta"
    assert out[1]["removed_tokens"] == 0
    # doc 2 loses exactly the quote's 10 tokens, keeps its prefix
    assert out[2]["clean_text"] == "prefix words"
    assert out[2]["removed_tokens"] == 10
    assert out[3]["removed_tokens"] == 0
    assert out[3]["clean_text"] == "independent text with no shared spans at all"


def test_remove_repeated_spans_identical_docs_one_survivor(spark):
    from bigdata_hits_spark.operators.dedup import remove_repeated_spans

    text = " ".join(f"t{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, text)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           remove_repeated_spans(docs, n=12, min_count=2).collect()}
    assert out[1]["clean_text"] == text  # min (id, pos) survives
    assert out[2]["clean_text"] == "" and out[3]["clean_text"] == ""
    assert out[2]["removed_tokens"] == 12


def test_null_text_documents_survive_curation_ops(spark):
    """A null text column must behave as empty text, not drop or corrupt
    the document row."""
    from bigdata_hits_spark.operators.dedup import (
        remove_repeated_spans,
        repeated_ngram_coverage,
        strip_boilerplate,
    )
    from bigdata_hits_spark.operators.sampling import chunk_documents

    docs = spark.createDataFrame(
        [(1, None), (2, "real text here")], "doc_id long, text string"
    )
    sb = {r["doc_id"]: r for r in strip_boilerplate(docs, min_df=2).collect()}
    assert sb[1]["clean_text"] == "" and sb[1]["n_lines_kept"] == 1  # one empty line
    cov = {r["doc_id"]: r for r in repeated_ngram_coverage(docs, n=2).collect()}
    assert cov[1]["covered_tokens"] == 0 and cov[1]["n_tokens"] == 1
    rm = {r["doc_id"]: r for r in remove_repeated_spans(docs, n=2).collect()}
    assert rm[1]["removed_tokens"] == 0
    ch = {r["doc_id"]: r for r in chunk_documents(docs, 4).collect()}
    assert ch[1]["chunk_text"] == "" and ch[1]["n_tokens"] == 1


class TestLevenshteinNearDup:
    def test_matches_brute_force(self, spark):
        from itertools import combinations

        from bigdata_hits_spark.operators.dedup import levenshtein_neardup_pairs

        names = [
            "kitten", "sitting", "cold bolt", "old bolt", "bold bolt",
            "red rod", "new rod", "rod", "ro", "r", "", "zzzzzz",
            "abcdef", "abcdeg", "abcde", "abcd",
        ]
        df = spark.createDataFrame([(n,) for n in names] * 2, ["name"])  # dup rows collapse

        def lev(a, b):
            if len(a) < len(b):
                a, b = b, a
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        for d in (1, 2, 3):
            got = sorted(
                map(tuple, levenshtein_neardup_pairs(df, "name", max_dist=d).collect())
            )
            want = sorted(
                (min(a, b), max(a, b), lev(a, b))
                for a, b in combinations(sorted(set(names)), 2)
                if lev(a, b) <= d
            )
            assert got == want, f"max_dist={d}"

    def test_blocking_trades_recall_for_sparsity(self, spark):
        from pyspark.sql import functions as F

        from bigdata_hits_spark.operators.dedup import levenshtein_neardup_pairs

        df = spark.createDataFrame(
            [("cold bolt",), ("old bolt",), ("gold bolt",), ("cold colt",)], ["name"]
        )
        blocked = levenshtein_neardup_pairs(
            df, "name", max_dist=2, block=F.substring(F.col("name"), 1, 1)
        )
        got = {(r["name_a"], r["name_b"]) for r in blocked.collect()}
        # same-first-char pairs survive; cross-block true pairs are traded away
        assert ("cold bolt", "cold colt") in got
        assert ("cold bolt", "old bolt") not in got

    def test_plan_is_equi_join(self, spark):
        from bigdata_hits_spark.operators.dedup import levenshtein_neardup_pairs

        df = spark.createDataFrame([("abc",), ("abd",)], ["name"])
        plan = (
            levenshtein_neardup_pairs(df, "name")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_duplicated_ngram_profile(spark):
    """A and B share one 3-gram span, C is unique, D is too short to
    shingle — counts and fractions per the cross-doc df >= 2 rule."""
    from bigdata_hits_spark.operators.dedup import duplicated_ngram_profile

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),      # 3 shingles
            (2, "a lazy the quick brown fox nod"), # 5 shingles, shares 2 with 1
            (3, "entirely different words here now"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in duplicated_ngram_profile(docs).collect()}
    assert got[1]["n_shingles"] == 3 and got[1]["n_dup"] == 2
    assert got[2]["n_shingles"] == 5 and got[2]["n_dup"] == 2
    assert got[3]["n_dup"] == 0
    assert got[4]["n_shingles"] == 0 and got[4]["dup_fraction"] == 0.0
    assert got[1]["dup_fraction"] == round(2 / 3, 7)
    # deterministic across partitionings
    again = {r["id"]: r for r in duplicated_ngram_profile(docs.repartition(3)).collect()}
    assert {k: tuple(v) for k, v in got.items()} == {k: tuple(v) for k, v in again.items()}


def test_dedup_savings_families_and_survivors(spark):
    from bigdata_hits_spark.operators.dedup import dedup_savings

    docs = spark.createDataFrame(
        [(1, 100), (2, 80), (3, 50), (4, 10), (5, 7)],
        "doc_id long, n_tokens long",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "id long, component long"
    )
    got = {r["component"]: r for r in dedup_savings(docs, comps).collect()}
    # family 1: keeps doc 1 (min id, 100 tokens) -> saves 80 + 50
    assert set(got) == {1}
    assert got[1]["n_docs"] == 3 and got[1]["tokens_total"] == 230
    assert got[1]["tokens_saved"] == 130


def test_exact_duplicates_normalized_collapses_variants(spark):
    from bigdata_hits_spark.operators.dedup import exact_duplicates_normalized

    df = spark.createDataFrame(
        [
            (0, "The quick brown fox."),
            (1, "the QUICK   brown fox"),   # case/space/punct variant of 0
            (2, "the, quick; brown! fox?"),  # punctuation variant of 0
            (3, "a different document"),
            (4, "a different document"),     # byte-exact dup of 3
        ],
        "doc_id long, text string",
    )
    fams = {r["keep_id"]: r["n_dups"] for r in exact_duplicates_normalized(df).collect()}
    assert fams == {0: 3, 3: 2}


def test_winnow_fingerprints_guarantee_and_selection(spark):
    """The winnowing contract (Schleimer et al. 2003): any shared
    substring of >= w + k - 1 tokens yields at least one shared
    fingerprint; selection density is far below one-per-gram; docs
    shorter than k select nothing; docs with < w k-grams select exactly
    their global minimum."""
    from bigdata_hits_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens = w+k-1
    df = spark.createDataFrame(
        [
            (0, f"one two {shared} three four five six seven eight nine"),
            (1, f"ten eleven twelve thirteen {shared} fourteen fifteen"),
            (2, "unrelated words entirely here okay truly"),
            (3, "ab cd"),          # shorter than k: no fingerprints
            (4, "a b c d e"),      # 2 k-grams < w: global min only
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=4, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    # guarantee: docs 0 and 1 share the 7-token run => >= 1 common fp
    assert by_doc[0] & by_doc[1], "winnowing guarantee violated"
    # unrelated doc shares nothing with either
    assert not (by_doc[2] & (by_doc[0] | by_doc[1]))
    assert 3 not in by_doc
    assert len(by_doc[4]) == 1
    # density: selections are a strict subsample of the gram count
    n_grams_0 = len(df.filter("doc_id = 0").first()["text"].split()) - 3
    assert len([r for r in fps if r["id"] == 0]) < n_grams_0
    # determinism
    again = {(r["id"], r["fp"], r["pos"]) for r in winnow_fingerprints(df, k=4, w=4).collect()}
    assert again == {(r["id"], r["fp"], r["pos"]) for r in fps}


def test_winnow_dup_report_flags_copied_content(spark):
    from bigdata_hits_spark.operators.dedup import winnow_dup_report

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (0, f"{shared} and some trailing original text here"),
            (1, f"totally different opening then {shared}"),
            (2, "no overlap with anything else in this corpus at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in winnow_dup_report(df, k=4, w=4).collect()}
    assert rows[0]["n_shared"] > 0 and rows[1]["n_shared"] > 0
    assert rows[2]["n_shared"] == 0 and rows[2]["shared_frac"] == 0.0
    for r in rows.values():
        assert 0 <= r["n_shared"] <= r["n_fp"]


def test_winnow_near_duplicates_pairs(spark):
    from bigdata_hits_spark.operators.dedup import winnow_near_duplicates

    shared = " ".join(f"tok{i}" for i in range(20))
    df = spark.createDataFrame(
        [
            (0, shared),
            (1, shared + " extra trailing words here"),
            (2, "entirely different content with no overlap at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_near_duplicates(df, threshold=0.3, k=4, w=4).collect()
    got = {(r["id1"], r["id2"]) for r in pairs}
    assert (0, 1) in got
    assert all(2 not in p for p in got)
    for r in pairs:
        assert 0.0 < r["jaccard"] <= 1.0 and r["id1"] < r["id2"]


def test_minhash_hot_bucket_cap_keeps_candidates_linear(spark):
    """A mass-duplicated document (the exact situation dedup exists
    for) puts its whole family into every band bucket; without the
    max_bucket cap the band self-join is quadratic in the family size.
    With the cap, over-cap buckets are excluded entirely: the 200-copy
    family produces ZERO LSH pairs (it belongs to exact dedup), while
    an ordinary small near-dup pair in the same corpus still surfaces."""
    from bigdata_hits_spark.operators.dedup import (
        exact_duplicates,
        minhash_near_duplicates,
    )

    fam = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, fam) for i in range(200)]
    near = " ".join(f"tok{i}" for i in range(20))
    rows += [(1000, near), (1001, near + " with a small tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_near_duplicates(df, threshold=0.3, max_bucket=8).collect()
    got = {(r["id1"], r["id2"]) for r in pairs}
    assert (1000, 1001) in got
    # the 200-copy family never reaches the pair join: 0 pairs from it
    assert all(p[0] >= 1000 for p in got), got
    # ...because exact dedup already owns that family
    fams = {r["keep_id"]: r["n_dups"] for r in exact_duplicates(df).collect()}
    assert fams[0] == 200


def test_winnow_max_df_cap_keeps_postings_linear(spark):
    """Corpus-hot fingerprints (boilerplate shared by every document)
    are dropped by max_df before the fp self-join, so the candidate
    volume stays linear; a discriminative near-dup pair still
    surfaces.  Uncapped (max_df huge) the same corpus produces
    quadratically many boilerplate pairs — asserted as the contrast."""
    from bigdata_hits_spark.operators.dedup import winnow_near_duplicates

    boiler = "subscribe to our newsletter for updates every single day"
    rows = [(i, f"{boiler} unique{i} filler{i} words{i} here{i}") for i in range(60)]
    near = " ".join(f"tok{i}" for i in range(20))
    rows += [(1000, near), (1001, near + " plus small tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = winnow_near_duplicates(df, threshold=0.3, k=4, w=4, max_df=8).collect()
    got = {(r["id1"], r["id2"]) for r in capped}
    assert (1000, 1001) in got
    assert all(p[0] >= 1000 for p in got), got

    uncapped = winnow_near_duplicates(
        df, threshold=0.3, k=4, w=4, max_df=1_000_000
    ).count()
    assert uncapped > 100 * len(capped)  # the quadratic blow-up the cap removes


def test_winnow_poscap_overflow_fails_loudly(spark, monkeypatch):
    """pos >= WINNOW_POSCAP would silently corrupt the packed
    (hash asc, pos desc) key; the assert_true guard must raise instead.
    POSCAP is monkeypatched small so the test doesn't need a 2^20-gram
    document."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from bigdata_hits_spark.operators import dedup

    monkeypatch.setattr(dedup, "WINNOW_POSCAP", 8)
    df = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(16)))], "doc_id long, text string"
    )
    with pytest.raises(SparkRuntimeException, match="WINNOW_POSCAP"):
        dedup.winnow_fingerprints(df, k=4, w=4).collect()
