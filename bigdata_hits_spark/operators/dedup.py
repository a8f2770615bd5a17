"""Deduplication operators for document corpora.

Four families, each the canonical shape used on multi-TB training-data
pipelines (all built-in Column expressions; shuffles only on compact keys):

- exact:   hash-groupBy on md5(text) — never shuffles full text.
- MinHash+LSH: word-shingles -> 16 portable minhashes -> 4 banded
  signatures -> bucket self-join for candidates -> exact-Jaccard verify.
  Work is O(candidates), not O(n²).
- SimHash: 60-bit signature from per-word contribution sums; near-dup
  candidates via 15-bit chunk banding; Hamming verify via xor/bit_count.
- n-gram inverted index: exact Jaccard on pairs sharing >= T shingles,
  with a document-frequency cutoff that bounds the posting-list join
  (the classic stop-shingle guard against quadratic blowup).

Portable-hash discipline: all hashes derive from md5 hex digits so the
DuckDB oracles (queries_dedup.py) reproduce them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

from bigdata_hits_spark.functions.text import token_hash, tokens

#: MinHash parameters — mirrored verbatim in the SQL oracle.
MINHASH_P = 2_147_483_647  # 2^31 - 1; a*x+b stays < 2^62 (no int64 overflow)
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
MINHASH_PARAMS: list[tuple[int, int, int]] = [
    (
        j,
        (1103515245 * (j + 1) + 12345) % MINHASH_P,
        (1234567891 * (j + 7) + 54321) % MINHASH_P,
    )
    for j in range(NUM_HASHES)
]

SHINGLE_K = 3

#: SimHash parameters.
SIMHASH_BITS = 60  # 15 hex digits of md5 -> fits a signed int64 exactly
SIMHASH_CHUNKS = 4  # 15-bit chunks for candidate banding
SIMHASH_HAMMING_T = 8

#: n-gram inverted-index parameters.
NGRAM_MAX_DF = 50  # drop shingles appearing in more docs (stop-shingles)
NGRAM_MIN_SHARED = 5  # candidate pairs must share this many shingles
#: Band buckets larger than this are dropped from LSH candidate
#: generation: a (band_id, sig) bucket of B members yields B(B-1)/2
#: candidate pairs, so one mass-duplicated document (the exact case
#: dedup exists for) would make its bucket quadratic.  Members of an
#: over-cap bucket are near-exact copies the exact/normalized dedup
#: passes upstream already catch.
MINHASH_MAX_BUCKET = 64
#: Winnowed fingerprints appearing in more documents than this are
#: dropped before the pair self-join AND from the per-doc Jaccard sets:
#: a corpus-hot fingerprint (shared boilerplate span) has a quadratic
#: posting list and carries no discriminative signal — the fp analogue
#: of the NGRAM_MAX_DF stop-shingle cap.
WINNOW_MAX_DF = 64


_SHINGLE_UDFS: dict[int, object] = {}


def _shingles_udf(k: int):
    """Arrow-batched distinct k-word shingler.  Semantically identical to
    the Column formulation (split on single space -> join k tokens with a
    space -> per-doc distinct, first-occurrence order) but ~an order of
    magnitude cheaper: Catalyst executes higher-order array lambdas in
    the interpreter, paying per-element costs that a tight Python loop
    over an Arrow batch does not.

    Inner-loop form chosen by microbench over the sf0.1 corpus (5k docs,
    54 words mean; min of 3, identical output): zip-of-offset-slices
    0.076s vs per-position slicing (" ".join(w[i:i+k])) 0.110s vs a
    "vectorized" pandas explode + groupby-shift + str-concat 0.394s —
    object-dtype string ops loop over PyObjects anyway, so the explicit
    zip loop is the fast path, not a compromise."""
    if k not in _SHINGLE_UDFS:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<string>")
        def sh(texts: pd.Series) -> pd.Series:
            join = " ".join
            out = []
            for t in texts:
                w = t.split(" ") if t else []
                if len(w) >= k:
                    out.append(list(dict.fromkeys(map(join, zip(*(w[i:] for i in range(k)))))))
                else:
                    out.append([])
            return pd.Series(out)

        _SHINGLE_UDFS[k] = sh
    return _SHINGLE_UDFS[k]


def word_shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Array of per-document DISTINCT k-word shingles ('w1 w2 w3');
    empty for docs shorter than k words."""
    return _shingles_udf(k)(text)


def shingle_arrays(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shs, n): per-document distinct shingle array + its size — the
    family's one shingle relation.  Signatures and postings explode
    ``shs``; the exact verify reads the arrays as they are.  Callers that
    consume it more than once pin it, so the shingler runs once per
    document per call."""
    return docs.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col)).alias("shs"),
    ).withColumn("n", F.size("shs"))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct text with the
    surviving (minimum) id and the duplicate count.  Only the 32-char md5
    key shuffles, not the document bodies."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(F.col(id_col)).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _signatures(shs: DataFrame) -> DataFrame:
    """(id, h0..h15) from a :func:`shingle_arrays` relation: minimum of
    (a_j·x + b_j) mod P over the document's shingle hashes.  All 16 mins
    ride one aggregation — a single shuffle, no 16× row blowup."""
    x = token_hash(F.col("shingle")) % F.lit(MINHASH_P)
    hashed = shs.select("id", F.explode("shs").alias("shingle")).select(
        "id",
        *[
            ((F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{j}")
            for j, a, b in MINHASH_PARAMS
        ],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{j}").alias(f"h{j}") for j in range(NUM_HASHES)]
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, h0..h15): the MinHash signature of every document with at
    least one shingle."""
    return _signatures(shingle_arrays(docs, id_col, text_col))


def band_rows(signatures: DataFrame) -> DataFrame:
    """(id, band_id, sig): banded signature strings 'v,v,v,v' — the join
    key layout for both self- and cross-corpus candidate generation."""
    bands = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                ",", *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            ).alias("sig"),
        )
        for b in range(BANDS)
    ]
    return signatures.select("id", F.explode(F.array(*bands)).alias("bs")).select(
        "id", F.col("bs.band_id").alias("band_id"), F.col("bs.sig").alias("sig")
    )


def _jaccard_verify(candidates: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (id1, id2) pairs against per-doc shingle
    arrays (from :func:`shingle_arrays`): two id-equi-joins sized by the
    candidate set plus an ``array_intersect`` per pair — no re-explosion of
    the full corpus and no (id1, id2, shingle) intermediate.  Keeps pairs
    with jaccard >= threshold (rounded to 7 for the oracle)."""
    s1 = sets.select(F.col("id").alias("id1"), F.col("shs").alias("shs1"), F.col("n").alias("n1"))
    s2 = sets.select(F.col("id").alias("id2"), F.col("shs").alias("shs2"), F.col("n").alias("n2"))
    n_inter = F.size(F.array_intersect(F.col("shs1"), F.col("shs2")))
    jac = (
        candidates.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            F.round(n_inter / (F.col("n1") + F.col("n2") - n_inter), 7).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.5,
    max_bucket: int = MINHASH_MAX_BUCKET,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate generation + exact verify: (id1, id2, jaccard) with
    id1 < id2 and jaccard >= threshold.

    ``max_bucket`` caps the band buckets: a (band_id, sig) bucket with
    more than ``max_bucket`` members is excluded from candidate
    generation entirely, so a mass-duplicated document can never make
    one posting list quadratic — its family is near-exact and already
    collapsed by :func:`exact_duplicates` /
    :func:`exact_duplicates_normalized` upstream.  The cap is exact
    (one count per bucket, map-side combined) and bounds the self-join
    output at ``max_bucket**2 / 2`` rows per bucket at ANY corpus
    scale."""
    # The shingles feed the signatures AND the verify: pin them once
    # (lazy localCheckpoint) so the shingler runs once per document.
    shs = shingle_arrays(docs, id_col, text_col).localCheckpoint(eager=False)
    return _near_duplicates(shs, threshold, max_bucket)


def _near_duplicates(shs: DataFrame, threshold: float, max_bucket: int) -> DataFrame:
    """:func:`minhash_near_duplicates` over a pinned shingle relation."""
    # bands is consumed by the bucket count AND the semi-join, and the
    # surviving rows by both sides of the self-join: pin each once
    # (lazy localCheckpoint — signature-sized, BANDS rows per doc) so
    # the signature aggregation never recomputes per reference.
    bands = band_rows(_signatures(shs)).localCheckpoint(eager=False)
    bucket_n = bands.groupBy("band_id", "sig").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    small = bands.join(
        bucket_n.filter(F.col("bucket_n") <= max_bucket).select("band_id", "sig"),
        ["band_id", "sig"],
        "left_semi",
    ).localCheckpoint(eager=False)
    b1 = small.select(F.col("id").alias("id1"), "band_id", "sig")
    b2 = small.select(F.col("id").alias("id2"), "band_id", "sig")
    candidates = (
        b1.join(b2, ["band_id", "sig"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    return _jaccard_verify(candidates, shs, threshold)


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash): 60-bit SimHash over word multisets.  Bit b is set
    when the ±1 contributions of that bit, summed over word occurrences,
    come out positive.

    Single-shuffle plan: per word *occurrence* the contribution is ±1, so
    per-(doc, word) counting is unnecessary — all 60 per-bit sums ride one
    ``groupBy(id)`` as conditional-sum aggregates (map-side combine reduces
    each partition to one 60-column row per doc before the exchange; no
    60×-row bit explosion, no second aggregation)."""
    h = F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast("long")
    occurrences = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("word")
    ).select("id", h.alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = occurrences.groupBy("id").agg(*bit_sums)
    sig: Column = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sig = sig + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sums.select("id", sig.alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    hamming_threshold: int = SIMHASH_HAMMING_T,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id1, id2, hamming): pairs sharing a 15-bit simhash chunk whose full
    Hamming distance is <= threshold."""
    sig = simhash_signatures(docs, id_col, text_col)
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    chunks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("chunk"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("cs"),
    ).select("id", "simhash", F.col("cs.chunk_id").alias("chunk_id"), F.col("cs.chunk").alias("chunk"))
    c1 = chunks.select(F.col("id").alias("id1"), F.col("simhash").alias("s1"), "chunk_id", "chunk")
    c2 = chunks.select(F.col("id").alias("id2"), F.col("simhash").alias("s2"), "chunk_id", "chunk")
    pairs = (
        c1.join(c2, ["chunk_id", "chunk"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"))
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= hamming_threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    max_df: int = NGRAM_MAX_DF,
    min_shared: int = NGRAM_MIN_SHARED,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard via a frequency-capped inverted index:
    pairs sharing >= min_shared non-stop shingles, verified on the FULL
    shingle sets, kept at jaccard >= threshold.

    The candidate stage is the heavy dataflow (exploded postings,
    shuffled twice for the self-join), so it runs on xxhash64(shingle)
    LONG keys instead of the multi-word strings.  This cannot change the
    output: document-frequency filtering stays on TRUE shingles (exact
    stop-shingle cap), and a hash collision in the posting join can only
    ADD spurious candidate pairs — which the exact full-set verify then
    rejects — never remove one.  No collision guard needed at any scale.
    (Measured flat at sf0.1 — the posting table is ~50k rows there and
    the shingler/verify dominate; the byte win is per-posting-row, which
    is exactly what grows by 10^6 on a 100 TB corpus.)
    """
    shs = shingle_arrays(docs, id_col, text_col).localCheckpoint(eager=False)
    sh = shs.select("id", F.explode("shs").alias("shingle"))
    # df per TRUE shingle (exact cap); map-side combine reduces the
    # exchange to distinct-shingle volume before the strings shuffle.
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # df = 1 shingles cannot form a pair, and in natural text they are the
    # vast majority of the postings — dropping them up front shrinks the
    # self-join input by that factor with identical output.
    keep = (
        df_counts.filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select(F.xxhash64("shingle").alias("h"))
        .distinct()
    )
    rare = sh.select("id", F.xxhash64("shingle").alias("h")).join(keep, "h", "left_semi")
    r1 = rare.select(F.col("id").alias("id1"), "h")
    r2 = rare.select(F.col("id").alias("id2"), "h")
    candidates = (
        r1.join(r2, "h")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("id1", "id2")
    )
    return _jaccard_verify(candidates, shs, threshold)


def signature_jaccard_estimate(s1: DataFrame, s2: DataFrame) -> DataFrame:
    """(id1, id2, est_jaccard) for every pair of an ``s1`` and an ``s2``
    signature that share a band: banded cross-join for candidates, then
    the MinHash estimate — the fraction of equal signature components —
    attaching each side by an id equi-join.  The standard
    store-only-signatures regime: bodies of the historical corpus are
    NEVER read again, so the estimate (1/16 granularity at
    NUM_HASHES=16) replaces exact verification for new-vs-old pairs."""
    b1 = band_rows(s1).select(F.col("id").alias("id1"), "band_id", "sig")
    b2 = band_rows(s2).select(F.col("id").alias("id2"), "band_id", "sig")
    cand = b1.join(b2, ["band_id", "sig"]).select("id1", "id2").distinct()
    a = s1.select(F.col("id").alias("id1"), *[F.col(f"h{j}").alias(f"a{j}") for j in range(NUM_HASHES)])
    b = s2.select(F.col("id").alias("id2"), *[F.col(f"h{j}").alias(f"b{j}") for j in range(NUM_HASHES)])
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(NUM_HASHES)
    )
    return (
        cand.join(a, "id1")
        .join(b, "id2")
        .select("id1", "id2", (matches / F.lit(float(NUM_HASHES))).alias("est_jaccard"))
    )


def minhash_dedup_incremental(
    new_docs: DataFrame,
    corpus_signatures: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW document batch against an existing corpus represented
    ONLY by its MinHash signature table — the day-2 shape of a production
    corpus: yesterday's 100 TB is never re-shingled, its state is 16
    longs per document.

    Three stages, all candidate-bounded:

    1. new-vs-new: banded LSH self-join + EXACT Jaccard verify (bodies of
       the new batch are at hand), minimum-id survivor per cluster.
    2. new-vs-old: banded cross-join of the new batch's bands against the
       corpus bands, MinHash-ESTIMATED Jaccard
       (:func:`signature_jaccard_estimate`) >= ``threshold`` drops the
       new doc (the historical copy always wins).
    3. Returns ``(survivors, survivor_signatures)`` — the caller appends
       the signature rows to the store, keeping the state invariant.

    The estimate has 1/NUM_HASHES granularity, so stage 2's effective
    threshold is the nearest achievable fraction; near-exact duplicates
    (est = 1.0) are always caught.
    """
    from bigdata_hits_spark.operators.components import dedup_survivors

    # The new batch is shingled once, for its signatures and stage 1.
    shs = shingle_arrays(new_docs, id_col, text_col).localCheckpoint(eager=False)
    new_sigs = _signatures(shs)

    # Stage 1: exact dedup within the new batch.
    intra_pairs = _near_duplicates(shs, threshold, MINHASH_MAX_BUCKET)
    intra = dedup_survivors(new_docs, intra_pairs, id_col)

    # Stage 2: estimated dedup against the historical signatures.
    est = signature_jaccard_estimate(new_sigs, corpus_signatures)
    dup_of_old = (
        est.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id1").alias(id_col))
        .distinct()
    )
    survivors = intra.join(dup_of_old, id_col, "left_anti")
    survivor_sigs = new_sigs.join(
        survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    return survivors, survivor_sigs


def strip_boilerplate(
    docs: DataFrame,
    min_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb curation
    stage): drop every line that appears in >= ``min_df`` DISTINCT
    documents — headers, footers, cookie banners, nav chrome — and
    rebuild each document from its surviving lines in original order.

    Returns (id, clean_text, n_lines_kept, n_lines_dropped); documents
    whose every line is boilerplate survive with an empty clean_text
    (callers typically quality-filter afterwards).

    Scale shape: lines shuffle keyed by md5(line) — 32 fixed chars
    regardless of line length, effectively collision-free (2^128) and
    engine-portable (the DuckDB oracle reproduces the same keys).  The
    document-frequency table is distinct-line-sized; the rebuild is one
    groupBy(id) with an in-memory array_sort over that document's
    surviving (pos, line) structs — per-document state only, no window.

    ``line_sep`` must be a literal, regex-safe separator (default
    newline): Spark's ``split`` interprets it as a REGEX while the
    rebuild's ``array_join`` uses it literally, so a metacharacter
    separator would split and rejoin asymmetrically.
    """
    lines = docs.select(
        F.col(id_col).alias("id"),
        # null text behaves as one empty line (posexplode of a null array
        # would silently DROP the document)
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), line_sep)).alias(
            "pos", "line"
        ),
    ).withColumn("h", F.md5(F.col("line")))
    df_counts = lines.groupBy("h").agg(F.countDistinct("id").alias("df"))
    common = df_counts.filter(F.col("df") >= min_df).select("h")
    flagged = lines.join(common.withColumn("__common", F.lit(1)), "h", "left")
    rebuilt = flagged.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__common").isNull(),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            line_sep,
        ).alias("clean_text"),
        F.sum(F.when(F.col("__common").isNull(), 1).otherwise(0)).alias("n_lines_kept"),
        F.sum(F.when(F.col("__common").isNull(), 0).otherwise(1)).alias("n_lines_dropped"),
    )
    return rebuilt.select(
        F.col("id").alias(id_col), "clean_text", "n_lines_kept", "n_lines_dropped"
    )


def repeated_ngram_coverage(
    docs: DataFrame,
    n: int = 10,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, covered_tokens, coverage_frac): per document, the
    fraction of tokens inside at least one ``n``-token window whose
    exact text occurs >= ``min_count`` times across the corpus
    (within-document repeats included) — the repeated-substring signal
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), which document-level dedup cannot see: two mostly
    distinct documents sharing a long quoted passage score high here and
    0 on whole-doc hashes.

    Plan: one windowed explode per start position (narrow), md5 window
    keys (32 fixed chars) counted globally, flagged windows joined back
    by key, then each flagged window re-explodes to its ``n`` covered
    positions and a per-doc distinct count closes it.  Shuffled data is
    window keys and (doc, position) ints only — never text; the n×
    position blowup applies ONLY to flagged (repeated) windows.
    Documents shorter than ``n`` tokens have no windows: coverage 0.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    from bigdata_hits_spark.sources.readers import spread_small_scan

    # The per-position md5-window fan-out below is the heavy per-row
    # map; spread a single-row-group scan first (no-op at scale; r13).
    docs = spread_small_scan(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")), "id"
    )
    toks = docs.select(
        "id",
        F.split(F.coalesce(F.col("__t"), F.lit("")), " ").alias("tk"),
    ).withColumn("n_tokens", F.size("tk"))
    wins = toks.filter(F.col("n_tokens") >= n).select(
        "id",
        "tk",
        F.explode(F.sequence(F.lit(0), F.col("n_tokens") - n)).alias("pos"),
    ).select(
        "id",
        "pos",
        F.md5(F.array_join(F.slice("tk", F.col("pos") + 1, n), " ")).alias("h"),
    )
    counts = wins.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    flagged = wins.join(
        counts.filter(F.col("c") >= min_count).select("h"), "h", "left_semi"
    )
    covered = (
        flagged.select(
            "id", F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("p")
        )
        .groupBy("id")
        .agg(F.countDistinct("p").alias("covered_tokens"))
    )
    return (
        toks.select("id", "n_tokens")
        .join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("covered_tokens"), F.lit(0)).alias("covered_tokens"),
            F.round(
                F.coalesce(F.col("covered_tokens"), F.lit(0)) / F.col("n_tokens"), 7
            ).alias("coverage_frac"),
        )
    )


def remove_repeated_spans(
    docs: DataFrame,
    n: int = 10,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, clean_text, n_tokens, removed_tokens): excise repeated
    ``n``-token spans, keeping their FIRST occurrence — the action
    counterpart of :func:`repeated_ngram_coverage` (Lee et al. 2022
    keep-one semantics, approximated at token-window granularity).

    Per repeated window key the globally minimal (id, pos) occurrence
    survives; every token covered by a non-surviving occurrence is
    dropped and each document is rebuilt from its remaining tokens in
    order.  Overlap rule: a token survives only if NO non-surviving
    repeated window covers it.  Same movement contract as the coverage
    scorer plus one (id, pos)-keyed anti-join and the per-doc rebuild
    (array_sort of surviving (pos, token) structs — no window function).
    """
    if n <= 0:
        raise ValueError("n must be positive")
    docs = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    toks = docs.select(
        "id",
        F.split(F.coalesce(F.col("__t"), F.lit("")), " ").alias("tk"),
    ).withColumn("n_tokens", F.size("tk"))
    wins = (
        toks.filter(F.col("n_tokens") >= n)
        .select(
            "id",
            "tk",
            F.explode(F.sequence(F.lit(0), F.col("n_tokens") - n)).alias("pos"),
        )
        .select(
            "id",
            "pos",
            F.md5(F.array_join(F.slice("tk", F.col("pos") + 1, n), " ")).alias("h"),
        )
    )
    counts = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct("id", "pos")).alias("first"),
    )
    repeated = counts.filter(F.col("c") >= min_count).select("h", "first")
    losers = wins.join(repeated, "h").filter(
        (F.col("id") != F.col("first.id")) | (F.col("pos") != F.col("first.pos"))
    )
    drop_pos = (
        losers.select("id", F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("p"))
        .distinct()
    )
    exploded = toks.select("id", "n_tokens", F.posexplode("tk").alias("p", "tok"))
    kept = exploded.join(drop_pos, ["id", "p"], "left_anti")
    rebuilt = kept.groupBy("id", "n_tokens").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("kept_tokens"),
    )
    base = toks.select("id", "n_tokens")
    return base.join(rebuilt.drop("n_tokens"), "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("kept_tokens"), F.lit(0))).alias(
            "removed_tokens"
        ),
    )


def levenshtein_neardup_pairs(
    df: DataFrame,
    col: str = "text",
    max_dist: int = 2,
    block: Column | None = None,
) -> DataFrame:
    """(name_a, name_b, dist): pairs of DISTINCT ``col`` values within
    ``max_dist`` character edits — the edit-distance dedup modality for
    SHORT strings (titles, product names, entity labels), where
    shingle/MinHash similarity is meaningless because a 1-char typo in a
    9-char name destroys most shingles.  Exact duplicates of the same
    value are exact_duplicates' job; this finds the near-misses.

    Candidate generation is the length-band join: two strings within
    edit distance d differ in length by at most d (each edit changes
    length by at most 1), so the index side replicates each value to the
    ``d+1`` length keys [len .. len+d] and the probe side joins at its
    own length — an equi-join whose candidates are COMPLETE (no true
    pair can escape) with each unordered pair produced exactly once:
    unequal lengths pair only as (longer probe, shorter index), equal
    lengths are halved by the lexicographic tiebreak.  The O(len_a *
    len_b) levenshtein verify runs only on candidates.

    At corpus scale, length alone is a weak blocker (all ~10-char names
    collide); pass ``block`` — an expression over the value, e.g.
    ``F.substring(F.col('name'), 1, 1)`` or a phonetic key — to AND a
    second equi-key into the candidate join.  That trades completeness
    (a typo in the blocked prefix escapes) for candidate sparsity, the
    standard blocking bargain; the default stays complete.

    Output is canonical: name_a < name_b lexicographically, one row per
    pair, ``dist`` the exact edit distance.
    """
    vals = df.select(F.col(col).alias("name")).filter(F.col("name").isNotNull()).distinct()
    vals = vals.withColumn("__len", F.length("name"))
    if block is not None:
        vals = vals.withColumn("__blk", block)
    idx = vals.select(
        F.col("name").alias("name_b"),
        F.col("__len").alias("__len_b"),
        *([F.col("__blk").alias("__blk_b")] if block is not None else []),
        F.explode(
            F.sequence(F.col("__len"), F.col("__len") + F.lit(max_dist))
        ).alias("__key_len"),
    )
    probe = vals.select(
        F.col("name").alias("name_a"),
        F.col("__len").alias("__len_a"),
        *([F.col("__blk").alias("__blk_a")] if block is not None else []),
        F.col("__len").alias("__key_len"),
    )
    on = [probe["__key_len"] == idx["__key_len"]]
    if block is not None:
        on.append(F.col("__blk_a") == F.col("__blk_b"))
    once = (F.col("__len_a") > F.col("__len_b")) | (
        (F.col("__len_a") == F.col("__len_b")) & (F.col("name_a") < F.col("name_b"))
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        probe.join(idx, on)
        .filter(once)
        .filter(dist <= max_dist)
        .select(
            F.least("name_a", "name_b").alias("name_a"),
            F.greatest("name_a", "name_b").alias("name_b"),
            dist.cast("long").alias("dist"),
        )
    )


def dedup_rate_by_group(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 6,
) -> DataFrame:
    """Per-group exact-duplicate pressure: ``(group, n_docs, n_unique,
    dup_rate)`` where ``n_unique`` counts distinct text hashes WITHIN
    the group and ``dup_rate = 1 - n_unique / n_docs`` — the one-line
    answer to "which source is flooding us with copies", read before
    choosing per-source near-dup budgets and mixture weights.

    Counted within-group on purpose: cross-group duplication is the
    survivor election's business (:func:`exact_duplicates` +
    components); this report attributes copy pressure to the source
    that EMITS it.  Plan: one hash agg keyed by (group, md5) — bodies
    never shuffle, the md5 collapses map-side — then a group-sized agg;
    exact integers throughout, the division is the only float."""
    per_text = docs.groupBy(
        F.col(group_col).alias("grp"), F.md5(F.col(text_col)).alias("__h")
    ).agg(F.count(F.lit(1)).alias("__n"))
    return per_text.groupBy("grp").agg(
        F.sum("__n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.round(
            F.lit(1.0) - F.count(F.lit(1)) / F.sum("__n"), digits
        ).alias("dup_rate"),
    ).select(F.col("grp").alias(group_col), "n_docs", "n_unique", "dup_rate")


def duplicated_ngram_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    digits: int = 7,
) -> DataFrame:
    """(id, n_shingles, n_dup, dup_fraction): per-document fraction of
    its distinct k-word shingles that also occur in at least
    ``min_docs - 1`` OTHER documents — the span-level duplication signal
    behind substring-dedup decisions (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a high fraction with
    no full-document near-dup match marks boilerplate-heavy or
    template-stitched text that pairwise dedup keeps.

    Plan: the per-doc-distinct shingle postings hash to portable md5
    longs, ONE long-keyed hash agg counts each shingle's document
    frequency (per-doc-distinct input makes COUNT(*) == distinct-doc
    count), the df relation joins back on the same long key, and one
    id-keyed agg folds the per-doc counts — two narrow exchanges on
    longs, never on shingle strings; docs shorter than the shingle
    width surface with zero counts via the left join (full-corpus
    output, like every per-doc profile).  All counts are exact
    integers; the final division is the only float, bit-identical
    across engines."""
    from bigdata_hits_spark.functions.text import token_hash

    # The postings feed the df count AND the join back: pin the shingles
    # once so the shingler runs once per document.
    sh = (
        shingle_arrays(docs, id_col, text_col)
        .localCheckpoint(eager=False)
        .select("id", F.explode("shs").alias("shingle"))
    )
    tok = sh.select("id", token_hash(F.col("shingle")).alias("__h"))
    dfc = tok.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    per = (
        tok.join(dfc, "__h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("__df") >= min_docs, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup"),
            F.round(
                F.coalesce(F.col("n_dup") / F.col("n_shingles"), F.lit(0.0)),
                digits,
            ).alias("dup_fraction"),
        )
    )


def dedup_savings(
    docs: DataFrame,
    components: DataFrame,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """(component, n_docs, tokens_total, tokens_saved): per near-dup
    family, how many tokens dedup-to-one-survivor would remove — the
    ROI readout that decides whether a corpus is worth the dedup pass
    at all, and which sources to prioritize.  Survivor = the smallest
    id (the election convention throughout this module); only multi-doc
    families appear (singletons save nothing — change-sized output).

    ``docs`` carries (id, token count); ``components`` is the
    (id, component) relation from the pair-detection machinery.  One
    id-keyed left join (docs outside any family form singleton
    families and drop at the n_docs > 1 filter) + one component-keyed
    hash agg; exact integers throughout."""
    comp = components.select(
        F.col("id").alias(id_col), F.col("component").alias("__comp")
    )
    j = docs.select(F.col(id_col), F.col(token_col).alias("__n")).join(
        comp, id_col, "left"
    )
    return (
        j.groupBy(F.coalesce(F.col("__comp"), F.col(id_col)).alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("tokens_total"),
            (F.sum("__n") - F.min_by("__n", F.col(id_col))).alias("tokens_saved"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_duplicates_normalized(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup over CANONICALIZED text (functions/text.py
    canonicalize_text: lowercase, punctuation/whitespace collapse) — the
    standard first tightening of byte-exact dedup in web-corpus
    curation: case/punctuation/whitespace variants of the same document
    collapse into one family without any near-dup machinery.  Same plan
    as :func:`exact_duplicates`: only the 32-char md5 of the canonical
    form shuffles, never document bodies."""
    from bigdata_hits_spark.functions.text import canonicalize_text

    return (
        docs.groupBy(F.md5(canonicalize_text(F.col(text_col))).alias("text_hash"))
        .agg(F.min(F.col(id_col)).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


#: Position capacity for the winnowing min-key encoding: key =
#: hash * WINNOW_POSCAP + (WINNOW_POSCAP - 1 - pos) packs (hash asc,
#: pos desc) into ONE int64 so a plain windowed MIN implements
#: "smallest hash, rightmost on ties" — the classic winnowing tie rule —
#: identically in any engine with integer windows.  hash < 2^32 and
#: pos < 2^20 keep the product under 2^52; documents longer than ~1M
#: tokens should go through chunk_documents first (the same bound the
#: fingerprint literature assumes — fingerprinting operates on
#: passage-sized units).
WINNOW_POSCAP = 1 << 20


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, fp, pos): winnowing fingerprint selection (Schleimer,
    Wilkerson & Aiken 2003 — the MOSS scheme): hash every k-gram, slide
    a w-window over the hash sequence, and keep each window's minimum
    (rightmost on ties).  Guarantees every match of length >= w + k - 1
    shares at least one selected fingerprint, at ~2/(w+1) the storage of
    the full hash sequence — the local, position-aware fingerprinting
    layer between exact hashing (doc_fingerprint) and set-based MinHash.

    Portable by construction: the (hash asc, pos desc) tie rule is
    packed into one int64 key (see ``WINNOW_POSCAP``) so the selection
    is a windowed MIN any engine reproduces bit-for-bit.  Documents with
    fewer than ``w`` k-grams contribute their single global minimum
    (the pos-0 partial window); shorter than ``k`` contribute nothing.

    Scale shape: one explode to (id, pos, hash) rows, one per-doc
    window pass (partitioned by id — no global sort), one distinct on
    the compact selected keys.  Only 8-byte keys shuffle, never text."""
    from bigdata_hits_spark.functions.text import token_hash
    from bigdata_hits_spark.operators.textstats import _ngram_terms
    from bigdata_hits_spark.sources.readers import spread_small_scan

    cap = WINNOW_POSCAP
    # The k-gram transform below runs in Catalyst's HOF interpreter —
    # the expensive per-row map — so spread a single-row-group scan
    # first (no-op on real multi-split inputs; r13).
    docs = spread_small_scan(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")), "id"
    )
    grams = docs.select(
        "id",
        F.posexplode(_ngram_terms("__t", k)).alias("pos", "gram"),
    )
    # Fail LOUDLY on pos >= WINNOW_POSCAP: a document with >= 2^20
    # k-grams would silently corrupt the (hash asc, pos desc) packing
    # (the pos offset underflows into the adjacent hash slot).  The
    # guard rides the key expression as a null-on-success term, so it
    # costs one JVM comparison per row and no extra plan node.
    guard = F.assert_true(
        F.col("pos") < F.lit(cap),
        F.concat(
            F.lit("winnow_fingerprints: k-gram position "),
            F.col("pos").cast("string"),
            F.lit(f" >= WINNOW_POSCAP ({cap}); chunk over-long documents first"),
        ),
    )
    key = (
        token_hash(F.col("gram")) * F.lit(cap)
        + (F.lit(cap - 1) - F.col("pos"))
        + F.coalesce(guard.cast("long"), F.lit(0))
    )
    wspec = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    nspec = Window.partitionBy("id")
    sel = (
        grams.select("id", "pos", key.alias("key"))
        .select(
            "id",
            "pos",
            F.min("key").over(wspec).alias("wmin"),
            F.count(F.lit(1)).over(nspec).alias("n"),
        )
        .filter(F.col("pos") <= F.greatest(F.col("n") - F.lit(w), F.lit(0)))
    )
    return (
        sel.select(
            "id",
            F.expr(f"wmin div {cap}").alias("fp"),
            (F.lit(cap - 1) - F.expr(f"wmin % {cap}")).alias("pos"),
        )
        .distinct()
    )


def winnow_dup_report(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 7,
) -> DataFrame:
    """(id, n_fp, n_shared, shared_frac): per-document share of winnowed
    fingerprints that also appear in at least one OTHER document — the
    MOSS-style copied-content readout built on
    :func:`winnow_fingerprints` (a positional complement to
    duplicated_ngram_profile: winnowing samples ~2/(w+1) of the n-grams
    with a locality guarantee, so the report costs a fraction of the
    full-shingle profile at scale).

    Two narrow aggregations over the selected 8-byte fingerprints: a
    doc-frequency count per fp and a per-doc rollup — change-sized
    state, no text movement."""
    fps = winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col).select(
        "id", "fp"
    ).distinct()
    dfq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("dfq"))
    shared = F.sum((F.col("dfq") > 1).cast("long")).alias("n_shared")
    return (
        fps.join(dfq, "fp")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_fp"), shared)
        .select(
            "id",
            "n_fp",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_fp"), digits).alias("shared_frac"),
        )
    )


def winnow_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.35,
    k: int = 4,
    w: int = 4,
    max_df: int = WINNOW_MAX_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 7,
) -> DataFrame:
    """(id1, id2, jaccard): near-duplicate pairs by winnowed-fingerprint
    Jaccard — the MOSS pairing step on top of
    :func:`winnow_fingerprints`.  Same candidates-then-verify shape as
    MinHash-LSH, but the signature is POSITION-AWARE (any shared run of
    >= w + k - 1 tokens guarantees a shared fingerprint), so it catches
    the copied-passage pairs set-based MinHash dilutes when the copied
    span is a small fraction of a long document — the two arms screen
    complementary duplication modes.

    Scale shape: candidates come from a self-join on the 8-byte
    fingerprint value, and ``max_df`` bounds every posting list — a
    fingerprint appearing in more than ``max_df`` documents (shared
    boilerplate) is dropped from the pair sets BEFORE the self-join,
    the fp analogue of the :func:`ngram_jaccard_pairs` stop-shingle
    cap, so no bucket can go quadratic at any corpus scale.  The
    Jaccard is therefore over DISCRIMINATIVE fingerprints only (sizes
    and intersections both use the df-filtered sets — a well-defined
    semantic both engines reproduce).  The verify is one
    (id1, id2)-keyed count over candidate intersections joined against
    two per-doc size aggregates.  Only ids and 8-byte fps shuffle,
    never text."""
    # the raw selection feeds the df count AND the semi-join, and the
    # df-filtered sets feed sizes plus both self-join sides: pin each
    # once (lazy localCheckpoint, 16 bytes/row) so the window pass
    # never recomputes per reference.
    allf = winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col).select(
        "id", "fp"
    ).distinct().localCheckpoint(eager=False)
    dfc = allf.groupBy("fp").agg(F.count(F.lit(1)).alias("dfq"))
    fps = allf.join(
        dfc.filter(F.col("dfq") <= max_df).select("fp"), "fp", "left_semi"
    ).localCheckpoint(eager=False)
    sizes = fps.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = fps.select(F.col("id").alias("id1"), "fp")
    b = fps.select(F.col("id").alias("id2"), "fp")
    inter = (
        a.join(b, "fp")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    z1 = sizes.select(F.col("id").alias("id1"), F.col("n").alias("n1"))
    z2 = sizes.select(F.col("id").alias("id2"), F.col("n").alias("n2"))
    return (
        inter.join(z1, "id1")
        .join(z2, "id2")
        .select(
            "id1",
            "id2",
            F.round(
                F.col("n_inter")
                / (F.col("n1") + F.col("n2") - F.col("n_inter")),
                digits,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
