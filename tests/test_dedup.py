"""Dedup family tests: exact, n-gram Jaccard, MinHash-LSH, SimHash —
verified against brute-force python oracles on small corpora."""

import itertools

import pytest
from pyspark.sql import functions as F

from cello_spark.operators import dedup as D

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup
    (4, "a completely different document about spark engines"),
    (5, "A  Completely   different document about spark engines"),  # ws/case dup of 4
    (6, "the quick brown fox jumps over the lazy dog today"),  # near dup of 1
    (7, "knowledge graphs need entity linking and canonicalization"),
]


def _jaccard_oracle(n=3, threshold=0.0):
    def sh(text):
        toks = " ".join(text.lower().split()).split()
        if len(toks) < n:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    out = {}
    for (ia, ta), (ib, tb) in itertools.combinations(CORPUS, 2):
        a, b = sh(ta), sh(tb)
        if not a or not b:
            continue
        j = len(a & b) / len(a | b)
        if j >= threshold:
            out[(min(ia, ib), max(ia, ib))] = j
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string").cache()


def test_exact_duplicates(spark, docs):
    groups = D.exact_duplicates(docs).collect()
    got = {tuple(g.dup_ids) for g in groups}
    assert got == {(1, 2), (4, 5)}  # normalization folds case/whitespace
    assert all(g.n_ids_omitted == 0 for g in groups)
    kept = D.dedup_exact(docs)
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4, 6, 7}


def test_exact_duplicates_hub_fingerprint_capped(spark):
    """A fingerprint group with 50k copies must NOT materialize a 50k
    array row: dup_ids is capped at max_ids with an explicit omitted
    count (a truly hub-sized group additionally routes the membership
    cap through the two-phase top-k per the skew probe)."""
    n = 50_000
    hub = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("same boilerplate page").alias("text")
    )
    other = spark.createDataFrame(
        [(n + 1, "unique a"), (n + 2, "unique b")], "doc_id long, text string"
    )
    out = D.exact_duplicates(hub.unionByName(other), max_ids=7).collect()
    assert len(out) == 1
    g = out[0]
    assert g.n_dups == n
    assert g.keep_id == 0
    assert len(g.dup_ids) == 7
    assert g.n_ids_omitted == n - 7
    assert sorted(g.dup_ids) == list(g.dup_ids)
    assert set(g.dup_ids) <= set(range(n))


def test_exact_duplicates_two_phase_cap_matches_window(spark):
    """Force the two-phase capped_per_group route inside
    exact_duplicates (hub_rows below the group size) and assert its
    output is row-identical to the single-window path on the same
    input — the phase-1 pre-cap may never evict a globally-top-max_ids
    member."""
    n = 5_000
    hub = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate page").alias("text"),
    )
    docs2 = hub.unionByName(
        spark.createDataFrame(
            [(n + 1, "unique a"), (n + 2, "unique b"), (n + 3, "unique a")],
            "doc_id long, text string",
        )
    )
    two_phase = D.exact_duplicates(docs2, max_ids=7, hub_rows=100).collect()
    window = D.exact_duplicates(docs2, max_ids=7).collect()
    assert sorted(
        [(r.fingerprint, r.n_dups, r.keep_id, tuple(r.dup_ids), r.n_ids_omitted) for r in two_phase]
    ) == sorted(
        [(r.fingerprint, r.n_dups, r.keep_id, tuple(r.dup_ids), r.n_ids_omitted) for r in window]
    )
    hub_row = [r for r in two_phase if r.n_dups == n][0]
    assert hub_row.dup_ids == list(range(7))
    assert hub_row.n_ids_omitted == n - 7


def test_ngram_jaccard_pairs(spark, docs):
    got = {
        (r.a, r.b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, n=3).collect()
    }
    want = {k: v for k, v in _jaccard_oracle(3, 0.0).items() if v >= 0.3}
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_minhash_lsh_verified_subset_of_exact(spark, docs):
    """With exact verification on, LSH output values are exact Jaccard
    and every returned pair is a true ≥-threshold pair."""
    got = {
        (r.a, r.b): r.jaccard
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, n=3, num_hashes=64, bands=32
        ).collect()
    }
    truth = {k: v for k, v in _jaccard_oracle(3, 0.0).items() if v >= 0.5}
    assert set(got) <= set(truth)
    for k, v in got.items():
        assert abs(v - truth[k]) < 1e-9
    # with 32 bands of 2 rows, P(miss) for J≥0.8 is ~(1-0.64)^32 ≈ 1e-14:
    # the exact-dup pair and strong near-dups must be found
    assert (1, 2) in got and (4, 5) in got


def test_minhash_candidates_without_verify(spark, docs):
    cands = {
        (r.a, r.b)
        for r in D.minhash_lsh_pairs(
            docs, n=3, num_hashes=64, bands=32, verify=False
        ).collect()
    }
    assert (1, 2) in cands  # identical docs always collide in every band


def test_simhash_identical_and_banding(spark, docs):
    sh = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    assert sh[1] == sh[2]  # identical text → identical simhash
    assert sh[4] == sh[5]  # normalization folds case/whitespace
    pairs = {
        (r.a, r.b): r.hamming
        for r in D.simhash_pairs(docs, max_hamming=12, n_bands=16).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert pairs.get((4, 5)) == 0
    # near-dups land at small hamming distance
    assert (1, 3) in pairs or (1, 6) in pairs


def test_simhash_pairs_complete_under_pigeonhole(spark, docs):
    """Banding must not miss any pair within max_hamming: compare
    against the all-pairs oracle computed from simhash values."""
    sh = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    max_h = 7
    want = set()
    for a, b in itertools.combinations(sorted(sh), 2):
        if bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= max_h:
            want.add((a, b))
    got = {
        (r.a, r.b)
        for r in D.simhash_pairs(docs, max_hamming=max_h, n_bands=8).collect()
    }
    assert got == want


def test_dedup_on_testdata_documents(spark):
    """Smoke on the driver-provided TPC-H-ish documents table."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = D.dedup_exact(docs)
    assert kept.count() <= docs.count()
    groups = D.exact_duplicates(docs)
    # exact_duplicates and dedup_exact must agree on the removal count
    removed = docs.count() - kept.count()
    agg = groups.agg(F.sum(F.col("n_dups") - 1).alias("r")).collect()[0].r
    assert (agg or 0) == removed


# ---------------------------------------------------------------------------
# Portable md5-prefix hash strategy (DuckDB-replicable; used by the
# driver oracle queries) — verified here against an INDEPENDENT pure
# python hashlib oracle, so Spark / DuckDB / python triangulate.
# ---------------------------------------------------------------------------


def _py_h64(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _py_tokens(text: str) -> list[str]:
    return " ".join(text.lower().split()).split()


def test_portable_minhash_signatures_vs_hashlib(spark, docs):
    """Engine md5-strategy signatures == pure-python hashlib oracle."""
    p = (1 << 31) - 1
    coeffs = D.minhash_coeffs(8, 42)
    sh = D.shingles(docs, n=3)
    sig = {
        r.doc_id: list(r.sig)
        for r in D.minhash_signatures(sh, num_hashes=8, seed=42,
                                      hash_strategy="md5").collect()
    }
    for doc_id, text in CORPUS:
        toks = _py_tokens(text)
        if not toks:
            continue
        if len(toks) >= 3:
            shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        else:
            shingles = {" ".join(toks)}
        hs = [_py_h64(s) % p for s in shingles]
        want = [min((a * h + b) % p for h in hs) for a, b in coeffs]
        assert sig[doc_id] == want, doc_id


def test_portable_simhash_vs_hashlib(spark, docs):
    """Engine md5-strategy simhash == pure-python hashlib oracle
    (bits 60-63 always 0 with the 60-bit portable hash)."""
    got = {
        r.doc_id: r.simhash
        for r in D.simhash(docs, hash_strategy="md5").collect()
    }
    for doc_id, text in CORPUS:
        toks = _py_tokens(text)
        if not toks:
            continue
        want = 0
        for b in range(64):
            votes = sum(1 if (_py_h64(t) >> b) & 1 else -1 for t in toks)
            if votes > 0:
                want |= 1 << b
        assert got[doc_id] == want, doc_id
        assert got[doc_id] >> 60 == 0


def test_portable_minhash_pairs_subset_of_exact(spark, docs):
    got = {
        (r.a, r.b): r.jaccard
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, n=3, num_hashes=64, bands=32,
            hash_strategy="md5",
        ).collect()
    }
    truth = {k: v for k, v in _jaccard_oracle(3, 0.0).items() if v >= 0.5}
    assert set(got) <= set(truth)
    for k, v in got.items():
        assert abs(v - truth[k]) < 1e-9
    assert (1, 2) in got and (4, 5) in got


# ---------------------------------------------------------------------------
# Cross-corpus dedup
# ---------------------------------------------------------------------------

LEFT_CORPUS = [(i, t) for i, t in CORPUS if i % 2 == 1]
RIGHT_CORPUS = [(i + 100, t) for i, t in CORPUS if i % 2 == 0]


def _cross_jaccard_oracle(n=3, threshold=0.0):
    def sh(text):
        toks = " ".join(text.lower().split()).split()
        if len(toks) < n:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    out = {}
    for ia, ta in LEFT_CORPUS:
        for ib, tb in RIGHT_CORPUS:
            a, b = sh(ta), sh(tb)
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if j >= threshold:
                out[(ia, ib)] = j
    return out


def test_jaccard_pairs_cross_vs_oracle(spark):
    left = spark.createDataFrame(LEFT_CORPUS, "doc_id long, text string")
    right = spark.createDataFrame(RIGHT_CORPUS, "doc_id long, text string")
    got = {
        (r.a, r.b): r.jaccard
        for r in D.jaccard_pairs_cross(left, right, threshold=0.15).collect()
    }
    want = _cross_jaccard_oracle(threshold=0.15)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_minhash_cross_subset_and_recall(spark):
    left = spark.createDataFrame(LEFT_CORPUS, "doc_id long, text string")
    right = spark.createDataFrame(RIGHT_CORPUS, "doc_id long, text string")
    exact = _cross_jaccard_oracle(threshold=0.5)
    got = {
        (r.a, r.b): r.jaccard
        for r in D.minhash_lsh_pairs_cross(
            left, right, threshold=0.5, num_hashes=64, bands=16
        ).collect()
    }
    # verified output is a subset of the exact cross pairs, with exact
    # jaccard values
    for k, j in got.items():
        assert k in exact and abs(j - exact[k]) < 1e-12
    # at 16 bands x 4 rows, P(candidate | J>=0.8) > 0.999 — the dup
    # pair (1, 102) J=1.0 must be found
    assert (1, 102) in got


def test_cross_cap_drops_union_boilerplate(spark):
    """A shingle whose union doc-frequency exceeds the cap is dropped
    from both sides even when per-side df is under the cap."""
    boiler = "shared boilerplate header line"
    left = spark.createDataFrame(
        [(i, boiler) for i in range(3)], "doc_id long, text string"
    )
    right = spark.createDataFrame(
        [(100 + i, boiler) for i in range(3)], "doc_id long, text string"
    )
    # union df = 6 > cap 5 → no shingles survive → no pairs
    none = D.jaccard_pairs_cross(
        left, right, threshold=0.1, max_shingle_df=5
    ).collect()
    assert none == []
    # cap 6 keeps them → full 3x3 pair grid at J=1
    full = D.jaccard_pairs_cross(
        left, right, threshold=0.1, max_shingle_df=6
    ).collect()
    assert len(full) == 9 and all(abs(r.jaccard - 1.0) < 1e-12 for r in full)


def test_dedup_ops_tokenize_each_input_once(spark):
    """Each shingle-based pair operator reads and tokenizes each input
    row exactly once: the text passes through a Python identity UDF
    that counts its evaluations."""
    evals = spark.sparkContext.accumulator(0)

    def count(text):
        evals.add(1)
        return text

    counted = F.udf(count, "string")

    def wrap(rows):
        return spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id", counted("text").alias("text")
        )

    ops = {
        "minhash_lsh_pairs": lambda: D.minhash_lsh_pairs(
            wrap(CORPUS), threshold=0.5, num_hashes=64, bands=32
        ),
        "ngram_jaccard_pairs": lambda: D.ngram_jaccard_pairs(
            wrap(CORPUS), threshold=0.3
        ),
        "jaccard_pairs_cross": lambda: D.jaccard_pairs_cross(
            wrap(LEFT_CORPUS), wrap(RIGHT_CORPUS), threshold=0.15
        ),
        "minhash_lsh_pairs_cross": lambda: D.minhash_lsh_pairs_cross(
            wrap(LEFT_CORPUS), wrap(RIGHT_CORPUS), threshold=0.5,
            num_hashes=64, bands=16,
        ),
    }
    for name, op in ops.items():
        evals.value = 0
        assert op().collect(), name
        assert evals.value == len(CORPUS), name


# a 3-gram in max_shingle_df + 1 docs: the cap drops it, which lowers
# docs 1-4's set sizes, lifts (1, 5) and (3, 6) to >= 0.5 and leaves
# (3, 4) — sharing only the boilerplate — with no common shingle
HUB_MAX_DF = 3
HUB_CORPUS = [
    (1, "copyright acme corp alpha beta gamma delta epsilon"),
    (2, "copyright acme corp alpha beta gamma delta zeta"),
    (3, "copyright acme corp one two three four five"),
    (4, "copyright acme corp six seven eight nine ten"),
    (5, "alpha beta gamma delta epsilon"),
    (6, "one two three four five six"),
]


def _capped_jaccard_oracle(corpus, max_df, threshold, n=3):
    sets = {}
    for i, text in corpus:
        toks = _py_tokens(text)
        sets[i] = {" ".join(toks[k:k + n]) for k in range(len(toks) - n + 1)}
    df = {}
    for s in sets.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    capped = {i: {g for g in s if df[g] <= max_df} for i, s in sets.items()}
    out = {}
    for a, b in itertools.combinations(sorted(capped), 2):
        common = len(capped[a] & capped[b])
        if common:
            j = common / (len(capped[a]) + len(capped[b]) - common)
            if j >= threshold:
                out[(a, b)] = j
    return out


def test_self_join_cap_drops_hub_shingle(spark):
    """The self-join family's shingle cap: pairs and Jaccard values are
    over the capped sets, with set sizes counted after the cap."""
    docs = spark.createDataFrame(HUB_CORPUS, "doc_id long, text string")
    uncapped = _capped_jaccard_oracle(HUB_CORPUS, len(HUB_CORPUS), 0.01)
    for threshold in (0.01, 0.5):
        want = _capped_jaccard_oracle(HUB_CORPUS, HUB_MAX_DF, threshold)
        assert want != {k: v for k, v in uncapped.items() if v >= threshold}
        runs = {
            "ngram": D.ngram_jaccard_pairs(
                docs, threshold=threshold, max_shingle_df=HUB_MAX_DF
            ),
        }
        if threshold == 0.5:
            # 64 bands of 2 rows: P(miss | J >= 0.5) <= 0.75^64 ~ 1e-8
            runs["minhash"] = D.minhash_lsh_pairs(
                docs, threshold=threshold, num_hashes=128, bands=64,
                max_shingle_df=HUB_MAX_DF, verify=True,
            )
        for name, df in runs.items():
            got = {(r.a, r.b): r.jaccard for r in df.collect()}
            assert set(got) == set(want), (name, threshold)
            for k, j in want.items():
                assert abs(got[k] - j) < 1e-12, (name, k)
    assert (3, 4) in uncapped
    assert _capped_jaccard_oracle(HUB_CORPUS, HUB_MAX_DF, 0.5) == {
        (1, 2): 4 / 6, (1, 5): 3 / 5, (3, 6): 3 / 6,
    }


# ---------------------------------------------------------------------------
# Paragraph-level dedup
# ---------------------------------------------------------------------------

PARA_DOCS = [
    (1, "alpha beta\nshared boiler plate\ngamma delta"),
    (2, "shared boiler plate\nunique two\nShared  Boiler Plate"),  # dup of 1's kept + case/ws dup
    (3, "unique three\nshared boiler plate"),
    (4, ""),                                    # empty doc
    (5, "\n\n"),                                # only empty paragraphs
    (6, "alpha beta"),                          # dup of doc 1 pos 0
]


def _para_oracle():
    def norm(p):
        return " ".join(p.lower().split())

    first = {}
    for doc_id, text in PARA_DOCS:
        for pos, para in enumerate(text.split("\n")):
            if not para.strip():
                continue
            k = norm(para)
            if k not in first or (doc_id, pos) < first[k]:
                first[k] = (doc_id, pos)
    out = {}
    for doc_id, text in PARA_DOCS:
        paras = [
            (pos, p) for pos, p in enumerate(text.split("\n")) if p.strip()
        ]
        kept = [p for pos, p in paras if first[norm(p)] == (doc_id, pos)]
        out[doc_id] = (len(paras), len(kept), "\n".join(kept))
    return out


def test_dedup_paragraphs_vs_oracle(spark):
    df = spark.createDataFrame(PARA_DOCS, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_paragraphs, r.n_kept, r.text_deduped)
        for r in D.dedup_paragraphs(df).collect()
    }
    assert got == _para_oracle()
    # spot-pin the semantics: doc 1 keeps everything (first occurrence),
    # doc 2 loses both copies of the boilerplate, doc 6 loses its only line
    assert got[1] == (3, 3, "alpha beta\nshared boiler plate\ngamma delta")
    assert got[2] == (3, 1, "unique two")
    assert got[4] == (0, 0, "")
    assert got[5] == (0, 0, "")
    assert got[6] == (1, 0, "")
